"""Regenerate ``golden.json``: the normalized result hash of every workload
query, computed by running the query's registered DuckDB oracle SQL over
the vendored sf0.1 tables.

    python3 perfbench/make_golden.py

Run from the repository root. The benchmark itself never runs DuckDB: its
warm-up pass compares the engine's results against the hashes stored here
and reports any mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import golden  # noqa: E402
import workloads  # noqa: E402

GOLDEN_PATH = os.path.join(HERE, "golden.json")


def oracle_hashes(names: list[str]) -> dict[str, dict]:
    from __spark_entry__ import oracle_sql

    oracle = oracle_sql()
    con = duckdb.connect()
    for fname in sorted(os.listdir(workloads.SF_DIR)):
        table = fname.removesuffix(".parquet")
        path = os.path.join(workloads.SF_DIR, fname)
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
        )
    out = {}
    for name in names:
        t0 = time.perf_counter()
        pdf = con.execute(oracle[name]).fetchdf()
        out[name] = {"sha256": golden.result_hash(pdf), "rows": len(pdf)}
        print(f"# oracle {name}: {len(pdf)} rows, "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    con.close()
    return out


def main() -> int:
    names = sorted({
        workloads.golden_name(w, q)
        for w, qs in workloads.WORKLOADS.items() for q in qs
    })
    hashes = oracle_hashes(names)
    with open(GOLDEN_PATH, "w") as fh:
        json.dump({"sf": "sf0.1", "float_digits": golden.FLOAT_DIGITS,
                   "queries": hashes}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(hashes)} hashes to {GOLDEN_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
