"""Result normalization and hashing shared by the golden generator and the
benchmark's check.

A result is reduced to one SHA-256 over a canonical form with the same
semantics as the repo's DuckDB parity tests (tests/oracle_utils.py):

- columns sorted by name, each tagged with its dtype class (int widths
  collapse; int vs float vs bool vs object stay distinct);
- rows sorted;
- floats rounded to ``FLOAT_DIGITS`` significant digits, so summation
  order across partitions cannot flip a hash;
- NULL and NaN kept as distinct markers.

The workload results hold only int, float and string values; any other
value raises ``TypeError``.
"""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np
import pandas as pd

FLOAT_DIGITS = 10
_FLOAT_FMT = f".{FLOAT_DIGITS}g"


def dtype_class(dtype) -> str:
    kind = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(
        kind, "object")


def _cell(v) -> str:
    """One value in canonical text form."""
    if v is None:
        return "null"
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        # + 0.0 folds -0.0 into 0.0
        return "nan" if math.isnan(f) else format(f + 0.0, _FLOAT_FMT)
    raise TypeError(f"cannot canonicalize {type(v).__name__}: {v!r}")


def result_hash(pdf: pd.DataFrame) -> str:
    """SHA-256 of the canonical form: a header of (column, dtype class)
    pairs, then the sorted canonical rows."""
    cols = sorted(pdf.columns)
    header = json.dumps([[c, dtype_class(pdf[c].dtype)] for c in cols])
    texts = [[_cell(v) for v in pdf[c].tolist()] for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*texts)) if cols else []
    h = hashlib.sha256(header.encode())
    h.update(f"\n{len(pdf)}\n".encode())
    h.update("\n".join(rows).encode())
    return h.hexdigest()


def perturbed(pdf: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``pdf`` with one value changed (or one row dropped when
    there is nothing to change), for the check's self-test."""
    out = pdf.copy()
    if len(out) == 0:
        return pd.DataFrame({"__perturbed__": [1]})
    for col in out.columns:
        kind = dtype_class(out[col].dtype)
        if kind in ("int", "float"):
            out.loc[out.index[0], col] = out[col].iloc[0] + 1 \
                if pd.notna(out[col].iloc[0]) else 1
            return out
    return out.iloc[1:]
