"""The repo benchmark: one workload, one PySpark session, oracle-checked.

    python3 perfbench/run.py --workload iterative_dedup --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Starts one local session at ``nproc``
cores, sets up (import, session start, one warm-up pass that also checks
every query result against its DuckDB-oracle golden hash), then runs
the workload's MIN_PASSES timed passes, and more while the next should
end within ``--seconds``. Times are per step (a query, or one stage of
pinterest_daily's ingest), fastest over the timed passes; ``wall_s`` is
their sum. The seed fixes each pass's query order. Prints a
human-readable report (README.md lists every line), then one JSON line:

- ``--trace 0``: end-to-end metrics (setup_s, wall_s, query_p50_s);
- ``--trace 1``: after the untraced passes, one more pass with job groups
  and status-store counters; prints per-layer metrics, writes the spans
  to ``.perfbench/spans/`` and reports tracing overhead against the
  untraced passes.

Everything it writes (Spark local dirs, temp files, pinterest_daily's
curated tables, spans) stays under ``.perfbench/`` in the working
directory; the per-run directory is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import golden  # noqa: E402
import probes  # noqa: E402
import workloads as W  # noqa: E402

# Timed passes per run, at least. The JIT compiler is still at work on
# every pass of a run (on iterative_dedup, on a 4-core host, ~17 s of
# compile-thread CPU in the first pass after the warm-up, ~7 s in the
# third), so passes keep getting faster and each step's time is its
# fastest over the passes. A run must stay near a minute (README.md):
# pinterest_daily's passes are ~11 s, iterative_dedup's ~8.5 s.
MIN_PASSES = {"pinterest_daily": 2, "iterative_dedup": 3}


def release_free_heap() -> None:
    """Hand freed malloc arenas back to the OS, so the verification
    frames of the warm-up pass do not inflate the timed passes' RSS."""
    import ctypes
    import gc

    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host view, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Bench:
    def __init__(self, args, workdir: str):
        self.workload = args.workload
        self.queries = W.WORKLOADS[args.workload]
        self.workdir = workdir
        self.rng = random.Random(args.seed)
        self.tracer = probes.Tracer(args.trace == 1)
        with open(os.path.join(HERE, "golden.json")) as fh:
            self.golden = json.load(fh)["queries"]
        self.cores = len(os.sched_getaffinity(0))  # = nproc
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.counters = None  # StatusCounters during the traced pass
        self.groups: list[tuple[str, str]] = []  # (kind, job group)
        self.sources = {"write_s": 0.0, "bytes": 0, "files": 0}
        self.clean_s = 0.0
        self.selftested = False

    # ---------------------------------------------------------- setup

    def setup(self) -> dict:
        """Import, session start and warm-up; returns their seconds."""
        t0 = T_PROCESS
        with self.tracer.span("session.import"):
            import __spark_entry__  # noqa: F401 - registers every plan
            from pinterest_data_pipeline_spark.session import get_spark
        t1 = time.perf_counter()
        with self.tracer.span("session.start", cores=self.cores):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                cpus=self.cores,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir":
                        os.path.join(self.workdir, "warehouse"),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            self.run_pass("warmup", verify=True)
        t3 = time.perf_counter()
        return {"import_s": t1 - t0, "start_s": t2 - t1, "warmup_s": t3 - t2}

    def selftest(self, pdf) -> None:
        """The check must reject a perturbed result."""
        self.selftested = True
        if golden.result_hash(golden.perturbed(pdf)) == golden.result_hash(pdf):
            self.problems.append("self-test: perturbed result accepted")

    # ---------------------------------------------------------- passes

    def _group(self, label: str, kind: str) -> None:
        if self.counters is not None:
            self.counters.set_group(label)
            self.groups.append((kind, label))

    def _run_query(self, pass_id: str, name: str, build, verify: bool,
                   timings: dict) -> None:
        """Builder call + action, timed; then (untimed) the golden check."""
        self.attempted += 1
        gname = W.golden_name(self.workload, name)
        with self.tracer.span("query", query=name) as attrs:
            try:
                t0 = time.perf_counter()
                with self.tracer.span("plans.construct"):
                    self._group(f"{pass_id}/{name}/construct", "construct")
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span("exec.action"):
                    self._group(f"{pass_id}/{name}/action", "action")
                    if verify:
                        pdf = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 - one failing query is a
                # counted failure, not the end of the run
                self.failed += 1
                self.problems.append(
                    f"{name}: {traceback.format_exc(limit=2)[-300:]}"
                )
                return
            timings["construct"].append(t1 - t0)
            timings["action"].append(t2 - t1)
            timings["steps"][name] = t2 - t0
            attrs.update(construct_s=t1 - t0, action_s=t2 - t1)
            if verify:
                with self.tracer.span("verify"):
                    got = golden.result_hash(pdf)
                    want = self.golden[gname]["sha256"]
                    if got != want:
                        self.failed += 1
                        self.problems.append(
                            f"{name}: result hash {got[:12]} != golden "
                            f"{want[:12]} ({len(pdf)} rows, golden "
                            f"{self.golden[gname]['rows']})"
                        )
                    if not self.selftested:
                        self.selftest(pdf)

    def run_pass(self, pass_id: str, verify: bool = False) -> dict:
        """One full pass over the workload, in a seed-fixed order."""
        order = self.rng.sample(self.queries, len(self.queries))
        timings = {"construct": [], "action": [], "steps": {}}
        with self.tracer.span("pass", pass_id=pass_id, order=order):
            t0 = time.perf_counter()
            if self.workload == "pinterest_daily":
                self._daily_pass(pass_id, order, verify, timings)
            else:
                from __spark_entry__ import queries

                builders = queries()
                for name in order:
                    self._run_query(
                        pass_id, name,
                        lambda n=name: builders[n](self.spark, W.SF_DIR),
                        verify, timings,
                    )
            timings["wall"] = time.perf_counter() - t0
        return timings

    def _daily_pass(self, pass_id: str, order: list[str], verify: bool,
                    timings: dict) -> None:
        """pinterest_daily: clean → write curated → read back → query."""
        from pinterest_data_pipeline_spark.plans.pinterest_driver import (
            cleaned_fixture_tables,
        )
        from pinterest_data_pipeline_spark.sources.sinks import write_curated

        out = os.path.join(self.workdir, f"curated-{pass_id}")
        with self.tracer.span("ingest"):
            with self.tracer.span("operators.clean"):
                self._group(f"{pass_id}/clean", "clean")
                t = time.perf_counter()
                tables = cleaned_fixture_tables(self.spark, W.SF_DIR)
                clean_s = time.perf_counter() - t
                timings["steps"]["clean"] = clean_s
            write_s = 0.0
            for name in self.rng.sample(W.PINTEREST_TABLES, len(W.PINTEREST_TABLES)):
                with self.tracer.span("sources.write", table=name):
                    self._group(f"{pass_id}/write/{name}", "write")
                    t = time.perf_counter()
                    write_curated(tables[name], os.path.join(out, name))
                    timings["steps"][f"write:{name}"] = time.perf_counter() - t
                    write_s += timings["steps"][f"write:{name}"]
        with self.tracer.span("read_and_query"):
            with self.tracer.span("sources.read"):
                self._group(f"{pass_id}/read", "read")
                t = time.perf_counter()
                curated = {
                    name: self.spark.read.parquet(os.path.join(out, name))
                    for name in W.PINTEREST_TABLES
                }
                timings["steps"]["read"] = time.perf_counter() - t
            for q in order:
                builder = W.pinterest_builder(q)
                self._run_query(pass_id, q, lambda b=builder: b(curated),
                                verify, timings)
        if self.counters is not None:
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(out) for f in fs
                if f.endswith(".parquet")
            ]
            self.sources = {
                "write_s": write_s,
                "bytes": sum(os.path.getsize(f) for f in files),
                "files": len(files),
            }
            self.clean_s = clean_s
        shutil.rmtree(out, ignore_errors=True)

    # ---------------------------------------------------------- traced

    def traced_pass(self) -> tuple[dict, dict, dict]:
        """One pass with job groups; returns (timings, per-layer metrics,
        report-only seconds)."""
        self.counters = probes.StatusCounters(self.spark)
        self.groups = []
        try:
            timings = self.run_pass("traced")
            t = time.perf_counter()
            per_group = [
                (kind, self.counters.group(label))
                for kind, label in self.groups
            ]
            storage = self.counters.storage()
            self.tracer.self_s += time.perf_counter() - t
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.counters = None
        tot = {k: sum(c[k] for _, c in per_group) for k in probes.COUNTERS}
        slowest = max((c for _, c in per_group),
                      key=lambda c: c["slowest_stage_wall_ms"])
        wall = timings["wall"]
        run_s = tot["run_ms"] / 1e3
        construct_s = sum(timings["construct"])
        action_s = sum(timings["action"])
        m = {
            "plans.construct_s": (construct_s, "s"),
            "plans.construct_jobs": (sum(
                c["jobs"] for k, c in per_group if k == "construct"), "count"),
            "plans.construct_share": (
                construct_s / (construct_s + action_s), "1"),
            "exec.action_s": (action_s, "s"),
            "exec.jobs": (tot["jobs"], "count"),
            "exec.stages": (tot["stages"], "count"),
            "exec.stages_skipped": (tot["stages_skipped"], "count"),
            "exec.tasks": (tot["tasks"], "count"),
            "exec.tasks_failed": (tot["tasks_failed"], "count"),
            "exec.run_s": (run_s, "s"),
            "exec.cpu_s": (tot["cpu_ns"] / 1e9, "s"),
            "exec.gc_s": (tot["gc_ms"] / 1e3, "s"),
            "exec.idle_frac": (1 - run_s / (wall * self.cores), "1"),
            "exec.shuffle_read_bytes": (tot["shuffle_read_bytes"], "B"),
            "exec.shuffle_write_bytes": (tot["shuffle_write_bytes"], "B"),
            "exec.spill_bytes": (tot["spill_bytes"], "B"),
            "exec.slowest_stage_task_max_s": (
                slowest["slowest_task_max_ms"] / 1e3, "s"),
            "exec.slowest_stage_task_median_s": (
                slowest["slowest_task_median_ms"] / 1e3, "s"),
            "sources.input_bytes": (tot["input_bytes"], "B"),
            "sources.write_share": (self.sources["write_s"] / wall, "1"),
            "sources.bytes_written": (self.sources["bytes"], "B"),
            "sources.files_written": (self.sources["files"], "count"),
            "operators.clean_share": (self.clean_s / wall, "1"),
            "storage.cached_bytes_end": (storage["cached_bytes"], "B"),
            "storage.persistent_rdds_end": (storage["persistent_rdds"],
                                            "count"),
        }
        info = {}
        if self.workload == "pinterest_daily":
            info = {"sources.write_s": self.sources["write_s"],
                    "operators.clean_s": self.clean_s}
        return timings, m, info

    # ---------------------------------------------------------- teardown

    def close(self) -> None:
        if self.spark is not None:
            probes.stop_spark(self.spark)
            self.spark = None


def best_steps(passes: list[dict]) -> dict[str, float]:
    """Each step's fastest time over the timed passes, in pass order.

    Host CPU steal and the JIT compiler, still busy with the code the
    previous pass made hot, only ever slow a step down; a burst of
    either that hits one pass's step is dropped if another pass ran the
    same step clear of it.
    """
    best: dict[str, float] = {}
    for p in passes:
        for step, t in p["steps"].items():
            best[step] = min(t, best.get(step, t))
    return best


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: repo benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    # Fail before writing anything when the engine or the inputs are absent.
    for need in ("pinterest_data_pipeline_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}", file=sys.stderr)
            return 2
    if not os.path.isdir(W.SF_DIR):
        print(f"perfbench: input tables not found at {W.SF_DIR}",
              file=sys.stderr)
        return 2

    workdir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # Every JVM started from here (the launcher and the driver): temp files
    # in the run directory, and no hsperfdata file under the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}"
    )
    import tempfile

    tempfile.tempdir = workdir

    sampler = probes.RssSampler()
    sampler.start()
    bench = Bench(args, workdir)
    passes: list[dict] = []
    try:
        setup = bench.setup()
        setup_s = sum(setup.values())
        release_free_heap()
        sampler.reset()
        steal0 = host_steal_ticks()
        t_timed = time.perf_counter()
        # Whole passes: MIN_PASSES, then more while the next should end
        # within --seconds (judged by the slowest pass so far).
        while len(passes) < MIN_PASSES[args.workload] or (
                time.perf_counter() - t_timed
                + max(p["wall"] for p in passes) <= args.seconds):
            passes.append(bench.run_pass(f"p{len(passes)}"))
        peak_rss_mb = sampler.peak_mb()
        steal = host_steal_ticks()
        if args.trace:
            traced, layer, info = bench.traced_pass()
            spans_path = os.path.join(
                root, ".perfbench", "spans",
                f"{args.workload}-seed{args.seed}.json",
            )
    finally:
        bench.close()
        sampler.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    walls = [p["wall"] for p in passes]
    best = best_steps(passes)
    qbest = [best[q] for q in bench.queries if q in best]
    wall_s = sum(best.values())
    correct = bench.failed == 0 and not bench.problems
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} cores={bench.cores} "
          f"inputs=sf0.1")
    print(f"# passes={len(passes)} queries/pass={len(bench.queries)} "
          f"query samples={len(qbest)} (fastest of {len(passes)} per query) "
          f"pass walls=" + ",".join(f"{w:.3f}" for w in walls))
    print("# fastest step times: "
          + ",".join(f"{k}={v:.3f}" for k, v in best.items()))
    print(f"# host CPU steal during timed passes: "
          f"{(steal[0] - steal0[0]) / max(steal[1] - steal0[1], 1):.1%}")
    for p in bench.problems:
        print(f"# FAIL {p}")
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "query_p50_s": (statistics.median(qbest), "s"),
    }
    report = dict(e2e)
    report["peak_rss_mb"] = (peak_rss_mb, "MB")
    report["query_p90_s"] = (
        statistics.quantiles(qbest, n=10, method="inclusive")[8], "s")
    report["failed_frac"] = (bench.failed / bench.attempted, "1")
    if args.workload == "pinterest_daily":
        report["ingest_s"] = (
            sum(v for k, v in best.items()
                if k == "clean" or k.startswith("write:")), "s")
    for k, v in setup.items():
        report[f"session.{k}"] = (v, "s")
    if args.trace:
        report.update(layer)
        for k, v in info.items():
            report[k] = (v, "s")
        overhead = sum(traced["steps"].values()) / wall_s - 1
        report["trace.wall_s"] = (traced["wall"], "s")
        report["trace.overhead_frac"] = (overhead, "1")
        report["trace.collect_s"] = (bench.tracer.self_s, "s")
        report["trace.collect_frac"] = (
            bench.tracer.self_s / traced["wall"], "1")
        bench.tracer.write(spans_path, {
            "workload": args.workload, "seed": args.seed,
            "cores": bench.cores, "setup": setup,
            "untraced_wall_s": walls, "traced_wall_s": traced["wall"],
        })
        print(f"# spans: {os.path.relpath(spans_path, root)} "
              f"({len(bench.tracer.spans)} spans)")
    for k, (v, unit) in report.items():
        print(f"{k:36s} {_fmt(v):>14s} {unit}")

    if args.trace:
        names = [m for m in layer] + ["session.import_s", "session.start_s",
                                      "session.warmup_s",
                                      "trace.overhead_frac",
                                      "trace.collect_frac"]
    else:
        names = list(e2e)
    result = {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": report[k][0], "unit": report[k][1]} for k in names
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
