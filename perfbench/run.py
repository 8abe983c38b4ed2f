"""The repository benchmark: one seeded, output-checked workload per run.

    python3 perfbench/run.py --workload warehouse_rw --seed 1 --seconds 12 --trace 0

Run from the repository root. One client process drives the package in a
closed loop on ``local[nproc]``, calling only its public entry points
(``registry.all_queries()[name].fn`` and ``Warehouse`` methods). Inputs are
generated from ``--seed`` before Spark starts. Set-up (``setup_s``) is
``get_spark`` plus ``all_queries`` plus one warm pass, whose results are
then checked against an independent oracle; timed passes follow for
``--seconds`` and every one of their results is checked again.

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the run record: the
environment, generator parameters, input sizes, sample counts and the
per-module and per-operation breakdowns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from meter import Meter  # noqa: E402

JVM_HEAP = "3g"  # the session's 16g default does not fit a 15 GB box

# End-to-end metrics (``--trace 0``): name -> unit.
E2E = {"setup_s": "s", "pass_s": "s", "op_gmean_s": "s"}

# Per-layer metrics (``--trace 1``): name -> (unit, better, the end-to-end
# metric it should move, on which workload). ``query.*`` are per-pass sums
# over the registered-query calls of a pass; the split by module, and that
# of each Warehouse operation, is in the run record.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s", "all"),
    "registry.load_s": ("s", "lower", "setup_s", "all"),
    "query.build_s": ("s", "lower", "op_gmean_s; pass_s", "warehouse_rw; corpus_dedup"),
    "query.plan_s": ("s", "lower", "op_gmean_s", "warehouse_rw"),
    "query.exec_s": ("s", "lower", "pass_s", "all"),
    "query.build_jobs": ("count", "lower", "pass_s", "corpus_dedup"),
    "query.build_tasks": ("count", "lower", "pass_s", "corpus_dedup"),
    "query.exec_jobs": ("count", "lower", "pass_s", "all"),
    "query.exec_stages": ("count", "lower", "pass_s", "all"),
    "query.exec_tasks": ("count", "lower", "pass_s", "all"),
    "spark.task_success_ratio": ("ratio", "higher", "pass_s", "all"),
    "warehouse.append_tasks": ("count", "lower", "pass_s (record: append)", "warehouse_rw"),
    "warehouse.merge_tasks": ("count", "lower", "pass_s (record: merge)", "warehouse_rw"),
    "warehouse.read_tasks": ("count", "lower", "pass_s (record: read)", "warehouse_rw"),
    "warehouse.compact_tasks": ("count", "lower", "pass_s (record: compact)", "warehouse_rw"),
    "warehouse.merge_rewrite_ratio": ("ratio", "lower", "pass_s (record: merge)", "warehouse_rw"),
    "warehouse.bytes_written_per_user_byte": (
        "ratio", "lower", "pass_s (record: append, merge, compact)", "warehouse_rw"),
    "warehouse.files_per_series": ("count", "lower", "pass_s (record: read)", "warehouse_rw"),
    "warehouse.store_bytes_per_row": ("B/row", "lower", "pass_s (record: read)", "warehouse_rw"),
    "jvm.peak_rss_mb": ("MB", "lower", "none: too unsteady to be end-to-end", "all"),
    "overhead.pass_s": ("s", "lower", "pass_s", "all"),
    "overhead.op_gmean_s": ("s", "lower", "op_gmean_s", "all"),
}


def pin_environment(tmp: str, cpus: int) -> None:
    """Session knobs the package already reads, plus every scratch path of
    Spark and the JVM inside the run's temp dir."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TZ"] = "UTC"
    time.tzset()
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "ARROW_NUM_THREADS"):
        os.environ[var] = "1"
    local = os.path.join(tmp, "spark-local")
    javatmp = os.path.join(tmp, "java")
    for d in (local, javatmp):
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = javatmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
        f"--conf spark.local.dir={local}",
        f"--driver-java-options -Djava.io.tmpdir={javatmp}",
        "pyspark-shell",
    ])


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident memory of the JVM. The Python driver is left out:
    the same process runs the benchmark's DuckDB oracles and pandas model,
    which would dominate its figure. No check runs in the JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait()


def summarise(passes: list[list]) -> dict:
    """pass_s (failed calls keep their time) and op_gmean_s (over the calls
    that returned a result) of a set of passes."""
    return {
        "pass_s": statistics.median(sum(c.seconds for c in p) for p in passes),
        "op_gmean_s": statistics.geometric_mean(c.seconds for p in passes for c in p if c.ok),
    }


def percentiles(xs: list[float]) -> dict:
    """The median, plus each tail percentile with at least ten samples beyond it."""
    out = {"n": len(xs), "p50": statistics.median(xs)}
    for p in (90, 99):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = float(np.percentile(xs, p))
    return out


def layers(passes: list[list]) -> dict:
    """Per-pass medians of the build/plan/exec split of traced calls."""
    rows = []
    for calls in passes:
        row = {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, "build_jobs": 0, "build_tasks": 0,
               "exec_jobs": 0, "exec_stages": 0, "exec_tasks": 0}
        for c in calls:
            for kind, span in c.phases.items():
                row[f"{kind}_s"] += span.seconds
                side = "build" if kind == "build" else "exec"
                row[f"{side}_jobs"] += span.jobs
                row[f"{side}_tasks"] += span.tasks
                if side == "exec":
                    row["exec_stages"] += span.stages
        rows.append(row)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def tasks_ratio(passes: list[list]) -> float:
    spans = [s for p in passes for c in p for s in c.phases.values()]
    done = sum(s.tasks for s in spans)
    failed = sum(s.failed_tasks for s in spans)
    return done / (done + failed) if done + failed else 1.0


def measure(work, seconds: float, pattern: tuple[bool, ...]) -> dict[bool, list]:
    """Whole passes in a closed loop, repeating ``pattern`` (traced or not
    per pass) until ``seconds`` have elapsed and at least two passes ran.

    The traced pattern is untraced-traced-traced-untraced, so the warm-up
    still under way during the first passes does not bias the overhead.
    """
    passes = {False: [], True: []}
    t0 = time.perf_counter()
    while True:
        for trace in pattern:
            calls = work.run_pass(trace)
            if not calls:  # the input ran out
                return passes
            passes[trace].append(calls)
        if len(passes[False]) + len(passes[True]) >= 2 and time.perf_counter() - t0 >= seconds:
            return passes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    spark = None
    try:
        pin_environment(tmp, cpus)
        sys.path.insert(0, ROOT)
        import duckdb
        import pyspark

        from datums_warehouse_spark import all_queries
        from datums_warehouse_spark.session import get_spark

        rng = np.random.default_rng(args.seed)
        work = workloads.WORKLOADS[args.workload]()
        g0 = time.perf_counter()
        inputs = work.generate(rng, tmp, cpus)
        inputs["generate_s"] = time.perf_counter() - g0

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        qs = all_queries()
        t2 = time.perf_counter()
        meter = Meter(spark)
        warm = work.warm(spark, qs, meter)
        # busy time, like pass_s: the checks between warm calls are not set-up
        setup_s = (t2 - t0) + sum(c.seconds for c in warm)
        c0 = time.perf_counter()
        work.check_setup()
        check_s = time.perf_counter() - c0

        trace = bool(args.trace)
        if trace:
            passes = measure(work, 2 * args.seconds, (False, True, True, False))
        else:
            passes = measure(work, args.seconds, (False,))
        untraced, traced = passes[False], passes[True]
        rss = jvm_peak_rss_mb(spark)
        work.final_check()

        e2e = {"setup_s": setup_s, **summarise(untraced)}
        record = {
            "workload": args.workload, "why": work.why, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "loop": "closed, one client",
            "env": {
                "cpus": cpus, "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "jvm_heap": JVM_HEAP, "pyspark": pyspark.__version__,
                "duckdb": duckdb.__version__, "python": sys.version.split()[0],
            },
            "inputs": inputs,
            "samples": {"passes": len(untraced), "calls": sum(map(len, untraced)),
                        "pass_s": [sum(c.seconds for c in p) for p in untraced],
                        "traced_passes": len(traced)},
            "calls": {},
            "parts": work.record(),
            "checks": {"ran": work.checks.ran, "failed": work.checks.failed,
                       "setup_check_s": check_s},
        }
        by_name: dict[str, list[float]] = {}
        for c in (c for p in untraced for c in p):
            by_name.setdefault(c.name, []).append(c.seconds)
        record["calls"] = {n: percentiles(xs) for n, xs in sorted(by_name.items())}

        if trace:
            overall = layers([[c for c in p if not c.layer.startswith("warehouse.")]
                              for p in traced])
            modules = {m: layers([[c for c in p if c.layer == m] for p in traced])
                       for m in sorted({c.layer for p in traced for c in p})}
            t = summarise(traced)
            metrics = {
                "session.get_spark_s": t1 - t0,
                "registry.load_s": t2 - t1,
                **{f"query.{k}": v for k, v in overall.items()},
                "spark.task_success_ratio": tasks_ratio(traced),
                **{k: 0.0 for k in PER_LAYER if k.startswith("warehouse.")},
                **work.extra_metrics(),
                **{f"{m}_tasks": r["build_tasks"] + r["exec_tasks"]
                   for m, r in modules.items() if f"{m}_tasks" in PER_LAYER},
                "jvm.peak_rss_mb": rss,
                "overhead.pass_s": t["pass_s"] - e2e["pass_s"],
                "overhead.op_gmean_s": t["op_gmean_s"] - e2e["op_gmean_s"],
            }
            record["modules"] = modules
            record["moves"] = {k: {"moves": v[2], "on": v[3]} for k, v in PER_LAYER.items()}
            # overhead.pass_s and overhead.op_gmean_s are metrics; set-up
            # runs the same untraced code in both modes, so its overhead is 0
            record["overhead_setup_s"] = 0.0
            record["spans"] = [
                [sp.name, sp.phase, round(sp.start - t0, 6), round(sp.end - t0, 6), sp.parent,
                 sp.jobs, sp.stages, sp.tasks]
                for sp in meter.spans
            ]
        else:
            metrics = dict(e2e)
            record["store"] = work.extra_metrics()
            record["jvm_peak_rss_mb"] = rss

        result = {
            "correct": work.checks.ok,
            "attempted": meter.attempted,
            "failed": meter.failed,
            "metrics": {k: {"value": v, "unit": E2E[k] if k in E2E else PER_LAYER[k][0]}
                        for k, v in metrics.items()},
        }
        print(json.dumps({"record": record}, default=str))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
