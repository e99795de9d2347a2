"""Benchmark of the engine's three workloads, on ``local[4]``.

    python3 perfbench/run.py --workload catalog_short --seed 1 --seconds 12 --trace 0

``--workload`` is one of ``catalog_short``, ``catalog_iterative`` and
``etl_appointments`` (see perfbench/README.md for what each stresses).
A run sets up a Spark session ``SETUP_REPS`` times (``setup_s`` is the
median), checks the workload's outputs once, outside the timed passes,
and runs closed-loop passes until ``--seconds`` have been measured (the
ETL times one pass, the first of the process). With ``--trace 1`` it instead runs one
traced pass followed by one untraced pass, and reports the per-layer
metrics of the traced one.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it holds the
remaining detail: per-query timings with their sample counts, the
failures and the path of the span dump. Everything the run writes goes
under ``.perfbench_work/`` at the root of the checkout; only the span
dumps in ``.perfbench_work/traces`` are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hubsit_health_analytics_etl_spark"

CORES = 4
DRIVER_MEMORY = "2g"
SETUP_REPS = 5
# (catalogue fixture size, appointment rows): the benchmark's size, and
# the smallest size the smoke test runs
SIZES = {"full": ("sf0.01", 4000), "small": ("sf0.001", 2000)}

# the end-to-end metrics BENCHMARK.json gates
GATED = ("setup_s", "pass_s", "peak_rss_mb")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["catalog_short", "catalog_iterative", "etl_appointments"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def configure_environment(work: str, event_log: str | None) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and set the session config the benchmark owns before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.pop("PYSPARK_DRIVER_PYTHON", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: no hsperfdata files under /tmp, for the launcher
    # JVM spark-submit runs first as for the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    java_opts = f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if event_log:
        os.makedirs(event_log)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def make_workload(name: str, size: str, work: str, seed: int):
    import workloads

    sf, rows = SIZES[size]
    if name == "catalog_short":
        return workloads.Catalog(workloads.CATALOG_SHORT, os.path.join(workloads.FIXTURES, sf))
    if name == "catalog_iterative":
        return workloads.Catalog(workloads.CATALOG_ITERATIVE, os.path.join(workloads.FIXTURES, sf))
    return workloads.Appointments(work, rows, seed)


def warm_up(spark) -> None:
    """One small shuffle job on no input of the workload's: the first
    job of a session pays for scheduler and shuffle start-up."""
    spark.range(4096).repartition(CORES).count()


def set_up(wl):
    """``SETUP_REPS`` fresh sessions, each followed by the warm-up and
    the workload's PREPARES. The first also launches the JVM; the
    session of the last one is kept."""
    from hubsit_health_analytics_etl_spark import session

    spark, reps = None, []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark)
        t2 = time.perf_counter()
        wl.prepare(spark)
        t3 = time.perf_counter()
        reps.append({"get_spark_s": t1 - t0, "warm_up_s": t2 - t1,
                     "prepares_s": t3 - t2, "setup_s": t3 - t0})
    return spark, reps


def run_pass(wl, rng, tracer, failures) -> tuple[float, list[tuple[str, float]]]:
    """One closed-loop pass. An operation that raises is recorded with
    its error and the pass goes on."""
    times = []
    t_pass = time.perf_counter()
    for name, fn in wl.ops(rng):
        t0 = time.perf_counter()
        try:
            fn(tracer)
        except Exception as e:
            failures.append(f"{name}: raised {type(e).__name__}: {_first_line(e)}")
        times.append((name, time.perf_counter() - t0))
    return time.perf_counter() - t_pass, times


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child (VmHWM)."""
    def hwm(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    total = hwm(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if int(fields[1]) == os.getpid() and comm == "java":
            total += hwm(pid)
    return total


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def quantile(values, q):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(work)
    try:
        configure_environment(work, event_log)
        sys.path.insert(0, ROOT)
        detail, result = run(args, work, event_log)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, work: str, event_log: str | None):
    import tracing
    import workloads

    wl = make_workload(args.workload, args.size, work, args.seed)
    spark, reps = set_up(wl)
    failures: list[str] = []
    try:
        rng = random.Random(args.seed)
        null = workloads.NullTracer()
        # the catalogue checks its queries in a pass of their own, which
        # also warms the session; the ETL times the process's first pass
        # only, and checks what it wrote
        check_s = []

        def timed_check():
            t0 = time.perf_counter()
            out = wl.check(spark)
            check_s.append(time.perf_counter() - t0)
            return out

        check = None if wl.cold_pass else timed_check()
        passes, times = [], []
        if args.trace:
            if wl.cold_pass:
                _, times = run_pass(wl, rng, null, failures)
                check = timed_check()
            tracer = tracing.Tracer()
            tracer.install()
            try:
                traced_s, traced_times = run_pass(wl, rng, tracer, failures)
            finally:
                tracer.uninstall()
            untraced_s, untraced_times = run_pass(wl, rng, null, failures)
            passes, times = [traced_s], times + traced_times + untraced_times
        else:
            while True:
                pass_s, pass_times = run_pass(wl, rng, null, failures)
                passes.append(pass_s)
                times += pass_times
                if wl.cold_pass:
                    check = timed_check()
                    break
                if sum(passes) >= args.seconds:
                    break
        rss = peak_rss_mb()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()

    checked, problems = check
    attempted = checked + len(times)
    failed = len({p.split(":")[0] for p in problems}) + len(failures)
    e2e = end_to_end(args.workload, reps, passes, times, rss, failed, attempted)
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
        "setup_reps": reps, "pass_times_s": passes, "checked": checked, "check_s": check_s[0],
        "failures": (problems + failures)[:20],
        "op_median_s": {n: statistics.median([t for m, t in times if m == n])
                        for n in sorted({n for n, _ in times})},
    }
    if args.trace:
        import layers

        metrics, trace_detail = layers.per_layer(
            tracer, event_log, app_id, wl, traced_s, untraced_s, reps,
            os.path.join(os.path.dirname(work), "traces",
                         f"{args.workload}-seed{args.seed}.json"),
        )
        failed += trace_detail.pop("attribution_failures")
        attempted += trace_detail.pop("attribution_checked")
        detail["trace"] = trace_detail
    else:
        metrics = {k: e2e[k][:2] for k in GATED}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def end_to_end(workload, reps, passes, times, rss, failed, attempted):
    """Every end-to-end metric of the workload: name → (value, unit,
    sample count)."""
    m = {
        "setup_s": (statistics.median(r["setup_s"] for r in reps), "s", len(reps)),
        "pass_s": (statistics.median(passes), "s", len(passes)),
        "failed_frac": (failed / attempted, "ratio", attempted),
        "peak_rss_mb": (rss, "MB", 1),
    }
    if workload == "etl_appointments":
        for op in ("etl", "report"):
            op_s = [t for n, t in times if n == op]
            m[f"{op}_s"] = (statistics.median(op_s), "s", len(op_s))
    else:
        op_s = [t for _, t in times]
        m["query_p50_s"] = (statistics.median(op_s), "s", len(op_s))
        if workload == "catalog_short":
            m["query_p90_s"] = (quantile(op_s, 0.9), "s", len(op_s))
    return m


def _first_line(e: BaseException) -> str:
    return (str(e).strip().splitlines() or [""])[0][:300]


if __name__ == "__main__":
    sys.exit(main())
