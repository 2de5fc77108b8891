"""Benchmark of the feature_engineering_spark engine, run from the root of
a checkout:

    python3 perfbench/run.py --workload driver_suite --seed 1 --seconds 10 --trace 0

One process runs one workload: it generates the seeded inputs (cached
under .perfbench/), creates the Spark session the way the program does
(session.get_spark, JIT warmup included), runs one cold operation and
then warm ones in a closed loop until --seconds have passed (and at least
the workload's minimum number of warm runs is done), checks the outputs outside
the timed region, and prints every metric by name and unit.  The last
line of stdout is one JSON object: the end-to-end metrics with --trace 0,
the per-layer metrics of one extra traced operation with --trace 1.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = ("feature_engineering_spark/session.py", "bench.py",
           "jobs/extract_features.py")

# Gated by BENCHMARK.json.  The cold run, peak RSS and the failed fraction
# are printed too but not gated: across ten seeds the cold run spread 23%
# and RSS (which follows the JVM's heap sizing) 26%, and the failed
# fraction is 0 on a correct program.
END_TO_END = {"setup_s": "s", "warm_run_s": "s", "rows_per_s": "rows/s",
              "cpu_s": "s"}
COUNTERS = {"executor_run_s": "s", "shuffle_write_bytes": "bytes",
            "spill_bytes": "bytes", "gc_s": "s"}
PAGES_STAGES = ("pages", "signals", "labeled", "features")


def per_layer_units(headline: list[str]) -> dict[str, str]:
    units = {"sources.generate_s": "s", "session.get_spark_s": "s",
             "session.warmup_s": "s", "jit.compile_ms": "ms",
             "jit.warm_compile_ms": "ms", "plans.build_s": "s",
             "plans.build_spark_jobs": "count", "plans.driver_gap_s": "s"}
    for q in headline:
        units[f"plans.{q}.exec_s"] = "s"
        units.update({f"plans.{q}.{k}": u for k, u in COUNTERS.items()})
    for st in PAGES_STAGES:
        units[f"checkpoint.{st}.s"] = "s"
        units.update({f"checkpoint.{st}.{k}": u for k, u in COUNTERS.items()})
    units.update({
        "checkpoint.write_s": "s", "checkpoint.ledger_s": "s",
        "checkpoint.bytes_written": "bytes", "checkpoint.spark_jobs": "count",
        "skew.task_s_max_over_median": "ratio",
        "window_kernel.arrow_bytes_to_python": "bytes",
        "window_kernel.arrow_bytes_from_python": "bytes",
        "window_kernel.python_run_s": "s",
        "jobs.self_s": "s", "trace_overhead_frac": "frac"})
    return units


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _source_sha() -> str:
    """Content hash of the program's Python sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    for top in ("feature_engineering_spark", "jobs"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    with open(os.path.join(ROOT, "bench.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, check=False)
    return r.stdout.strip() or None


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this one started has exited."""
    import procstat
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while procstat.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def prepare_env(run_dir: str, nproc: int) -> str:
    """Point every file Spark, the JVM and Python write at ``run_dir``,
    inside the checkout; returns the temp directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    return tmp


def start_spark(app: str, tmp: str):
    """session.get_spark as the program calls it (JIT warmup included),
    with temp files kept under ``tmp``.  Returns (spark, setup seconds
    including the pyspark import, warmup seconds)."""
    t0 = time.monotonic()
    from feature_engineering_spark import session

    warmup_s = []
    real_warmup = session._warmup

    def timed_warmup(spark):
        w0 = time.monotonic()
        try:
            real_warmup(spark)
        finally:
            warmup_s.append(time.monotonic() - w0)

    session._warmup = timed_warmup
    java_opts = (session._BASE_CONFS.get("spark.driver.extraJavaOptions", "")
                 + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    try:
        spark = session.get_spark(
            app, extra_confs={"spark.driver.extraJavaOptions": java_opts,
                              "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"]})
    finally:
        session._warmup = real_warmup
    return spark, time.monotonic() - t0, sum(warmup_s)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="warm runs go on until this long after the cold "
                         "run started (and at least the workload's minimum)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=None,
                    help="input size: scale factor for driver_suite "
                         "(default 0.01), page rows for pages_features "
                         "(default 20000)")
    args = ap.parse_args(argv)
    started = time.monotonic()

    def phase(name: str) -> None:
        print(f"\nperfbench: {name} at +{time.monotonic() - started:.1f}s",
              file=sys.stderr, flush=True)

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import procstat
    import spans
    from workloads import WORKLOADS, op_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = prepare_env(run_dir, nproc)
    load_before, steal_before = _loadavg(), _steal_s()
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed, args.size)
        phase("inputs ready")
        spark, setup_s, warmup_s = start_spark(f"perfbench-{args.workload}",
                                               tmp)
        phase("session ready")
        wl.bind(spark)
        jit = spark._jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        null = spans.NullTracer()

        def timed(tr) -> tuple[float, float, float]:
            """(wall s, process-tree CPU s, JIT compile ms) of one op."""
            wl.before()
            j0, c0 = jit.getTotalCompilationTime(), procstat.tree_cpu_s()
            s0 = time.monotonic()
            wl.op(tr)
            wall = time.monotonic() - s0
            cpu = procstat.tree_cpu_s() - c0
            jms = jit.getTotalCompilationTime() - j0
            wl.after()
            return wall, cpu, jms

        window0 = time.monotonic()
        with procstat.PeakRss() as rss:
            cold, _, cold_jit_ms = timed(null)
            warm, warm_cpu = [], []
            while (len(warm) < wl.min_warm
                   or time.monotonic() - window0 < args.seconds):
                w, c, _ = timed(null)
                warm.append(w)
                warm_cpu.append(c)
        warm_s = wl.warm_run_s(warm)
        phase(f"{1 + len(warm)} timed runs done")

        layers: dict[str, float] = {}
        if args.trace:
            tr = spans.Tracer(spark, f"{args.workload}-{args.seed}")
            with wl.instrument(tr):
                traced, _, traced_jit_ms = timed(tr)
            # the session is still warming up: compare the traced run with
            # the untraced runs on either side of it
            untraced = (warm[-1] + timed(null)[0]) / 2
            phase("traced run done")
            ec = spans.EngineCounters(spark)
            root = next(s for s in tr.spans if s["parent"] is None)
            layers = {**wl.layers(tr.spans, ec),
                      **op_metrics(root, tr.spans, ec)}
            layers.update({
                "sources.generate_s": wl.meta["generate_s"],
                "session.get_spark_s": setup_s,
                "session.warmup_s": warmup_s,
                "jit.compile_ms": cold_jit_ms,
                "jit.warm_compile_ms": traced_jit_ms,
                "trace_overhead_frac": traced / untraced - 1,
            })
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            with open(os.path.join(work, "traces",
                                   f"{tr.run_id}.json"), "w") as f:
                json.dump(tr.spans, f)

        wl.check()
        phase("outputs checked")
        from feature_engineering_spark.session import _BASE_CONFS

        conf_keys = sorted(set(_BASE_CONFS) | {
            "spark.master", "spark.sql.shuffle.partitions",
            "spark.driver.memory", "spark.local.dir"})
        provenance = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "input_rows": wl.input_rows, "inputs": wl.meta, "nproc": nproc,
            "loadavg_before": load_before, "loadavg_after": _loadavg(),
            "cpu_steal_s": _steal_s() - steal_before,
            "git_sha": _git_sha(), "source_sha": _source_sha(),
            "pyspark": sys.modules["pyspark"].__version__,
            "spark_conf": {k: spark.conf.get(k, None) for k in conf_keys},
            "SPARK_GRAFT_WARMUP": os.environ.get("SPARK_GRAFT_WARMUP"),
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("stopped")

    e2e = {"setup_s": setup_s, "warm_run_s": warm_s,
           "rows_per_s": wl.input_rows / warm_s, "cpu_s": min(warm_cpu)}
    attempted, failed = wl.attempted, min(wl.failed, wl.attempted)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"input_rows={wl.input_rows}")
    for k, v in e2e.items():
        print(f"  {k:<20} {v:>14.4f} {END_TO_END[k]}")
    print(f"  {'cold_run_s':<20} {cold:>14.4f} s")
    print(f"  {'peak_rss_mb':<20} {rss.peak_mb:>14.4f} MB")
    print(f"  {'failed_frac':<20} {failed / attempted:>14.4f} "
          f"({failed}/{attempted} operations)")
    e2e_metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    print("end_to_end " + json.dumps(e2e_metrics))
    print("samples " + json.dumps({"setup_s": [setup_s], "cold_run_s": [cold],
                                   "warm_run_s": warm, "cpu_s": warm_cpu,
                                   "peak_rss_mb": [rss.peak_mb]}))
    print("provenance " + json.dumps(provenance))
    if args.trace:
        from bench import HEADLINE

        units = per_layer_units(HEADLINE)
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in units.items()}
        for k, m in metrics.items():
            print(f"  {k:<52} {m['value']:>16.4f} {m['unit']}")
    else:
        metrics = e2e_metrics
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
