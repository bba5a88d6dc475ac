"""CDC engine benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout of the repository. It generates (or reuses
from ``perfbench/.work/cache``) the seed's WAL with
``debezium_spark.sources.wal``, sets the workload up, runs it for about
``--seconds``, checks every timed op's lake against the oracle and prints, as
the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs spans
around the engine's entry points, enables the Spark event log and reports the
per-layer metrics of ``layers.PER_LAYER`` instead; spans and event log are
kept in ``perfbench/.work/runs``. Every run also leaves a JSON record there
with all samples and the host-contention readings.

Everything runs in one local Spark JVM with ``local[<cpus>]``; all files
(WAL cache, lakes, Spark scratch, temp files) stay under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def tail_percentile(samples: list[float], q: float = 0.9) -> tuple[float, float]:
    """The ``q`` percentile if at least ten samples lie beyond it, else the
    highest percentile that has ten beyond it, but never below the median.
    Returns (value, percentile used); linear interpolation between ranks."""
    n = len(samples)
    if n == 0:
        return 0.0, q
    if n * (1 - q) < 10:
        q = max(0.5, 1.0 - 10.0 / n)
    xs = sorted(samples)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), q


def build_spark(cpus: int, extra: dict[str, str]):
    """A local session; in a JVM that is already up, a new context in it."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.Builder()  # a fresh builder: options of an earlier one do not leak
        .master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # A fixed heap keeps peak memory from depending on when the heap
        # grew; ParallelGC as in bench.py (fewer concurrent GC threads
        # competing with the task threads); no hsperfdata file outside the
        # checkout.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -XX:+UseParallelGC "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        # Spark's default of 200 shuffle partitions makes every small job pay
        # 200 tasks; 4 per core is what bench.py uses.
        .config("spark.sql.shuffle.partitions", str(4 * cpus))
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # explicit, because a JVM launched with an event log keeps that
        # setting as a default for every later context
        .config("spark.eventLog.enabled", "false")
    )
    for k, v in extra.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that does not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def wait_children(timeout: float = 30.0) -> list[int]:
    """Wait until no process started by this one is left; kill stragglers."""
    import signal

    from host import descendants

    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    return left


def measure(workload: str, seed: int, seconds: float, trace: bool, *,
            work: str, cache: str, runs: str, run_id: str, scale: float = 1.0) -> dict:
    """Set up and time one workload; returns the run record. Leaves the JVM
    up (``stop_jvm`` ends it)."""
    from workloads import WORKLOADS, Ctx

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(work, exist_ok=True)
    tracer = None
    conf: dict[str, str] = {}
    if trace:
        from spans import Tracer, spark_conf

        conf = spark_conf(os.path.join(work, "events"))
        os.makedirs(os.path.join(work, "events"))
        tracer = Tracer()
        tracer.install()
    try:
        spark = build_spark(cpus, conf)
        spark_s = process_age_s()
        ctx = Ctx(spark=spark, root=ROOT, work=work, cache=cache, seed=seed,
                  seconds=seconds, tracer=tracer, scale=scale)
        wl = WORKLOADS[workload](ctx)
        wl.setup()
        setup_s = process_age_s()
        if tracer:
            from layers import gc_seconds

            gc0 = gc_seconds(spark)
        out = wl.timed()
        layers = {}
        if tracer:
            gc_s = gc_seconds(spark) - gc0
            layers = trace_extras(ctx, wl, out, tracer, gc_s, runs, run_id, cpus)
    finally:
        if tracer:
            tracer.uninstall()
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    fresh_p90, q = tail_percentile(out.freshness)
    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "cpus": cpus, "shape": vars(wl.shape),
        "wal": {"rows": out.wal.rows, "bytes": out.wal.bytes,
                "segments": len(out.wal.segments), "gen_s": out.wal.gen_s},
        "correct": out.failed == 0 and bool(out.checks) and all(c["ok"] for c in out.checks),
        "attempted": out.ops, "failed": out.failed,
        "e2e": {
            "setup_s": setup_s,
            "events_per_s": statistics.median(out.events_per_s) if out.events_per_s else 0.0,
            "freshness_p50_s": statistics.median(out.freshness) if out.freshness else 0.0,
            "freshness_p90_s": fresh_p90,
            "write_amp": out.write_amp,
            "space_amp": out.space_amp,
        },
        "layers": layers,
        "freshness_samples": len(out.freshness), "freshness_q": q,
        "samples": {"events_per_s": out.events_per_s, "freshness_s": out.freshness},
        "setup_parts_s": {"to_spark": spark_s, "wal_gen": out.wal.gen_s,
                          "rest": setup_s - spark_s - out.wal.gen_s},
        "timed_window_s": out.t1 - out.t0,
        "checks": out.checks, "extra": out.extra,
    }


def trace_extras(ctx, wl, out, tracer, gc_s, runs, run_id, cpus) -> dict:
    """After the timed window of a traced run: the prefix chain, the stateful
    leg (tail_merge), a warm generation of the WAL, the event log, and the
    1-core leg (bulk_replay)."""
    from data import ensure_wal
    from layers import compute, prefix_chain
    from spans import EventLog
    from workloads import StatefulResume, new_engine

    engine = new_engine(ctx, wl.wal, wl.wal.dir, os.path.join(ctx.work, "prefix"))
    prefix_chain(ctx, wl.wal, tracer, engine)
    stateful = None
    if wl.name == "tail_merge":
        # the stateful layer's metrics, on the workload that merges a tail
        leg = StatefulResume(ctx)
        with tracer.span("leg.stateful"):
            leg.setup()
            stateful = leg.timed()
        # the leg's ops and oracle checks count in this run's result
        out.ops += stateful.ops
        out.failed += stateful.failed
        out.checks += stateful.checks
    gen_cache = os.path.join(ctx.work, "gen")
    t = time.perf_counter()
    ensure_wal(ctx.spark, gen_cache, ctx.root, wl.shape, ctx.seed)
    gen_s = time.perf_counter() - t
    shutil.rmtree(gen_cache, ignore_errors=True)
    ctx.spark.stop()  # flushes the event log; the JVM stays up and warm
    events = os.path.join(runs, run_id + ".events")
    shutil.move(os.path.join(ctx.work, "events"), events)
    log = EventLog.read(events)
    scaling = 0.0
    if wl.name == "bulk_replay":
        # same plan (shuffle partitions) as the timed runs, on one core, in
        # the JVM the timed runs already warmed
        ctx.spark = build_spark(1, {"spark.sql.shuffle.partitions": str(4 * cpus)})
        one = wl.wal.rows / wl.replay(os.path.join(ctx.work, "one-core"))
        scaling = (statistics.median(out.events_per_s) / one) / cpus
    tracer.dump(os.path.join(runs, run_id + ".spans.jsonl"), log)
    return compute(out, tracer, log, gen_s=gen_s, gc_s=gc_s, scaling_eff=scaling,
                   stateful=stateful)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "debezium_spark", "__init__.py")):
        print(f"perfbench: no debezium_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    runs, cache = os.path.join(WORK, "runs"), os.path.join(WORK, "cache")
    for d in (runs, cache, os.path.join(WORK, "tmp")):
        os.makedirs(d, exist_ok=True)
    # every temp file of this process, the JVM and Spark stays in the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    from host import HostWatch, PeakRss

    rss = PeakRss().start()
    host = HostWatch()
    run_id = (f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}"
              f"-t{args.trace}-{os.getpid()}")
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        record = measure(args.workload, args.seed, args.seconds, bool(args.trace),
                         work=work, cache=cache, runs=runs, run_id=run_id)
    finally:
        stop_jvm()
        rss.stop()
        left = wait_children()
        shutil.rmtree(work, ignore_errors=True)
    record["e2e"]["peak_rss_mb"] = rss.peak_mb
    record["rss_at_peak_mb"] = rss.at_peak
    record["host"] = {**host.finish(), "children_killed": left}
    with open(os.path.join(runs, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        from layers import PER_LAYER

        units = {k: v[0] for k, v in PER_LAYER.items()}
        metrics = record["layers"]
    else:
        units, metrics = END_TO_END, record["e2e"]
    print(
        f"# {args.workload} seed={args.seed} ops={record['attempted']} "
        f"failed={record['failed']} freshness_samples={record['freshness_samples']} "
        f"freshness_p90_used=p{round(100 * record['freshness_q'])} host={record['host']}"
    )
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
