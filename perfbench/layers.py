"""Per-layer metrics of a traced run, from spans and the Spark event log.

``PER_LAYER`` names, for each metric, the end-to-end metric and workload it
should move. Per-run totals are divided by the number of timed ops so that a
run that fits one more op into its window reads the same. A metric of a
layer that a workload does not reach reads 0.
"""

from __future__ import annotations

import statistics
from datetime import datetime

from spans import EventLog, Tracer, driver_serial

BULK, TAIL, STATEFUL = "bulk_replay", "tail_merge", "stateful_resume"

# name -> (unit, which way is better, the end-to-end metric and workload the
# layer metric should move). An optimisation of one layer should move its
# metric here and the named end-to-end metric, and leave the other workloads'
# end-to-end metrics alone.
PER_LAYER = {
    "sources.gen_s": ("s", "lower", "setup_s on every workload"),
    "sources.scan_s": ("s", "lower", f"events_per_s on {BULK}"),
    "sources.bytes_read": ("bytes", "lower", f"events_per_s on {BULK}"),
    "envelope.self_s": ("s", "lower", f"events_per_s on {BULK}"),
    "resolver.self_s": ("s", "lower", f"events_per_s on {BULK}"),
    "resolver.shuffle_bytes": ("bytes", "lower", f"events_per_s on {BULK}"),
    "resolver.task_skew": ("ratio", "lower", f"events_per_s on {BULK}"),
    "resolver.actions_per_event": ("ratio", "lower", "write_amp on every workload"),
    "lake.write_s": ("s", "lower", f"events_per_s on {BULK}"),
    "lake.merge_s": ("s", "lower", f"freshness_p50_s and write_amp on {TAIL}"),
    "lake.buckets_touched_frac": ("ratio", "lower", f"freshness_p50_s and write_amp on {TAIL}"),
    "lake.rows_rewritten_per_row_changed": (
        "ratio", "lower", f"freshness_p50_s and write_amp on {TAIL}"),
    "lake.manifest_s": ("s", "lower", f"freshness_p50_s on {TAIL}"),
    "registry.apply_s": ("s", "lower", f"freshness_p90_s on {TAIL} (batches crossing a DDL)"),
    "engine.batch_s": ("s", "lower", f"freshness_p50_s on {TAIL}; not {BULK}"),
    "engine.spark_jobs_per_batch": ("count", "lower", f"freshness_p50_s on {TAIL}; not {BULK}"),
    "engine.driver_serial_s": ("s", "lower", f"freshness_p50_s on {TAIL}; not {BULK}"),
    "engine.spill_bytes": ("bytes", "lower", f"events_per_s on {BULK} and peak_rss_mb"),
    "engine.gc_s": ("s", "lower", f"events_per_s on {BULK} and peak_rss_mb"),
    "engine.scaling_eff_1to4": ("ratio", "higher", f"events_per_s on {BULK}"),
    "stateful.trigger_s": ("s", "lower", f"events_per_s on {STATEFUL}"),
    "stateful.state_op_s": ("s", "lower", f"events_per_s on {STATEFUL}"),
    "stateful.triggers": ("count", "lower", f"events_per_s on {STATEFUL}"),
    "stateful.state_bytes": ("bytes", "lower", f"events_per_s and peak_rss_mb on {STATEFUL}"),
    "stateful.resume_s": ("s", "lower", f"events_per_s and peak_rss_mb on {STATEFUL}"),
    # stateful_resume is not in BENCHMARK.json (time budget); a traced
    # tail_merge run measures these on a stateful_resume leg after its window

    "trace.events_per_s": ("1/s", "higher", "none: events_per_s with tracing on, for the overhead"),
}

PREFIX_REPS = 3
# Stage scope of applyInPandasWithState's physical operator.
STATE_OP_SCOPE = "FlatMapGroupsInPandasWithState"


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def prefix_chain(ctx, wal, tracer: Tracer, engine) -> None:
    """Time the lazy sources -> envelope -> resolver chain by no-op writes of
    successive public-API prefixes over the same WAL, interleaved."""
    from debezium_spark import EngineConfig
    from debezium_spark.operators import resolver as R

    cfg = EngineConfig()
    chain = [
        ("sources", lambda: ctx.spark.read.parquet(wal.dir)),
        ("envelope", lambda: engine.envelope_stream()),
        ("resolver", lambda: R.resolve_lww(
            engine.envelope_stream(),
            key_cols=cfg.key_columns,
            salt_buckets=cfg.lww_salt_buckets,
            strategy=cfg.lww_strategy,
            broadcast_key_budget=cfg.lww_broadcast_key_budget,
        )),
    ]
    for _ in range(PREFIX_REPS):
        for name, make in chain:
            with tracer.span(f"prefix.{name}"):
                make().write.format("noop").mode("overwrite").save()


def gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: executors too)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def compute(out, tracer: Tracer, log: EventLog, *, gen_s: float, gc_s: float,
            scaling_eff: float, stateful=None) -> dict[str, float]:
    """``out``: the timed window's outcome; ``stateful``: the outcome of the
    stateful leg of a traced ``tail_merge`` run, if any."""
    t0, t1 = out.t0, out.t1
    ops = max(out.ops, 1)

    def in_window(name):
        return [s for s in tracer.named(name) if t0 <= s.start and s.end <= t1]

    # --- prefix chain ---------------------------------------------------
    prefix = {n: tracer.named(f"prefix.{n}") for n in ("sources", "envelope", "resolver")}
    scan, env, res = (_median(s.dur for s in spans) for spans in prefix.values())
    bytes_read = shuffle_bytes = task_skew = 0.0
    if prefix["sources"]:
        s = prefix["sources"][-1]
        bytes_read = log.files_read_in(s.start, s.end)
    if prefix["resolver"]:
        s = prefix["resolver"][-1]
        jobs = log.jobs_in(s.start, s.end)
        shuffle_bytes = sum(t["shuffle_w"] for t in log.tasks_of(jobs))
        stages = {sid for j in jobs for sid in j.stages if log.stage_tasks.get(sid)}
        if stages:
            lww = max(stages, key=lambda sid: sum(t["shuffle_r"] for t in log.stage_tasks[sid]))
            durs = [t["run"] for t in log.stage_tasks[lww]]
            med = statistics.median(durs)
            task_skew = max(durs) / med if med > 0 else 1.0

    # --- lake ------------------------------------------------------------
    merges = in_window("lake.merge")
    staged = in_window("lake.stage_initial")
    commits = in_window("lake.commit_staged")
    writes = merges + commits
    changed = sum(s.attrs.get("changed", 0) for s in writes)
    rewritten = sum(
        t["out_rows"]
        for s in merges + staged
        for t in log.tasks_of(log.jobs_in(s.start, s.end))
    )
    touched = [s.attrs["touched"] / out.n_buckets for s in writes
               if s.attrs.get("touched") is not None and out.n_buckets]
    manifest_s = sum(s.dur for s in in_window("lake.manifest") + in_window("lake.commit_manifest"))

    # --- engine batches ----------------------------------------------------
    batches = [
        s for n in ("engine.run", "engine.run_streaming", "engine.run_streaming_stateful")
        for s in in_window(n)
        if any(s.start <= w.start and w.end <= s.end for w in writes)
    ]
    tasks_t = log.tasks_of(log.jobs_in(t0, t1))

    # --- stateful: the workload itself, or the leg a traced tail run adds --
    st = stateful if stateful is not None else out
    st_ops = max(st.ops, 1)
    st_jobs = log.jobs_in(st.t0, st.t1)
    prog = [p for p in log.progress
            if sum(src.get("numInputRows", 0) for src in p.get("sources", [])) > 0
            and st.t0 <= _ts(p["timestamp"]) <= st.t1]
    if not [sp for sp in tracer.named("engine.run_streaming_stateful")
            if st.t0 <= sp.start and sp.end <= st.t1]:
        prog = []  # run_streaming's own triggers are not the stateful path
    state_bytes = max(
        (op.get("memoryUsedBytes", 0) for p in prog for op in p.get("stateOperators", [])),
        default=0,
    )
    state_op = sum(
        t["run"] for j in st_jobs for sid in j.stages
        if STATE_OP_SCOPE in log.stage_scopes.get(sid, "")
        for t in log.stage_tasks.get(sid, [])
    )

    return {
        "sources.gen_s": gen_s,
        "sources.scan_s": scan,
        "sources.bytes_read": float(bytes_read),
        "envelope.self_s": env - scan,
        "resolver.self_s": res - env,
        "resolver.shuffle_bytes": float(shuffle_bytes),
        "resolver.task_skew": task_skew,
        "resolver.actions_per_event": changed / max(out.rows_consumed, 1),
        "lake.write_s": sum(s.dur for s in staged + commits) / ops,
        "lake.merge_s": _median(s.dur for s in merges),
        "lake.buckets_touched_frac": _median(touched),
        "lake.rows_rewritten_per_row_changed": rewritten / changed if changed else 0.0,
        "lake.manifest_s": manifest_s / max(len(batches), 1),
        "registry.apply_s": sum(s.dur for s in in_window("registry.apply_to_lake")) / ops,
        "engine.batch_s": _median(s.dur for s in batches),
        "engine.spark_jobs_per_batch": _median(len(log.jobs_in(s.start, s.end)) for s in batches),
        "engine.driver_serial_s": _median(driver_serial(log, s) for s in batches),
        "engine.spill_bytes": sum(t["spill"] for t in tasks_t) / ops,
        "engine.gc_s": gc_s / ops,
        "engine.scaling_eff_1to4": scaling_eff,
        "stateful.trigger_s": _median(p["durationMs"]["triggerExecution"] / 1000.0 for p in prog),
        "stateful.state_op_s": state_op / st_ops,
        "stateful.triggers": len(prog) / st_ops,
        "stateful.state_bytes": float(state_bytes),
        "stateful.resume_s": st.extra.get("resume_s", 0.0),
        "trace.events_per_s": _median(out.events_per_s),
    }


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
