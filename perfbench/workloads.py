"""The workloads: set-up, the timed loop and the oracle check.

Each workload drives the engine only through ``CdcEngine.run``,
``CdcEngine.run_streaming``, ``CdcEngine.run_streaming_stateful`` and
``LakeTable``, with ``EngineConfig()`` defaults: the only things a workload
chooses are its input shape (WAL size, key count, segment size) and, for the
tail, the arrival schedule.

Every timed operation's lake is compared afterwards, outside the timed wall,
with the WAL's oracle; a mismatch or an exception counts as a failed op.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

from data import Shape, Wal, ensure_wal

BULK_SHAPE = Shape(n_keys=10_000, n_events=80_000, n_files=8)
STATEFUL_SHAPE = Shape(n_keys=2_000, n_events=10_000, n_files=8)
TAIL_KEYS = 10_000
# One segment every period, 100 events/s offered. The period is longer than a
# poll (about 3-4 s on a 4-core host), so each segment is normally committed
# by its own poll and the number of merges does not depend on how fast the
# host ran; a slower engine shows as segments queueing behind a running poll.
TAIL_SEGMENT_EVENTS = 500
TAIL_PERIOD_S = 5.0
TAIL_WARM_SEGMENTS = 3       # polled during set-up, the first with the snapshot


@dataclass
class Ctx:
    spark: object
    root: str          # checkout root
    work: str          # scratch area of this run
    cache: str         # WAL cache
    seed: int
    seconds: float
    tracer: object = None   # trace.Tracer in a traced run
    scale: float = 1.0      # the self-test shrinks every shape by this


@dataclass
class Outcome:
    """What a workload measured, as per-op samples and per-run figures."""

    wal: Wal
    ops: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)
    events_per_s: list = field(default_factory=list)
    freshness: list = field(default_factory=list)
    write_amp: float = 0.0
    space_amp: float = 0.0
    t0: float = 0.0          # first timed op starts
    t1: float = 0.0          # last timed op ends
    rows_consumed: int = 0   # WAL rows fed to the timed ops
    n_buckets: int = 0       # of the lake the timed ops wrote
    extra: dict = field(default_factory=dict)


# ------------------------------------------------------------------ helpers
def scaled(shape: Shape, scale: float) -> Shape:
    if scale == 1.0:
        return shape
    return Shape(
        n_keys=max(200, int(shape.n_keys * scale)),
        n_events=max(400, int(shape.n_events * scale)),
        n_files=shape.n_files,
    )


def new_engine(ctx: Ctx, wal: Wal, wal_path: str, d: str):
    from debezium_spark import CdcEngine, EngineConfig
    from debezium_spark.sources import wal as W

    return CdcEngine(
        ctx.spark,
        EngineConfig(),
        wal_path=wal_path,
        target_path=os.path.join(d, "lake"),
        work_dir=os.path.join(d, "work"),
        schema_changes=W.schema_history(ctx.spark, wal.spec()),
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


def link_segments(wal: Wal, idx, live: str) -> None:
    """Make segments visible in ``live`` atomically (hard links)."""
    for i in idx:
        name = wal.segments[i]
        os.link(os.path.join(wal.dir, name), os.path.join(live, name))


def check_lake(ctx: Ctx, lake_path: str, wal: Wal) -> dict:
    """Final lake state vs the oracle: (repo, path, sha256(content)) set
    equality, plus no key present twice."""
    from pyspark.sql import functions as F

    from debezium_spark import LakeTable

    table = LakeTable(ctx.spark, lake_path)
    rows = (
        table.read()
        .select("repo", "path", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
        .collect()
    )
    got = {(r[0], r[1], r[2]) for r in rows}
    dup = len(rows) - len({(r[0], r[1]) for r in rows})
    return {
        "ok": dup == 0 and got == wal.oracle,
        "rows": len(rows), "dup_keys": dup,
        "missing": len(wal.oracle - got), "extra": len(got - wal.oracle),
        "n_buckets": table.n_buckets,
    }


def commit_times(ctx: Ctx, lake_path: str) -> list[tuple[int, float]]:
    """(max_offset, commit time) of every committed lake snapshot."""
    from debezium_spark import LakeTable

    snaps = LakeTable(ctx.spark, lake_path).snapshots()
    return sorted((s["max_offset"], s["ts"]) for s in snaps if s["batch_id"] >= 0)


def run_op(out: Outcome, ctx: Ctx, name: str, fn) -> bool:
    """One timed operation; an exception counts as a failure, not a crash."""
    out.ops += 1
    try:
        with ctx.tracer.span(name) if ctx.tracer else contextlib.nullcontext():
            fn()
        return True
    except Exception as e:  # noqa: BLE001 - the run reports failures as counts
        out.failed += 1
        out.extra.setdefault("errors", []).append(f"{type(e).__name__}: {str(e)[:300]}")
        return False


# -------------------------------------------------------------- bulk_replay
class BulkReplay:
    """The full WAL replayed into an empty lake in one ``run()`` batch."""

    name = "bulk_replay"
    warmups = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.shape = scaled(BULK_SHAPE, ctx.scale)

    def setup(self) -> None:
        ctx = self.ctx
        self.wal = ensure_wal(ctx.spark, ctx.cache, ctx.root, self.shape, ctx.seed)
        for i in range(self.warmups):
            d = os.path.join(ctx.work, f"warm-{i}")
            new_engine(ctx, self.wal, self.wal.dir, d).run()
            shutil.rmtree(d, ignore_errors=True)

    def replay(self, d: str) -> float:
        eng = new_engine(self.ctx, self.wal, self.wal.dir, d)
        t0 = time.time()
        eng.run()
        return time.time() - t0

    def timed(self) -> Outcome:
        ctx, wal = self.ctx, self.wal
        out = Outcome(wal=wal)
        out.t0 = time.time()
        dirs = []
        while not dirs or time.time() - out.t0 < ctx.seconds:
            d = os.path.join(ctx.work, f"replay-{len(dirs)}")
            walls = []
            ok = run_op(out, ctx, "op.replay", lambda: walls.append(self.replay(d)))
            if ok:
                out.events_per_s.append(wal.rows / walls[0])
                out.freshness.append(walls[0])
            dirs.append((d, ok))
            out.rows_consumed += wal.rows
        out.t1 = time.time()
        wamp, samp = [], []
        for d, ok in dirs:
            if ok:
                lake = os.path.join(d, "lake")
                chk = check_lake(ctx, lake, wal)
                out.checks.append(chk)
                out.failed += not chk["ok"]
                out.n_buckets = chk["n_buckets"]
                b = dir_bytes(lake)
                wamp.append(b / wal.bytes)
                samp.append(b / wal.live_bytes)
            shutil.rmtree(d, ignore_errors=True)
        out.write_amp = statistics.median(wamp) if wamp else 0.0
        out.space_amp = statistics.median(samp) if samp else 0.0
        return out


# --------------------------------------------------------------- tail_merge
class TailMerge:
    """Snapshot pre-loaded, then small WAL segments released on a fixed
    schedule (open loop) while the harness polls ``run_streaming()``."""

    name = "tail_merge"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.period = TAIL_PERIOD_S * ctx.scale
        self.n_timed = max(2, round(ctx.seconds / self.period))
        seg_events = max(20, int(TAIL_SEGMENT_EVENTS * ctx.scale))
        n_segs = TAIL_WARM_SEGMENTS + self.n_timed
        self.shape = Shape(
            n_keys=max(200, int(TAIL_KEYS * ctx.scale)),
            n_events=seg_events * n_segs,
            n_files=n_segs,
        )

    def setup(self) -> None:
        ctx = self.ctx
        self.wal = ensure_wal(ctx.spark, ctx.cache, ctx.root, self.shape, ctx.seed)
        if len(self.wal.segments) != 1 + self.shape.n_files:
            raise RuntimeError(
                f"expected {1 + self.shape.n_files} WAL segments, got "
                f"{len(self.wal.segments)}"
            )
        self.dir = os.path.join(ctx.work, "tail")
        self.live = os.path.join(self.dir, "wal")
        os.makedirs(self.live)
        self.eng = new_engine(ctx, self.wal, self.live, self.dir)
        # pre-load: the snapshot (and the first segment) into the empty lake,
        # then warm polls that merge into the populated table
        link_segments(self.wal, [0], self.live)
        for i in range(1, 1 + TAIL_WARM_SEGMENTS):
            link_segments(self.wal, [i], self.live)
            self.eng.run_streaming()

    def timed(self) -> Outcome:
        from debezium_spark import LakeTable

        ctx, wal = self.ctx, self.wal
        out = Outcome(wal=wal)
        lake = os.path.join(self.dir, "lake")
        table = LakeTable(ctx.spark, lake)
        segs = list(range(1 + TAIL_WARM_SEGMENTS, len(wal.segments)))
        bytes0 = dir_bytes(lake)
        out.t0 = time.time()
        due = [out.t0 + k * self.period for k in range(len(segs))]
        released: list[float] = []

        def releaser():
            for k, i in enumerate(segs):
                delay = due[k] - time.time()
                if delay > 0:
                    time.sleep(delay)
                link_segments(wal, [i], self.live)
                released.append(time.time())

        th = threading.Thread(target=releaser, daemon=True)
        th.start()
        last_max = wal.seg_max_offset[-1]
        seen = 0
        deadline = out.t0 + ctx.seconds + 90
        while time.time() < deadline and out.failed <= 3:
            n = len(released)
            if n > seen or (n == len(segs) and not th.is_alive()):
                # once every segment is out, poll until the last one commits
                seen = n
                run_op(out, ctx, "op.poll", self.eng.run_streaming)
                if table.committed_max_offset >= last_max:
                    break
            else:
                time.sleep(0.005)
        th.join()
        out.t1 = time.time()
        commits = commit_times(ctx, lake)
        for k, i in enumerate(segs):
            ts = [t for mo, t in commits if mo >= wal.seg_max_offset[i]]
            if ts:
                out.freshness.append(min(ts) - due[k])
        lateness = [r - d for r, d in zip(released, due)]
        timed_rows = sum(wal.seg_rows[i] for i in segs)
        out.rows_consumed = timed_rows
        out.events_per_s.append(timed_rows / (max(t for _, t in commits) - out.t0))
        chk = check_lake(ctx, lake, wal)
        out.checks.append(chk)
        out.failed += not chk["ok"]
        end_bytes = dir_bytes(lake)
        out.write_amp = (end_bytes - bytes0) / sum(wal.seg_bytes[i] for i in segs)
        out.space_amp = end_bytes / wal.live_bytes
        out.n_buckets = chk["n_buckets"]
        out.extra.update(
            offered_events_per_s=round(timed_rows / (len(segs) * self.period), 1),
            segments=len(segs),
            generator_late_p50_s=statistics.median(lateness),
            generator_late_max_s=max(lateness),
        )
        return out


# ---------------------------------------------------------- stateful_resume
class StatefulResume:
    """``run_streaming_stateful`` in two phases. Set-up runs phase 1 over the
    snapshot and the first half of the stream; the timed op is phase 2: a
    brand-new engine over the same directories resumes the second half from
    the streaming checkpoint and state store."""

    name = "stateful_resume"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.shape = scaled(STATEFUL_SHAPE, ctx.scale)

    def setup(self) -> None:
        ctx = self.ctx
        self.wal = ensure_wal(ctx.spark, ctx.cache, ctx.root, self.shape, ctx.seed)
        self.half = 1 + (len(self.wal.segments) - 1) // 2
        self.dir = os.path.join(ctx.work, "stateful")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.live = os.path.join(self.dir, "wal")
        os.makedirs(self.live)
        link_segments(self.wal, range(0, self.half), self.live)
        new_engine(ctx, self.wal, self.live, self.dir).run_streaming_stateful()

    def timed(self) -> Outcome:
        ctx, wal = self.ctx, self.wal
        out = Outcome(wal=wal)
        lake = os.path.join(self.dir, "lake")
        second = range(self.half, len(wal.segments))
        out.rows_consumed = sum(wal.seg_rows[i] for i in second)
        bytes0 = dir_bytes(lake)
        out.t0 = time.time()
        link_segments(wal, second, self.live)
        eng = new_engine(ctx, wal, self.live, self.dir)
        ok = run_op(out, ctx, "op.resume", eng.run_streaming_stateful)
        out.t1 = time.time()
        if ok:
            out.events_per_s.append(out.rows_consumed / (out.t1 - out.t0))
            mine = [t for _, t in commit_times(ctx, lake) if t >= out.t0]
            if mine:
                out.freshness.append(max(mine) - out.t0)
                out.extra["resume_s"] = min(mine) - out.t0
            chk = check_lake(ctx, lake, wal)
            out.checks.append(chk)
            out.failed += not chk["ok"]
            out.n_buckets = chk["n_buckets"]
            end_bytes = dir_bytes(lake)
            out.write_amp = (end_bytes - bytes0) / sum(wal.seg_bytes[i] for i in second)
            out.space_amp = end_bytes / wal.live_bytes
        return out


WORKLOADS = {w.name: w for w in (BulkReplay, TailMerge, StatefulResume)}
