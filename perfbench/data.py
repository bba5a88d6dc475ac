"""Seeded WAL inputs for the benchmark, cached on disk, plus the oracle.

A WAL is generated by ``debezium_spark.sources.wal.write_wal`` from a
``WalSpec`` built out of the workload's shape and the run's seed. The cache
key holds the seed, the shape and a hash of ``sources/wal.py`` itself, so a
change to the generator never replays a stale WAL.

The oracle is the final table state with the semantics of ``tests/oracle.py``
(offset order, duplicate offsets applied once, PK-changing updates split into
delete + create, deletes and tombstones remove the key), computed with pandas
straight from the WAL files, without Spark and without the engine. It is
computed once per cached WAL and stored next to it as a set of
``(repo, path, sha256(content))`` rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

import pandas as pd
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Shape:
    """What a workload picks about its input: nothing else is tuned."""

    n_keys: int
    n_events: int
    n_files: int  # parquet segments the stream part is cut into (+1 snapshot)


@dataclass
class Wal:
    """A generated, cached WAL and its oracle."""

    dir: str
    shape: Shape
    seed: int
    rows: int
    bytes: int
    segments: list[str]   # parquet file names in offset order; [0] = snapshot
    seg_rows: list[int]
    seg_bytes: list[int]
    seg_max_offset: list[int]
    oracle: set[tuple[str, str, str]]
    live_bytes: int
    gen_s: float  # generation time in this process, 0.0 on a cache hit

    def spec(self):
        from debezium_spark.sources import wal as W

        return W.WalSpec(
            n_keys=self.shape.n_keys, n_events=self.shape.n_events, seed=self.seed
        )


def generator_hash(repo_root: str) -> str:
    with open(os.path.join(repo_root, "debezium_spark", "sources", "wal.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def ensure_wal(spark, cache_root: str, repo_root: str, shape: Shape, seed: int) -> Wal:
    """Return the cached WAL for (seed, shape, generator hash), generating it
    (and its oracle) on a miss."""
    from debezium_spark.sources import wal as W

    key = (
        f"s{seed}-k{shape.n_keys}-e{shape.n_events}-f{shape.n_files}"
        f"-g{generator_hash(repo_root)}"
    )
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "meta.json")
    gen_s = 0.0
    if not os.path.exists(meta_path):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        spec = W.WalSpec(n_keys=shape.n_keys, n_events=shape.n_events, seed=seed)
        t0 = time.perf_counter()
        W.write_wal(spark, spec, os.path.join(tmp, "wal"), n_files=shape.n_files)
        gen_s = time.perf_counter() - t0
        meta = _describe(os.path.join(tmp, "wal"))
        oracle, live_bytes = reduce_wal(os.path.join(tmp, "wal"))
        meta.update(shape=asdict(shape), seed=seed, live_bytes=live_bytes)
        pd.DataFrame(sorted(oracle), columns=["repo", "path", "sha"]).to_parquet(
            os.path.join(tmp, "oracle.parquet")
        )
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.replace(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    o = pd.read_parquet(os.path.join(d, "oracle.parquet"))
    return Wal(
        dir=os.path.join(d, "wal"),
        shape=shape,
        seed=seed,
        rows=meta["rows"],
        bytes=meta["bytes"],
        segments=meta["segments"],
        seg_rows=meta["seg_rows"],
        seg_bytes=meta["seg_bytes"],
        seg_max_offset=meta["seg_max_offset"],
        oracle=set(zip(o["repo"], o["path"], o["sha"])),
        live_bytes=meta["live_bytes"],
        gen_s=gen_s,
    )


def _describe(wal_dir: str) -> dict:
    """Per-segment row counts, sizes and max offsets, from parquet footers."""
    segs = sorted(f for f in os.listdir(wal_dir) if f.endswith(".parquet"))
    rows, sizes, maxo = [], [], []
    for f in segs:
        p = os.path.join(wal_dir, f)
        md = pq.ParquetFile(p).metadata
        rows.append(md.num_rows)
        sizes.append(os.path.getsize(p))
        maxo.append(int(pq.read_table(p, columns=["offset"])["offset"].to_pandas().max()))
    return {
        "segments": segs, "seg_rows": rows, "seg_bytes": sizes,
        "seg_max_offset": maxo, "rows": sum(rows), "bytes": sum(sizes),
    }


def reduce_wal(wal_dir: str) -> tuple[set[tuple[str, str, str]], int]:
    """Final state of the WAL as ``{(repo, path, sha256(content))}`` plus the
    byte size of the live rows' column values.

    Vectorised form of ``tests/oracle.py``: every event becomes zero, one or
    two keyed actions at its position in (offset, is_tombstone) order, and the
    last action per key decides the key's final state.
    """
    t = pq.read_table(
        wal_dir, columns=["offset", "op", "repo", "path", "is_tombstone", "after"]
    ).flatten()
    w = t.to_pandas()
    w = w.sort_values(["offset", "is_tombstone"], kind="stable")
    w = w.drop_duplicates(["offset", "is_tombstone"], keep="first")
    w = w.reset_index(drop=True)
    w["pos"] = w.index
    tomb = w["is_tombstone"].fillna(False).astype(bool)
    op = w["op"]
    has_after = w["after.repo"].notna()
    upsert = ~tomb & op.isin(["r", "c", "u"]) & has_after
    moved = upsert & (op == "u") & (
        (w["after.repo"] != w["repo"]) | (w["after.path"] != w["path"])
    )
    delete = tomb | (~tomb & (op == "d")) | moved
    payload = ["after.commit", "after.lang", "after.content", "after.size_bytes"]
    dels = w.loc[delete, ["repo", "path", "pos"]].assign(sub=0, live=False)
    ups = w.loc[upsert, ["after.repo", "after.path", "pos", *payload]].rename(
        columns={"after.repo": "repo", "after.path": "path"}
    ).assign(sub=1, live=True)
    acts = pd.concat([dels, ups], ignore_index=True)
    final = acts.sort_values(["pos", "sub"], kind="stable").drop_duplicates(
        ["repo", "path"], keep="last"
    )
    live = final[final["live"]]
    content = live["after.content"].fillna("")
    shas = [hashlib.sha256(c.encode()).hexdigest() for c in content]
    state = set(zip(live["repo"], live["path"], shas))
    if len(state) != len(live):
        raise AssertionError("oracle produced a duplicate key")
    text_bytes = sum(
        int(live[c].fillna("").str.len().sum())
        for c in ("repo", "path", "after.commit", "after.lang")
    ) + int(content.str.len().sum())
    live_bytes = text_bytes + 8 * int(live["after.size_bytes"].notna().sum())
    return state, live_bytes
