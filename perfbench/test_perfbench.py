"""Tiny-scale self-test of the benchmark harness: every workload, the traced
path and the oracle checks, in one Spark JVM.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from data import Shape, ensure_wal, reduce_wal  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = 0.05
SEED = 3


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("perfbench")
    d = {k: str(base / k) for k in ("work", "cache", "runs")}
    for p in d.values():
        os.makedirs(p)
    yield d
    run.stop_jvm()


# bulk_replay runs first and untraced: it pays the cold-JVM cost. The traced
# tail_merge run also runs the stateful_resume leg, so all three workloads,
# the traced path and every oracle check run here.
@pytest.mark.parametrize("workload,trace", [("bulk_replay", False), ("tail_merge", True)])
def test_workload_end_to_end(dirs, workload, trace):
    rec = run.measure(
        workload, SEED, 0.1, trace,
        work=os.path.join(dirs["work"], workload), cache=dirs["cache"],
        runs=dirs["runs"], run_id=workload, scale=SCALE,
    )
    assert rec["correct"], rec["checks"]
    assert rec["failed"] == 0 and rec["attempted"] >= 1
    assert rec["e2e"]["events_per_s"] > 0 and rec["e2e"]["freshness_p50_s"] > 0
    if not trace:
        return
    assert set(rec["layers"]) == set(PER_LAYER)
    assert rec["layers"]["engine.batch_s"] > 0
    assert os.path.exists(os.path.join(dirs["runs"], workload + ".spans.jsonl"))
    assert rec["layers"]["lake.merge_s"] > 0
    assert rec["layers"]["stateful.triggers"] > 0
    assert rec["layers"]["stateful.resume_s"] > 0
    assert len(rec["checks"]) == 2  # the tail's lake and the stateful leg's


def test_oracle_matches_reference_reducer(dirs):
    """The vectorised oracle agrees with tests/oracle.py on a generated WAL."""
    from tests.oracle import reduce_wal as reference, state_hashes

    spark = run.build_spark(2, {})
    wal = ensure_wal(spark, dirs["cache"], ROOT, Shape(300, 1500, 3), SEED)
    spark.stop()
    ref = state_hashes(reference(pd.read_parquet(wal.dir)))
    got, live_bytes = reduce_wal(wal.dir)
    assert got == ref == wal.oracle
    assert live_bytes > 0


def test_benchmark_json_names_every_metric():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_tail_percentile_rule():
    xs = [float(i) for i in range(1, 201)]
    assert run.tail_percentile(xs) == (pytest.approx(180.1), 0.9)
    v, q = run.tail_percentile(xs[:40])      # 40 samples: p75 keeps 10 beyond
    assert q == pytest.approx(0.75)
    assert run.tail_percentile([2.0, 4.0]) == (3.0, 0.5)
