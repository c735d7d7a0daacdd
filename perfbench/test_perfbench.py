"""Self-test of the benchmark at tiny sizes (about six minutes):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import run as bench  # noqa: E402

DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in DECLARED["workloads"]]


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in DECLARED[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _units("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_unknown_workload_exits_nonzero():
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nope", "--seed", "1", "--seconds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""


@pytest.fixture(scope="module")
def traced():
    """Two traced tiny runs of each workload, same seed."""
    return {w: [bench.run(w, seed=9, seconds=1, trace=True, tiny=True) for _ in range(2)] for w in WORKLOADS}


def test_traced_run_prints_every_per_layer_metric(traced):
    for runs in traced.values():
        for result, _, _ in runs:
            assert result["correct"], result
            assert {k: v["unit"] for k, v in result["metrics"].items()} == _units("per_layer")


def test_child_spans_nest_inside_parents(traced):
    for runs in traced.values():
        spans = runs[0][2].spans
        by_id = {s.id: s for s in spans}
        assert spans and all(s.end >= s.start for s in spans)
        for s in spans:
            if s.parent is not None:
                p = by_id[s.parent]
                assert p.start <= s.start and s.end <= p.end, (p.name, s.name)
        parents = {(by_id[s.parent].name if s.parent is not None else None, s.name) for s in spans}
        assert ("replay.run", "replay.apply_batch") in parents
        assert ("replay.apply_batch", "table.merge") in parents


def test_span_job_counts_repeat_exactly(traced):
    for runs in traced.values():
        jobs = [{k: v["value"] for k, v in r[0]["metrics"].items() if k.endswith(".jobs")} for r in runs]
        assert jobs[0] == jobs[1]
        assert jobs[0]["replay.apply_batch.jobs"] > 0 and jobs[0]["table.merge.jobs"] > 0


def test_maintenance_spans_run_on_the_trickle(traced):
    m = traced["trickle_mor"][0][0]["metrics"]
    for span in ("table.maintain", "table.compact", "table.tombstone_stats"):
        assert m[f"{span}.calls"]["value"] >= 1, span


@pytest.fixture(scope="module")
def replayed():
    """A tiny backfill replayed in a live session, for the gate tests."""
    import shutil

    import workloads

    work, host = ROOT / ".perfbench_work" / "selftest-gate", bench.host_info()
    bench.isolate(work, host)
    spark = bench.start_session(host, work)
    try:
        spec = workloads.TINY["backfill_cow"]
        inputs = workloads.write_inputs(spark, spec, 4, str(work))
        d = workloads.Driver(spark, spec, inputs, str(work / "t"))
        d.unit()
        yield d
    finally:
        bench.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("path", ["oracle", "spark"])
def test_gate_passes_then_fails_on_corruption(replayed, path, monkeypatch):
    import gate
    from pyspark.sql import functions as F

    if path == "spark":
        monkeypatch.setattr(gate, "ORACLE_MAX_ROWS", 0)
    d = replayed
    args = (d.table, d.inputs.base, d.inputs.log, d.epochs, d.events)
    assert gate.check(*args) == []
    got = d.table.read()
    victim = got.orderBy("doc_id").first()["doc_id"]
    dropped = got.filter(F.col("doc_id") != victim)
    changed = got.withColumn(
        "tokens",
        F.when(F.col("doc_id") == victim, F.transform("tokens", lambda t, i: F.when(i == 0, t + 1).otherwise(t))).otherwise(
            F.col("tokens")
        ),
    )
    assert gate.check(*args, got=dropped)
    assert gate.check(*args, got=changed)
    # the ledger half of the gate
    assert gate.check(d.table, d.inputs.base, d.inputs.log, d.epochs[:-1], d.events)
