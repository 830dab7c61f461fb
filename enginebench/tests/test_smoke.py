"""Tiny-scale smoke of every workload, traced and untraced, in one Spark
session; plus checks of BENCHMARK.json against the code and of a run
without the engine package."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from enginebench import common, run, trace

BENCHMARK = os.path.join(common.ROOT, "BENCHMARK.json")


def test_benchmark_json_matches_the_code():
    with open(BENCHMARK) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == trace.per_layer_names()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == {name: v["unit"] for name, v in run.end_to_end(_FakeResult(), 1.0).items()}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


class _FakeResult:
    setup_s, latencies, work, work_s = [1.0], [1.0], 1.0, 1.0


def test_without_the_engine_package_the_run_fails_without_a_result(tmp_path):
    shutil.copytree(common.BENCH_DIR, tmp_path / "enginebench")
    shutil.copy(BENCHMARK, tmp_path / "BENCHMARK.json")
    out = subprocess.run(
        [sys.executable, "enginebench/run.py", "--workload", "cdc_live", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    common.prepare_env()
    session = common.start_spark()
    yield session
    common.stop_spark(session)


def _tiny_cdc(monkeypatch):
    from enginebench import cdc_live

    for name, value in {"SCALE_FACTOR": 0.002, "SETUP_REPS": 2, "BURST_EVENTS": 300,
                        "PERIOD_S": 1.0, "NUM_BUCKETS": 8, "MOR_EVENTS": 50, "N_WARM": 1}.items():
        monkeypatch.setattr(cdc_live, name, value)
    return cdc_live


def _tiny_corpus(monkeypatch):
    from enginebench import corpus_dedup

    monkeypatch.setattr(corpus_dedup, "N_DOCS", 300)
    monkeypatch.setattr(corpus_dedup, "SETUP_REPS", 2)
    monkeypatch.setattr(corpus_dedup, "WARMUP_PASSES", 1)
    return corpus_dedup


# layers whose traced calls must run Spark jobs: their stage metrics come
# from the status store, so zero tasks would mean the collection is broken
JOB_LAYERS = ("snapshot.engine.snapshot_table", "changelog.txlog.overwrite", "changelog.txlog.apply",
              "changelog.txlog.read.scan", "functions.normalize.normalize_row",
              "validation.checks.run_all_checks", "ops.dedup.exact_dedup",
              "ops.dedup.minhash_verified_pairs", "ops.components.neardup_groups",
              "ops.textstats.quality_score")
WORKLOAD_LAYERS = {
    "cdc_live": ("tables.load_table", "snapshot.engine.snapshot_table", "changelog.txlog.overwrite",
                 "changelog.txlog.apply", "changelog.txlog.read", "changelog.txlog.read.scan",
                 "changelog.apply.latest_per_key", "functions.normalize.normalize_row",
                 "validation.checks.run_all_checks", "validation.checks.check_orphans",
                 "validation.drift.duplicate_groups"),
    "corpus_dedup": ("ops.dedup.exact_dedup", "ops.dedup.minhash_verified_pairs",
                     "ops.components.neardup_groups", "ops.textstats.quality_score"),
}


@pytest.mark.parametrize("traced", [False, True], ids=["untraced", "traced"])
@pytest.mark.parametrize("name", sorted(WORKLOAD_LAYERS))
def test_workload_smoke(spark, monkeypatch, name, traced):
    workload = {"cdc_live": _tiny_cdc, "corpus_dedup": _tiny_corpus}[name](monkeypatch)
    tracer = trace.Tracer(spark, enabled=traced)
    result = workload.run(spark, tracer, 5, 3)
    assert result.errors == []
    assert result.failed == 0 and result.attempted >= 1
    assert result.latencies and result.work_s > 0
    metrics = run.end_to_end(result, 1.0)
    assert all(v["value"] > 0 for v in metrics.values())
    if traced:
        layer = run.per_layer(result, tracer, 10.0)
        assert set(layer) == set(trace.per_layer_names())
        for lay in WORKLOAD_LAYERS[name]:
            assert layer[f"{lay}.wall_s"]["value"] > 0, lay
            if lay in JOB_LAYERS:
                assert layer[f"{lay}.tasks"]["value"] > 0, lay
                assert layer[f"{lay}.task_cpu_s"]["value"] > 0, lay
