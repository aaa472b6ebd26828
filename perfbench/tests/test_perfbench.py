"""Tests of the benchmark itself, at the small input size.

Run from the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider

One Spark session serves every test; the first workload run pays the
engine's warm-up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def test_same_seed_same_input_bytes(tmp_path):
    paths = [tmp_path / f"v{i}.parquet" for i in range(3)]
    gen.write_vectors(str(paths[0]), 7, "embed_tvp", 500, 128)
    gen.write_vectors(str(paths[1]), 7, "embed_tvp", 500, 128)
    gen.write_vectors(str(paths[2]), 8, "embed_tvp", 500, 128)
    assert paths[0].read_bytes() == paths[1].read_bytes()
    assert gen.content_hash([str(paths[0])]) != gen.content_hash([str(paths[2])])
    gen.write_tables(str(tmp_path / "a"), 7, 0.001)
    gen.write_tables(str(tmp_path / "b"), 7, 0.001)
    assert gen.content_hash([str(tmp_path / "a")]) == gen.content_hash([str(tmp_path / "b")])


def test_vectors_are_unit_norm_float32():
    x, labels = gen.vectors(3, "s", 200, 128)
    assert x.dtype.name == "float32" and x.shape == (200, 128)
    assert abs(float((x * x).sum(axis=1).max()) - 1.0) < 1e-5
    assert set(labels.tolist()) <= set(range(10))


def test_tail_is_highest_percentile_with_ten_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max")
    value, label = run.tail([float(i) for i in range(1, 41)])
    assert value == 30.0 and label == "p75"  # 10 samples (31..40) beyond it


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    saved = dict(os.environ)
    work = str(tmp_path_factory.mktemp("perfbench"))
    env = run.pin_env(work)
    from vector_database_watermarking_spark.session import get_spark

    spark = get_spark("perfbench-tests")
    yield spark, env, work
    spark.stop()
    os.environ.clear()
    os.environ.update(saved)


@pytest.fixture(scope="module")
def results(session):
    """The result line of every workload, untraced and traced."""
    spark, env, work = session
    out = {}
    for w in BENCHMARK["workloads"]:
        for trace in (0, 1):
            args = argparse.Namespace(workload=w["name"], seed=5, seconds=0, trace=trace)
            path = os.path.join(work, f"{w['name']}-{trace}")
            out[w["name"], trace] = run.run(spark, args, env, 1.0, path, "small")
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_workload_runs_and_emits_every_metric(results, workload, trace):
    info, result = results[workload, trace]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    if workload == "detect_pipeline":  # DuckDB is a test dependency of the repo
        assert set(info["notes"]["reference"].values()) == {"oracle"}


def test_every_declared_layer_is_measured_somewhere(results):
    """Per-layer metrics a workload declares are measured, never
    zero-filled, on that workload; every per-layer metric in
    BENCHMARK.json is the common set or declared by some workload."""
    import workloads

    declared = {n for w in workloads.WORKLOADS.values() for n in w.layers}
    assert {m["name"] for m in BENCHMARK["per_layer"]} == declared | set(run.common_layers())
    for name, w in workloads.WORKLOADS.items():
        metrics = results[name, 1][1]["metrics"]
        assert all(metrics[n]["value"] > 0 for n in w.layers), name


def test_a_run_measures_whole_sets():
    import workloads

    class TwoOps:
        passes_per_set = 2

        def reset(self):
            pass

        def ops(self):
            return [workloads.Op(n, lambda n=n: n, lambda out: out == "a") for n in "ab"]

    sets, passes, failed = run.measure(TwoOps(), 0)
    assert [len(s) for s in sets] == [4] and len(passes) == 2 and failed == ["b", "b"]


def test_injected_wrong_results_count_as_failed_ops(session, monkeypatch):
    """A wrong bit string, and a registry row that is wrong from the start
    (same row count, one value off), both fail their ops."""
    import workloads
    from pyspark.sql import functions as F
    from vector_database_watermarking_spark.registry import Q

    spark, _, work = session
    flipped = "".join("1" if b == "0" else "0" for b in workloads.WATERMARK)
    monkeypatch.setattr(workloads.scpw, "scpw_extract", lambda *a, **k: flipped)
    query = "rel_nation_trade"
    entry = workloads.QUERIES[query]
    monkeypatch.setitem(workloads.QUERIES, query, Q(
        lambda s, d: entry.fn(s, d).withColumn("revenue_e6", F.col("revenue_e6") + 1), entry.oracle
    ))
    wl = workloads.WORKLOADS["detect_pipeline"](spark, 5, os.path.join(work, "inject"), "small")
    wl.generate()
    wl.prepare()
    sets, _, failed = run.measure(wl, 0)
    assert [len(s) for s in sets] == [len(wl.ops())]
    assert sorted(failed) == sorted(["scpw/random_delete", query])
