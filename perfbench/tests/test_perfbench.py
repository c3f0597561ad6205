"""The benchmark's own tests (one Spark JVM for the module, tiny inputs).

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from perfbench import compare, datagen, metrics, run as bench
from perfbench import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = W.Sizes(sf=0.001, log_rows=40, cdc_rows=40, files_per_s=0.0, min_files=2, warm_files=1)


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    base = tmp_path_factory.mktemp("perfbench")
    bench._configure_env(str(base), trace=True)
    yield base
    bench._shutdown()


def _run(work, workload, trace, name):
    d = work / name
    d.mkdir()
    return bench.run(workload, seed=3, seconds=0.1, trace=trace, work=str(d),
                     cache=str(work / "cache"), sizes=TINY, setup_repeats=1)


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_every_named_metric_is_printed_with_its_unit(work, workload):
    report, result = _run(work, workload, False, f"{workload}-e2e")
    assert result["correct"], report["failures"]
    assert result["attempted"] > 0 and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == metrics.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert {k: v["unit"] for k, v in report["metrics"].items()} == metrics.REPORT[workload]

    report, result = _run(work, workload, True, f"{workload}-layers")
    assert result["correct"], report["failures"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == metrics.PER_LAYER
    assert result["metrics"]["trace.spans"]["value"] > 0
    assert result["metrics"]["trace.pass_wall_ratio"]["value"] > 0
    assert result["metrics"]["session.jvm_rss_peak_mb"]["value"] > 0
    if workload == "stream_etl":  # full CDC files only, so a like-for-like ratio
        assert result["metrics"]["streaming.cdc_router.late_vs_early_batch_ratio"]["value"] > 0


def test_corrupted_oracle_hash_fails_an_op(work, monkeypatch):
    real = W.prepare_mix

    def corrupted(run, names):
        table_dir, expected = real(run, names)
        return table_dir, {**expected, names[0]: {**expected[names[0]], "sha256": "0" * 64}}

    monkeypatch.setattr(W, "prepare_mix", corrupted)
    report, result = _run(work, "warehouse_sql", False, "bad-hash")
    assert not result["correct"] and result["failed"] > 0
    assert report["metrics"]["failed_ops_ratio"]["value"] > 0
    assert any("oracle" in f["why"] for f in report["failures"])


def test_truncated_sink_output_fails_an_op(work, monkeypatch):
    real = W.verify_log

    def truncated(spark, lz, out, progress):
        files = sorted(glob.glob(f"{out}/log/DWD_PAGE_LOG/*.parquet"),
                       key=os.path.getsize)
        os.remove(files[-1])
        return real(spark, lz, out, progress)

    monkeypatch.setattr(W, "verify_log", truncated)
    report, result = _run(work, "stream_etl", False, "truncated")
    assert not result["correct"] and result["failed"] > 0
    assert report["metrics"]["failed_ops_ratio"]["value"] > 0


def test_group_totals_are_per_pass_whatever_the_sample_counts(monkeypatch):
    """A query sampled twice counts once (its mean), one sampled once
    counts once: the totals do not depend on where the timed loop stopped."""
    def sample(name, op, build_s):
        return {"name": name, "op": op, "group": "operators.join", "build_s": build_s,
                "exec_s": 1.0}

    def job(group):
        return {"group": group, "tasks": 4, "task_s": 2.0, "shuffle_bytes": 0, "gc_s": 0.0}

    class Ctx:
        defaultParallelism = 4

    class Session:
        sparkContext = Ctx()

    jobs = [job("pb:a:build"), job("pb:a:build"), job("pb:c:exec")]
    monkeypatch.setattr(W, "spark_jobs", lambda spark: jobs)
    run = W.Run(Session(), "", "", 0, 0.0, W.Sizes())
    samples = [sample("q1", "a", 1.0), sample("q1", "b", 3.0), sample("q2", "c", 10.0)]
    out = W.mix_layers(run, samples, ["q1", "q2"])
    assert out["operators.join.build_s"] == pytest.approx(2.0 + 10.0)
    assert out["operators.join.exec_s"] == pytest.approx(2.0)
    assert out["operators.join.build_jobs"] == pytest.approx(1.0)
    assert out["operators.join.tasks"] == pytest.approx(4 + 4)
    assert out["queries.build_s"] == pytest.approx(12.0)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    for seed, name in ((5, "a"), (5, "b"), (6, "c")):
        datagen.write_tables(str(tmp_path / name), 0.001, seed)
        datagen.write_landing_zone(str(tmp_path / name / "lz"), seed, 3, 30, 30)

    def blob(name):
        return [open(p, "rb").read() for p in sorted(glob.glob(str(tmp_path / name / "**/*.parquet"),
                                                               recursive=True))]
    assert blob("a") == blob("b")
    assert blob("a") != blob("c")


def test_results_from_other_hosts_are_not_compared():
    def saved(nproc, value):
        fp = {"nproc": nproc, "ram_gb": 15.7, "spark": "4.1.2", "python": "3.11.7",
              "java": "17", "cores_used": nproc, "driver_memory": "2g"}
        return {"report": {"fingerprint": fp, "workload": "stream_etl", "trace": 0},
                "result": {"metrics": {"setup_s": {"value": value, "unit": "s"}}}}

    table = compare.compare([saved(4, 1.0)], [saved(4, 1.5)])
    assert table["setup_s"]["ratio"] == pytest.approx(1.5)
    with pytest.raises(compare.Incomparable):
        compare.compare([saved(4, 1.0)], [saved(32, 1.0)])


def test_benchmark_json_declares_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == bench.WORKLOADS
