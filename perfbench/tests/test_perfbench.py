"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The fast tests need no Spark.  The ``tiny`` ones run ``perfbench/run.py``
end to end at the tiny scale (a few minutes in all): every metric the
benchmark defines must come out with its unit, and a planted wrong answer
must be caught.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import corpus as C  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench.oracle import Oracle, cross_check, same_ranking  # noqa: E402

WORKLOADS = ["batch", "append"]


def _bench(tmp_path, *args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


# ---- fast -----------------------------------------------------------------
def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER


def test_oracle_agrees_with_the_test_oracle(tmp_path):
    pdf = C.make_corpus(np.random.default_rng(3), 600)
    path = str(tmp_path / "c.parquet")
    C.write_corpus(pdf, path)
    orc = Oracle([(path, 0)])
    try:
        sets = [["spark"], ["join", "the"], ["index", "merge", "spark"], [C.rare_term(2)]]
        assert cross_check(orc, ROOT, sets) == []
    finally:
        orc.close()


def test_oracle_drops_deleted_ids_from_results_only(tmp_path):
    pdf = C.make_corpus(np.random.default_rng(4), 400)
    path = str(tmp_path / "c.parquet")
    C.write_corpus(pdf, path)
    full = Oracle([(path, 0)])
    top = full.topk([["spark"]])[0]["or"]
    full.close()
    gone = [top[0][0]]
    masked = Oracle([(path, 0)], deleted=gone)
    after = masked.topk([["spark"]], k=9)[0]["or"]
    masked.close()
    assert after == top[1:]  # same scores: statistics keep the deleted doc


def test_same_ranking_is_exact_on_ids_and_tight_on_scores():
    a = [(1, 2.0), (2, 1.0)]
    assert same_ranking(a, [(1, 2.0 * (1 + 1e-12)), (2, 1.0)])
    assert not same_ranking(a, [(1, 2.0 * (1 + 1e-6)), (2, 1.0)])
    assert not same_ranking(a, [(2, 2.0), (1, 1.0)])
    assert not same_ranking(a, a[:1])


def test_self_time_subtracts_the_union_of_children():
    tr = T.Tracer()
    parent = T.Span(1, None, "p", 0, 0)
    parent.t0, parent.t1 = 0.0, 10.0
    kids = []
    for sid, (a, b) in enumerate([(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)], start=2):
        s = T.Span(sid, 1, "c", 0, 0)
        s.t0, s.t1 = a, b
        kids.append(s)
    tr.spans = [parent, *kids]
    st = tr.self_times()
    assert st["p"]["self_s"] == pytest.approx(10.0 - 6.0)
    assert st["c"]["calls"] == 3


def test_event_log_stages_are_charged_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "batch.or/postings"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 100},
                {"Name": "internal.metrics.shuffle.write.recordsWritten", "Value": 7},
                {"Name": "internal.metrics.diskBytesSpilled", "Value": 5},
                {"Name": "internal.metrics.memoryBytesSpilled", "Value": 6}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 999}]}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    tr = T.Tracer(str(tmp_path))
    assert tr.stage_totals("batch.or") == {"stages": 1, "task_s": 1.5, "shuffle_write_bytes": 100,
                                          "shuffle_records": 7, "spill_bytes": 11}
    assert tr.stage_totals("postings")["stages"] == 1
    assert tr.stage_totals("batch")["stages"] == 0  # whole layer names only
    assert tr.stage_totals()["stages"] == 1  # untagged stages are nobody's


def test_inputs_depend_only_on_the_seed():
    a = C.golden_set(np.random.default_rng(7), 1000)
    b = C.golden_set(np.random.default_rng(7), 1000)
    assert a == b and len(a) == 50
    pdf = C.make_corpus(np.random.default_rng(5), 300, extra_terms={"freshw": 3})
    assert pdf["text"].str.contains(r"\bfreshw\b").sum() == 3
    assert list(pdf["conv_id"]) == sorted(pdf["conv_id"])


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, "--workload", "batch", "--seed", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# ---- tiny end-to-end runs ---------------------------------------------------
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric_with_its_unit(tmp_path, workload, trace):
    res = _result(_bench(tmp_path, "--workload", workload, "--seed", "5",
                         "--trace", str(trace), "--scale", "tiny"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    expected = R.PER_LAYER if trace else R.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == expected
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_planted_wrong_answer_is_counted(tmp_path):
    res = _result(_bench(tmp_path, "--workload", "batch", "--seed", "5", "--trace", "1",
                         "--scale", "tiny", "--plant-defect"))
    assert not res["correct"]
    assert res["failed"] >= 1
    assert res["metrics"]["ops_failed_frac"]["value"] > 0
