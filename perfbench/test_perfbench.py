"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = pathlib.Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

EXPECTED_END_TO_END = {"rows_per_cpu_s", "setup_s", "shuffle_write_bytes", "dup_pair_recall", "dup_pair_precision"}
EXPECTED_PER_LAYER = {
    "fingerprint.wall_s", "fingerprint.task_run_s", "fingerprint.rows_per_s", "fingerprint.task_skew",
    "candidates.wall_s", "candidates.shuffle_write_bytes", "candidates.shuffle_read_bytes",
    "candidates.spill_bytes", "candidates.task_skew", "candidates.pairs_out", "candidates.useful_ratio",
    "substring.wall_s", "substring.anchors_out", "substring.pairs_out", "substring.shuffle_write_bytes",
    "substring.task_skew",
    "verify.wall_s", "verify.shuffle_write_bytes", "verify.pairs_out",
    "cluster.wall_s", "cluster.jobs", "cluster.edges_in", "cluster.shuffle_write_bytes",
    "stage_metrics.wall_s", "stage_metrics.shuffle_write_bytes",
    "catalog.write_s", "catalog.bytes_written",
    "quality_filter.wall_s", "pii_scrub.wall_s", "exact_dedup.wall_s", "near_dup.wall_s", "sample.wall_s",
    "curation.jobs",
    "spark.jobs", "spark.tasks", "spark.failed_tasks", "spark.task_run_s", "spark.busy_frac",
    "memory.peak_rss_mb", "failed_op_frac", "trace.overhead_s", "wall.rows_per_s", "setup.wall_s",
}


def test_metric_names_are_pinned():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert set(e2e) == EXPECTED_END_TO_END
    assert per_layer == layers.PER_LAYER
    assert set(per_layer) == EXPECTED_PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


class _FakeContext:
    def setJobGroup(self, group, desc):
        pass

    def setLocalProperty(self, key, value):
        pass

    def cancelAllJobs(self):
        pass


def _fake_spark():
    return SimpleNamespace(
        sparkContext=_FakeContext(),
        catalog=SimpleNamespace(clearCache=lambda: None),
        _jvm=SimpleNamespace(System=SimpleNamespace(gc=lambda: None)),
    )


def test_span_self_time_never_exceeds_parent():
    tr = spans.Tracer(_fake_spark(), "t")
    with tr.span("run_pipeline", "entry"):
        with tr.span("01_fingerprints", "stage"):
            with tr.span("01_fingerprints", "stage_metrics"):
                sum(range(20_000))
            with tr.span("01_fingerprints", "write"):
                sum(range(50_000))
        # curation-style markers: each closes the previous one, the last is
        # closed by its parent
        spans._marker(tr, "quality_filter", lambda: None)()
        sum(range(20_000))
        spans._marker(tr, "pii_scrub", lambda: None)()
        sum(range(20_000))
    recs = {r["id"]: r for r in tr.as_records()}
    assert [r["kind"] for r in recs.values()] == ["entry", "stage", "stage_metrics", "write", "curation", "curation"]
    for r in recs.values():
        dur = r["end"] - r["start"]
        assert 0.0 <= r["self_s"] <= dur
        if r["parent"] is not None:
            p = recs[r["parent"]]
            assert p["start"] <= r["start"] and r["end"] <= p["end"]
            assert dur <= p["end"] - p["start"]
    assert recs[4]["end"] <= recs[5]["start"]  # markers do not overlap


def test_layer_metrics_from_spans():
    def rec(i, name, kind, parent, start, end, **kw):
        return {"id": i, "name": name, "kind": kind, "parent": parent, "run_id": "t",
                "start": start, "end": end, **kw}

    sp = {"jobs": 2, "numTasks": 4, "numFailedTasks": 0, "executorRunTime": 3000,
          "shuffleWriteBytes": 100, "shuffleReadBytes": 50, "memoryBytesSpilled": 0,
          "diskBytesSpilled": 0, "skew": 1.5}
    recs = [
        rec(0, "run_pipeline", "entry", None, 0.0, 10.0),
        rec(1, "02_candidates", "stage", 0, 1.0, 5.0),
        rec(2, "02_candidates", "stage_metrics", 1, 1.0, 2.0, spark=sp),
        rec(3, "02_candidates", "write", 1, 2.0, 5.0, n_rows=40, bytes=7, data_write_s=2.5, spark=sp),
        rec(4, "03_verified", "stage", 0, 5.0, 6.0),
        rec(5, "03_verified", "write", 4, 5.0, 6.0, n_rows=10, bytes=3, data_write_s=1.0, spark=sp),
    ]
    m = layers.layer_metrics(recs, slots=2)
    assert set(m) == set(layers.PER_LAYER) - set(layers.RUN_LEVEL)
    assert m["candidates.wall_s"] == pytest.approx(3.0)  # stage minus its stage_metrics child
    assert m["stage_metrics.wall_s"] == pytest.approx(1.0)
    assert m["candidates.shuffle_write_bytes"] == 100  # the stage_metrics job is not the layer's
    assert m["candidates.pairs_out"] == 40 and m["verify.pairs_out"] == 10
    assert m["candidates.useful_ratio"] == pytest.approx(0.25)  # no substring pairs here
    assert m["catalog.write_s"] == pytest.approx(0.5) and m["catalog.bytes_written"] == 10
    assert m["spark.jobs"] == 6 and m["spark.busy_frac"] == pytest.approx(9.0 / 20.0)
    assert m["fingerprint.wall_s"] == 0.0 and m["near_dup.wall_s"] == 0.0


def test_truth_matches_compute_truth():
    from simhash_spark.sources.fixtures import compute_truth

    pdf = workloads.image_corpus(700, seed=5)
    _, tc = compute_truth(pdf)
    labels = workloads.truth_labels(pdf["caption"].tolist(), pdf["phash"].to_numpy())
    truth = pd.Series(labels.astype(str), index=pdf["image_id"])
    assert workloads.pair_scores(truth, tc.set_index("image_id")["cluster_id"]) == (1.0, 1.0)


def test_text_sample_is_seeded_and_distinct():
    a, b = workloads.text_sample(2000, 3), workloads.text_sample(2000, 3)
    ids = a.column("doc_id").to_pylist()
    assert a.equals(b) and len(set(ids)) == 2000 and ids == sorted(ids)
    assert ids != workloads.text_sample(2000, 4).column("doc_id").to_pylist()


def test_hot_caption_is_one_cluster_without_listing_pairs():
    captions = ["one shared caption that many rows carry verbatim"] * 5000 + ["a b c d e f g h"]
    labels = workloads.truth_labels(captions)
    assert len(set(labels[:5000])) == 1 and labels[5000] != labels[0]


def test_pair_scores_from_contingency():
    truth = pd.Series(["a", "a", "a", "b", "b", "c"], index=list("123456"))
    engine = pd.Series(["x", "x", "y", "z", "z", "z"], index=list("123456"))
    recall, precision = workloads.pair_scores(truth, engine)
    # truth pairs 3 + 1 = 4, engine pairs 1 + 3 = 4, together in both 1 + 1 = 2
    assert (recall, precision) == (0.5, 0.5)


class _CorruptedWorkload:
    """A workload whose call succeeds and whose output cluster table has two
    truth clusters merged and one id dropped."""

    entry = "run_pipeline"
    rows = 6

    def __init__(self):
        self.truth = pd.Series(["a", "a", "b", "b", "c", "c"], index=[f"i{k}" for k in range(6)])

    def call(self, spark, out, warm=False):
        pass

    def check(self, out):
        bad = pd.DataFrame({"image_id": [f"i{k}" for k in range(5)], "cluster_id": ["a", "a", "a", "a", "c"]})
        return workloads.check_clusters(self.truth, bad, "image_id")


def test_corrupted_cluster_table_counts_as_failed(tmp_path, monkeypatch):
    monkeypatch.setattr(spans, "group_stage_data", lambda spark, group: {"shuffleWriteBytes": 1})
    runner = run.Runner(_fake_spark(), _CorruptedWorkload(), tmp_path, "t", os.getpid())
    res = runner.call(0)
    assert (runner.attempted, runner.failed) == (1, 1)
    assert not res["check"]["ok"]
    assert any("id set differs" in p for p in runner.problems)
    assert any("dup_pair_precision" in p for p in runner.problems)


def test_check_accepts_the_truth_itself():
    truth = pd.Series(np.array(["a", "a", "b"]), index=["x", "y", "z"])
    table = pd.DataFrame({"image_id": ["x", "y", "z"], "cluster_id": ["x", "x", "z"]})
    assert workloads.check_clusters(truth, table, "image_id")["ok"]


def test_cpu_s_counts_work_of_the_process_tree():
    """A child that burns CPU and exits is still counted, through this
    process's reaped-children time; sleeping is not."""
    t0 = run.cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"], check=True)
    busy = run.cpu_s(os.getpid()) - t0
    time.sleep(0.3)
    idle = run.cpu_s(os.getpid()) - t0 - busy
    assert busy >= 0.25
    assert idle < 0.1
