"""Tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from measure import (  # noqa: E402
    Tracer,
    event_log_by_description,
    median,
    percentile,
    ratio,
    self_times,
)


def test_percentile_interpolates_like_numpy_linear():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert median(xs) == 3.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile(list(range(101)), 99) == pytest.approx(99.0)
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_ratio_has_no_base_zero_blowup():
    assert ratio(3.0, 2.0) == 1.5
    assert ratio(1.0, 0.0) == 0.0


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generator_same_seed_same_bytes_other_seed_differs(tmp_path):
    for seed in (3, 4):
        gen.headline_tables(seed, str(tmp_path / f"a{seed}"))
        gen.headline_tables(seed, str(tmp_path / f"b{seed}"))
        gen.documents(seed, str(tmp_path / f"d{seed}"), 500)
    names = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings")
    for name in names:
        a3 = _file_digest(str(tmp_path / "a3" / f"{name}.parquet"))
        assert a3 == _file_digest(str(tmp_path / "b3" / f"{name}.parquet"))
        if name not in ("region", "nation"):  # fixed dimension tables
            assert a3 != _file_digest(str(tmp_path / "a4" / f"{name}.parquet"))
    assert _file_digest(str(tmp_path / "d3" / "documents.parquet")) != _file_digest(
        str(tmp_path / "d4" / "documents.parquet"))


def test_hotkey_corpus_and_crawl_batches_are_seeded():
    a = gen.doc_texts(11, 2000, gen.WIDE, gen.HOT_SHARE)
    assert a == gen.doc_texts(11, 2000, gen.WIDE, gen.HOT_SHARE)
    assert a != gen.doc_texts(12, 2000, gen.WIDE, gen.HOT_SHARE)
    hot = max(set(a), key=a.count)
    assert abs(a.count(hot) / len(a) - gen.HOT_SHARE) < 0.015
    texts = gen.benchmark_texts(11)
    b = gen.crawl_batch(11, 2, 200, texts)
    assert b == gen.crawl_batch(11, 2, 200, texts)
    assert b != gen.crawl_batch(12, 2, 200, texts)
    assert [r["doc_id"] for r in b] == list(range(400, 600))
    degenerate = sum(len(set(r["text"].split())) == 1 for r in b)
    assert 0 < degenerate < 0.1 * len(b)


def test_wide_vocabulary_keeps_unplanted_docs_uncontaminated():
    texts = gen.benchmark_texts(5)
    shingles = set()
    for t in texts:
        w = t.split()
        shingles |= {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    hits = 0
    rows = [r for b in range(5) for r in gen.crawl_batch(5, b, 200, texts)]
    for r in rows:
        w = r["text"].split()
        hits += any(" ".join(w[i:i + 3]) in shingles for i in range(len(w) - 2))
    assert hits / len(rows) < 2 * gen.CONTAM_SHARE


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 9.0},
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_and_reports_innermost_span():
    seen = []
    tr = Tracer(True, on_enter=lambda rec: seen.append(None if rec is None else rec["name"]))
    with tr.span("outer"):
        with tr.span("inner", layer="x") as rec:
            assert rec["layer"] == "x"
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert seen == ["outer", "inner", "outer", None]
    off = Tracer(False)
    with off.span("ignored") as rec:
        assert rec is None
    assert off.spans == []


def test_event_log_aggregates_tasks_per_job_description():
    def task(stage, run_ms, shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "pb#3"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(0, 100), task(0, 100), task(0, 100),
        task(1, 100, shuffle=2**20), task(1, 100), task(1, 1000),  # slowest stage
        task(2, 5000),
    ]
    out = event_log_by_description(json.dumps(e) for e in events)
    rec = out["pb#3"]
    assert rec["jobs"] == 1
    assert rec["task_s"] == pytest.approx(1.5)
    assert rec["gc_s"] == pytest.approx(0.006)
    assert rec["shuffle_mib"] == pytest.approx(2.0)
    assert rec["max_task_ratio"] == pytest.approx(10.0)
    assert out[""]["task_s"] == pytest.approx(5.0)
