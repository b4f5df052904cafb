"""Tests of the benchmark's own machinery.

    python -m pytest perfbench/tests -q

The Spark tests start one tiny local[2] session (warm-start off) with the
event log on, build a 300-doc index and drive the serve wrappers on it.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workload as W  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def test_benchmark_json_lists_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(W.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert spans.covered([(0, 5)], 2, 4) == 2
    assert spans.covered([], 0, 1) == 0


def test_self_time_subtracts_direct_children_only():
    s = [
        Span("search", 0.0, 10.0, None, 0),
        Span("fetch", 1.0, 3.0, 0, 0),
        Span("kernel", 4.0, 8.0, 0, 0),
        Span("decode", 5.0, 6.0, 2, 0),
        Span("decode", 6.5, 7.0, 2, 0),
    ]
    assert spans.self_times(s) == pytest.approx([4.0, 2.0, 2.5, 1.0, 0.5])


def test_serve_layers_add_up_to_search():
    t = Tracer()
    for r in range(3):
        t.request = r
        with t.span("serve.search"):
            with t.span("serve.fetch"):
                pass
            with t.span("wand.kernel"):
                with t.span("codec.decode_block"):
                    pass
            with t.span("serve.docid"):
                pass
    m = spans.serve_layers(t)
    parts = m["serve.fetch.mean_ms"] + m["wand.kernel.mean_ms"] + m["serve.docid.mean_ms"] + m["serve.self.mean_ms"]
    assert parts == pytest.approx(m["serve.search.mean_ms"], rel=1e-9)
    assert m["codec.decode_block.calls_per_query"] == 1
    assert {k for k in run.PER_LAYER if k.startswith(("serve.", "wand.kernel", "wand.seg", "codec."))} <= set(m)


def test_query_stream_is_seeded_and_band_bound():
    bands = W.Bands(hot=np.array(["a", "b", "c", "d", "e"], dtype=object),
                    tail=np.array(["x", "y", "z"], dtype=object), hot_min_df=2)
    a = W.QueryStream("hot", bands, seed=5, stream=1).take(20)
    b = W.QueryStream("hot", bands, seed=5, stream=1).take(20)
    c = W.QueryStream("hot", bands, seed=6, stream=1).take(20)
    assert a == b and a != c
    assert [len(q["query"].split()) for q in a] == [1, 2, 3, 4, 3] * 4
    for q in a:
        terms = q["query"].split()
        assert len(set(terms)) == len(terms) and set(terms) <= set(bands.hot)
    tail = W.QueryStream("tail", bands, seed=5, stream=2).take(21)
    assert [len(q["query"].split()) for q in tail] == [2, 3, 3] * 7


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """A tiny session with the event log on, one grouped job and a
    300-doc index; returns (eventlog dir, corpus path, index root)."""
    base = tmp_path_factory.mktemp("perfbench")
    evdir = base / "eventlog"
    evdir.mkdir()
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("IVORY_WARM_START", "0")
        mp.setenv("PYTHONPATH", ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
        return _tiny_session(base, evdir)


def _tiny_session(base, evdir):
    from ivory_spark.index.build import IndexConfig, build_index
    from ivory_spark.session import get_spark

    spark = get_spark("perfbench-test", cores=2, shuffle_partitions=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + str(evdir),
    })
    try:
        sc = spark.sparkContext
        run.set_group(sc, "g:shuffle", "layer:test")
        spark.range(0, 4000, 1, 4).selectExpr("id % 13 AS k").groupBy("k").count().collect()
        run.set_group(sc, None)
        corpus = W.write_corpus(str(base / "corpus"), seed=3, n_docs=300)
        root = str(base / "index")
        build_index(spark, corpus, root, IndexConfig(salt_threshold=30, n_shards=2, partitions=2))
    finally:
        spark.stop()
    return str(evdir), corpus, root


def test_eventlog_rollup_of_a_grouped_job(tiny):
    evdir, _, _ = tiny
    log = eventlog.parse(evdir)
    jobs = log.jobs_in("g:shuffle")
    assert jobs and all(j.end_ms >= j.submit_ms > 0 for j in jobs)
    r = eventlog.rollup(log.tasks_of(jobs))
    assert r["tasks"] >= 4  # 4 map tasks, then the reduce side
    assert r["shuffle_write_bytes"] > 0
    assert r["cpu_s"] > 0
    assert r["task_skew"] >= 1.0
    # tasks outside the group's stages are not counted
    assert len(log.tasks_of(jobs)) < len(log.tasks)


def test_build_layers_from_manifests_and_eventlog(tiny):
    evdir, _, root = tiny
    log = eventlog.parse(evdir)
    out = run.build_layers(root, log, (0, 1e15))
    for st in run.STAGES:
        assert out[f"build.{st}.wall_s"] > 0
    assert out["build.postings.runs"] > 0 and out["build.postings.bytes"] > 0
    assert out["build.tdf.shuffle_write_bytes"] > 0


def test_traced_searcher_spans_and_restores(tiny):
    from ivory_spark.index import codec
    from ivory_spark.query import serve
    from ivory_spark.query.serve import LocalSearcher

    _, _, root = tiny
    searcher = LocalSearcher(root)
    kernel, decode = serve._score_group, codec.decode_block
    plain = searcher.search("return import self", k=5)
    t = Tracer()
    with spans.traced_searcher(searcher, t), t.span("serve.search"):
        traced = searcher.search("return import self", k=5)
    assert traced == plain
    assert serve._score_group is kernel and codec.decode_block is decode
    assert "_runs_for" not in vars(searcher) and "docids" not in vars(searcher)
    names = {s.name for s in t.spans}
    assert {"serve.search", "serve.fetch", "wand.kernel", "codec.decode_block", "serve.docid"} <= names
    assert t.counts["lru_lookups"] == 3 and t.counts["segments"] > 0


def test_oracle_check_fails_on_one_wrong_score(tiny):
    import pandas as pd

    from ivory_spark.oracle import build_oracle_index
    from ivory_spark.query.serve import LocalSearcher

    _, corpus, root = tiny
    oi = build_oracle_index(pd.read_parquet(corpus))
    searcher = LocalSearcher(root)
    queries = [{"qid": "a", "query": "return import"}, {"qid": "b", "query": "class self"}]
    results = {q["qid"]: searcher.search(q["query"], k=10) for q in queries}
    assert check.check_topk(oi, queries, results, 10, "serve") == []
    sample = sorted(oi.dictionary)[:20]
    assert check.check_build(oi, root, sample) == []

    results["b"][3]["score"] = np.nextafter(results["b"][3]["score"], np.float32(np.inf))
    errors = check.check_topk(oi, queries, results, 10, "serve")
    assert len(errors) == 1 and "b" in errors[0]
