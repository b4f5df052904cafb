"""The sharded top-k executor (query/sharded.py) and the memoized term
lookup (Index.lookup_terms): shard-grid membership, the broadcast docid
join under every ranker, and repeat calls that never rescan the
dictionary."""

import os
import re
from functools import reduce

import pytest
from pyspark.sql import DataFrame, functions as F

from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.query.features import extract_features
from ivory_spark.query.mrf import MrfModel, mrf_topk
from ivory_spark.query.sharded import make_shard_bounds, shard_of_expr
from ivory_spark.query.sqe import sqe_topk
from ivory_spark.query.wand import bm25_topk_wand

QS = [
    {"qid": "q1", "query": "import class"},
    {"qid": "q2", "query": "public static void"},
]
SQE_QS = [
    {"qid": "q1", "query": {"#combine": ["import", "class"]}},
    {"qid": "q2", "query": {"#weight": [0.7, "public", 0.3, "static"]}},
]


@pytest.fixture(scope="module")
def pos_root(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sharded") / "pos")
    build_index(
        spark, tiny_corpus_path, root,
        IndexConfig(positional=True, salt_threshold=16, n_shards=5),
    )
    return root


def test_shard_grid_partitions_docnos(spark):
    """Every docno in 1..n_docs lies in exactly one shard's [lo, hi], and
    the Spark shard_of expression names that shard — including grids with
    more shards than docs, where some shards are empty."""
    pairs = [(1, 1), (1, 10), (3, 10), (5, 200), (7, 13), (16, 5), (32, 1000)]
    frames = [
        spark.range(1, n_docs + 1).select(
            F.lit(n_shards).alias("n_shards"),
            F.lit(n_docs).alias("n_docs"),
            F.col("id").alias("docno"),
            shard_of_expr(n_shards, n_docs)(F.col("id")).alias("shard"),
        )
        for n_shards, n_docs in pairs
    ]
    got = {
        (r["n_shards"], r["n_docs"], r["docno"]): r["shard"]
        for r in reduce(DataFrame.unionByName, frames).collect()
    }
    for n_shards, n_docs in pairs:
        bounds = make_shard_bounds(n_shards, n_docs)
        grid = [bounds(s) for s in range(n_shards)]
        for d in range(1, n_docs + 1):
            owners = [s for s, (lo, hi) in enumerate(grid) if lo <= d <= hi]
            assert len(owners) == 1, (n_shards, n_docs, d, owners)
            assert got[(n_shards, n_docs, d)] == owners[0], (n_shards, n_docs, d)


def _docid_joins(df: DataFrame) -> list[str]:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"(\w+Join) \[docno#\d+L?\], \[docno#\d+L?\]", plan)


@pytest.mark.parametrize("ranker", ["mrf", "sqe", "wand"])
def test_docid_join_is_broadcast(spark, pos_root, ranker):
    """With auto-broadcast off — as for a docmap beyond the broadcast
    threshold — the docid join still broadcasts the q x k top-k side."""
    index = open_index(spark, pos_root)
    conf = spark.conf
    prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        if ranker == "mrf":
            df = mrf_topk(spark, index, QS, MrfModel(dependence="sd"))
        elif ranker == "sqe":
            df = sqe_topk(spark, index, SQE_QS, k=10)
        else:
            df = bm25_topk_wand(spark, index, QS, k=10)
        joins = _docid_joins(df)
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert joins and set(joins) == {"BroadcastHashJoin"}, joins


@pytest.mark.parametrize("path", ["mrf", "sqe", "features"])
def test_repeat_call_starts_no_dictionary_job(spark, pos_root, path):
    """A second identical call on the same Index resolves every term from
    the Index memo: it starts no Spark job at call time (mrf, sqe are
    lazy), and it never reads the dictionary — moved away here, so any
    dictionary scan would fail — while returning the same rows."""
    index = open_index(spark, pos_root)
    qrels = {"q1": {1: 1.0, 4: 0.0, 9: 2.0}, "q2": {2: 1.0, 7: 3.0}}

    def call():
        if path == "mrf":
            return mrf_topk(spark, index, QS, MrfModel(dependence="sd"))
        if path == "sqe":
            return sqe_topk(spark, index, SQE_QS, k=10)
        return extract_features(
            spark, index, QS, qrels, {"sd": MrfModel(dependence="sd")}
        )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    first = call().collect()
    group = f"memo-{path}"
    dict_dir = os.path.join(pos_root, "dictionary")
    os.rename(dict_dir, dict_dir + ".moved")
    try:
        sc.setJobGroup(group, "repeat call")
        try:
            again = call()
            jobs_at_call = list(tracker.getJobIdsForGroup(group))
            rows = again.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        os.rename(dict_dir + ".moved", dict_dir)
    if path != "features":  # extract_features is eager by design
        assert jobs_at_call == []
    assert rows == first and len(rows) > 0
