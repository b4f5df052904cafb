"""Cascade ranking (K5) and Bloom pre-filtering (E7/J6): staged pruning
rank identity + relative-recall of the false-positive-tolerant AND."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.oracle import build_oracle_index
from ivory_spark.ops.bloom import (
    bloom_from_docnos,
    bloom_test,
    build_bloom_signatures,
    conjunctive_candidates_bloom,
)
from ivory_spark.query.cascade import cascade_topk, oracle_cascade_topk
from ivory_spark.query.mrf import MrfModel

QS = [
    {"qid": "c1", "query": "import class return"},
    {"qid": "c2", "query": "public static void"},
    {"qid": "c3", "query": "def return"},
]


@pytest.fixture(scope="module")
def pos_idx(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx") / "cascade")
    build_index(
        spark, tiny_corpus_path, root,
        IndexConfig(positional=True, salt_threshold=16, n_shards=5),
    )
    return open_index(spark, root)


@pytest.fixture(scope="module")
def oi(tiny_corpus):
    return build_oracle_index(tiny_corpus.drop(columns=["sha256"]))


def test_cascade_rank_identity(spark, pos_idx, oi):
    model = MrfModel(dependence="sd")
    golden = oracle_cascade_topk(oi, QS, stage1_k=20, model=model)
    res = cascade_topk(spark, pos_idx, QS, stage1_k=20, model=model)
    got = {}
    for r in res.collect():
        got.setdefault(r["qid"], []).append(r)
    for qid, want in golden.items():
        have = got.get(qid, [])
        assert [h["docno"] for h in have] == [w["docno"] for w in want], qid
        hb = np.array([h["score"] for h in have], dtype=np.float32).view(np.uint32)
        wb = np.array([w["score"] for w in want], dtype=np.float32).view(np.uint32)
        assert np.array_equal(hb, wb), qid


def test_cascade_prunes(spark, pos_idx, oi):
    """A tight stage-1 budget must restrict stage-2's scored set."""
    model = MrfModel(dependence="sd")
    tight = oracle_cascade_topk(oi, QS[:1], stage1_k=3, model=model)
    assert len(tight["c1"]) <= 3


def test_bloom_unit():
    docnos = np.array([3, 17, 999, 12345], dtype=np.uint64)
    bm = bloom_from_docnos(docnos, bits=4096, k_hashes=3)
    assert bloom_test(bm, docnos, 3).all()  # no false negatives, ever
    others = np.arange(20000, 21000, dtype=np.uint64)
    fp = bloom_test(bm, others, 3).mean()
    assert fp < 0.05


def test_bloom_conjunction_recall(spark, pos_idx):
    from ivory_spark.ops.ir_relational import postings as _unused  # noqa: F401

    terms = ["import", "class", "return"]
    blooms = build_bloom_signatures(spark, pos_idx, bits=8192, k_hashes=3)
    approx = {r["docno"] for r in conjunctive_candidates_bloom(
        spark, pos_idx, blooms, terms
    ).collect()}

    # exact intersection from the index itself
    tids = {r["term"]: r["termid"] for r in pos_idx.dictionary.filter(
        F.col("term").isin(terms)).collect()}
    from ivory_spark.query.exact import _decode_runs, candidate_postings

    rows = _decode_runs(candidate_postings(pos_idx, list(tids.values()))).collect()
    by_term = {}
    for r in rows:
        by_term.setdefault(r["termid"], set()).add(r["docno"])
    exact = set.intersection(*(by_term.get(t, set()) for t in tids.values()))

    # Bloom AND: superset of the truth (relative recall 1.0), bounded fps
    assert exact <= approx
    if approx:
        fp_rate = (len(approx) - len(exact)) / len(approx)
        assert fp_rate < 0.5


def test_bloom_oov_term_empty(spark, pos_idx):
    blooms = build_bloom_signatures(spark, pos_idx, bits=2048, k_hashes=2)
    out = conjunctive_candidates_bloom(
        spark, pos_idx, blooms, ["import", "nonexistent_token_xyzzy"]
    )
    assert out.count() == 0


def test_cascade_cost_accounting(spark, pos_idx):
    """costs= receives CascadeEval-style per-stage accounting and the
    ranking is unchanged by instrumentation."""
    model = MrfModel(dependence="sd", k=5)
    costs = {}
    with_costs = cascade_topk(spark, pos_idx, QS[:2], stage1_k=10, model=model,
                              costs=costs).collect()
    plain = cascade_topk(spark, pos_idx, QS[:2], stage1_k=10, model=model).collect()
    assert [(r["qid"], r["docno"], r["score"]) for r in with_costs] == [
        (r["qid"], r["docno"], r["score"]) for r in plain
    ]
    assert costs["stage1"]["k"] == 10
    assert 0 < costs["stage2"]["docs_scored"] <= costs["stage1"]["candidate_docs"]
    assert costs["total_cost_units"] > 0
    assert 0 < costs["cost_vs_flat"]
    assert costs["stage1"]["wall_sec"] >= 0 and costs["stage2"]["wall_sec"] >= 0


def _match_golden(res_df, golden):
    got = {}
    for r in res_df.collect():
        got.setdefault(r["qid"], []).append(r)
    for qid, want in golden.items():
        have = got.get(qid, [])
        assert [h["docno"] for h in have] == [w["docno"] for w in want], qid
        hb = np.array([h["score"] for h in have], dtype=np.float32).view(np.uint32)
        wb = np.array([w["score"] for w in want], dtype=np.float32).view(np.uint32)
        assert np.array_equal(hb, wb), qid


def test_three_stage_cascade_rank_identity(spark, pos_idx, oi):
    """CascadeEval staged pruning: WAND(k=30) -> SD(k=12) -> FD on the
    12 survivors (k=5) — bit-exact vs the oracle composition."""
    stages = [
        {"model": MrfModel(dependence="sd"), "k": 12},
        {"model": MrfModel(dependence="fd"), "k": 5},
    ]
    golden = oracle_cascade_topk(oi, QS, stage1_k=30, stages=stages)
    res = cascade_topk(spark, pos_idx, QS, stage1_k=30, stages=stages)
    assert any(golden[q["qid"]] for q in QS)
    _match_golden(res, golden)


def test_three_stage_costs_accounting(spark, pos_idx):
    stages = [
        {"model": MrfModel(dependence="sd"), "k": 8, "unit_cost": 20.0},
        {"model": MrfModel(dependence="fd"), "k": 4, "unit_cost": 60.0},
    ]
    costs = {}
    out = cascade_topk(spark, pos_idx, QS[:2], stage1_k=10, stages=stages,
                       costs=costs).collect()
    assert len(out) > 0
    assert len(costs["stages"]) == 3
    s0, s1, s2 = costs["stages"]
    assert s0["kind"] == "wand_bm25" and s0["k"] == 10
    # each stage scores exactly the previous stage's survivors
    assert s1["docs_scored"] == s0["candidate_docs"]
    assert s2["docs_scored"] == s1["candidate_docs"]
    assert s2["unit_cost"] == 60.0
    # monotone pruning
    assert s0["candidate_docs"] >= s1["candidate_docs"] >= s2["candidate_docs"]
    assert costs["total_cost_units"] > 0 and costs["cost_vs_flat"] > 0


def test_candidates_df_matches_dict_path(spark, pos_idx, oi):
    """mrf_topk's distributed allow-list (tagged rows through the shard
    shuffle) is bit-identical to the oracle's driver-side dict
    restriction — including an empty allow-list (c3 returns no rows)."""
    from ivory_spark.query.mrf import mrf_topk, oracle_mrf_topk

    model = MrfModel(dependence="sd", k=10)
    cand = {
        "c1": set(range(1, 120, 3)),
        "c2": set(range(2, 200, 5)),
        "c3": set(),
    }
    golden = oracle_mrf_topk(oi, QS, model, candidates=cand)
    cdf = spark.createDataFrame(
        [(q, int(d)) for q, s in cand.items() for d in s], "qid string, docno long"
    )
    via_df = mrf_topk(spark, pos_idx, QS, model, candidates_df=cdf).collect()
    got = [(r["qid"], r["rank"], r["docno"], np.float32(r["score"]).view(np.uint32))
           for r in via_df]
    want = [(q["qid"], rank, w["docno"], np.float32(w["score"]).view(np.uint32))
            for q in QS for rank, w in enumerate(golden[q["qid"]], start=1)]
    assert got == want
    assert len(got) > 0 and not golden["c3"]


# ---------------------------------------------------------------------------
# CascadeEval pruning functions (CascadeEval.java:148-227)
# ---------------------------------------------------------------------------

from ivory_spark.query.cascade import (  # noqa: E402
    DEFAULT_NUM_DOCS,
    prune_retain_size,
)


def test_prune_retain_size_score():
    s = np.array([10, 8, 6, 4, 2], dtype=np.float32)
    # thr = (10-2)*0.5 + 2 = 6 -> leading run with score >= 6
    assert prune_retain_size(s, "score", 0.5, K=2) == 3
    # K floor lifts a too-aggressive prune
    assert prune_retain_size(s, "score", 0.99, K=4) == 4
    # cap at list length when K > n
    assert prune_retain_size(s, "score", 0.0, K=9) == 5


def test_prune_retain_size_mean_max():
    s = np.array([10, 8, 6, 4, 2], dtype=np.float32)
    # mean = 6, thr = 0.5*10 + 0.5*6 = 8 -> keeps [10, 8]
    assert prune_retain_size(s, "mean-max", 0.5, K=1) == 2
    # param=0 -> thr = mean -> keeps everything >= 6
    assert prune_retain_size(s, "mean-max", 0.0, K=1) == 3


def test_prune_retain_size_rank():
    s = np.arange(10, 0, -1).astype(np.float32)
    assert prune_retain_size(s, "rank", 0.3, K=1) == 7  # drop bottom 30%
    assert prune_retain_size(s[:5], "rank", 0.3, K=1) == 3  # int(3.5)


def test_prune_retain_size_zscore_is_k_floor():
    """The reference computes z-scores and never uses them
    (CascadeEval.java:192-209): retain falls through to the K floor —
    and to 0 in training mode (K == defaultNumDocs) on short lists."""
    s = np.array([9, 7, 5], dtype=np.float32)
    assert prune_retain_size(s, "z-score", 1.5, K=2) == 2
    assert prune_retain_size(s, "z-score", 1.5, K=DEFAULT_NUM_DOCS) == 0


def test_prune_retain_size_rejects_unknown():
    with pytest.raises(ValueError, match="not supported"):
        prune_retain_size(np.ones(3, dtype=np.float32), "entropy", 0.5, K=1)
    assert prune_retain_size(np.empty(0, dtype=np.float32), "score", 0.5, K=3) == 0


@pytest.mark.parametrize("pruner,param", [
    ("score", 0.4), ("mean-max", 0.5), ("rank", 0.3), ("z-score", 1.0),
])
def test_cascade_pruner_rank_identity(spark, pos_idx, oi, pruner, param):
    """Each pruning function, between an SD stage and an FD stage, is
    bit-exact vs the oracle composition (shared prune_retain_size
    kernel over shared-scoring ranked lists)."""
    stages = [
        {"model": MrfModel(dependence="sd"), "pruner": pruner,
         "pruner_param": param, "K": 4},
        {"model": MrfModel(dependence="fd"), "k": 5},
    ]
    golden = oracle_cascade_topk(oi, QS, stage1_k=25, stages=stages)
    res = cascade_topk(spark, pos_idx, QS, stage1_k=25, stages=stages)
    assert any(golden[q["qid"]] for q in QS)
    _match_golden(res, golden)


def test_cascade_pruner_rejected_on_final_stage(spark, pos_idx):
    stages = [{"model": MrfModel(dependence="sd"), "k": 5,
               "pruner": "score", "pruner_param": 0.5}]
    with pytest.raises(ValueError, match="between stages"):
        cascade_topk(spark, pos_idx, QS[:1], stage1_k=10, stages=stages)


def test_cascade_pruner_with_costs(spark, pos_idx):
    """Cost accounting composes with pruner stages (persist+count path)
    and does not change the ranking."""
    stages = [
        {"model": MrfModel(dependence="sd"), "pruner": "mean-max",
         "pruner_param": 0.5, "K": 3},
        {"model": MrfModel(dependence="fd"), "k": 5},
    ]
    costs = {}
    with_costs = cascade_topk(spark, pos_idx, QS[:2], stage1_k=15,
                              stages=stages, costs=costs).collect()
    plain = cascade_topk(spark, pos_idx, QS[:2], stage1_k=15,
                         stages=stages).collect()
    assert [(r["qid"], r["docno"], r["score"]) for r in with_costs] == [
        (r["qid"], r["docno"], r["score"]) for r in plain
    ]
    s0, s1, s2 = costs["stages"]
    assert s2["docs_scored"] == s1["candidate_docs"] <= s0["candidate_docs"]
