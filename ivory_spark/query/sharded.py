"""Sharded top-k executor — the one doc-shard fan-out under every Spark
query path.

Ivory runs every ranker the same way: resolve the query terms against the
resident dictionary, score each document partition, merge a global top-k
with the (score desc, docno desc) tie-break
(ivory/smrf/retrieval/Accumulator.java:38-53; broker fan-out,
docs/clue.html:164-180). Here that skeleton lives once:

1. `shard_runs`: the query terms' postings runs (Parquet scan with a
   literal termid IN filter, so row groups prune by termid min/max),
   broadcast-joined to the (qid, termid) table and exploded to the docno
   shards each run overlaps (salted runs hit exactly one shard; rare
   single-run terms replicate to the few shards they span — bounded by
   the salt threshold);
2. `sharded_topk`: one kernel call per (qid, shard) group, holding *all*
   query-term runs of that shard, returns that shard's local top-k
   (docnos, scores) arrays;
3. `rank_topk`: the global q x S x k merge — one `row_number` window with
   Ivory's tie-break, then a broadcast docid join.

WAND (query/wand.py), MRF (query/mrf.py) and structured queries
(query/sqe.py) are a kernel plus parameters over this executor; feature
extraction (query/features.py) uses `shard_runs` only, because it is not a
top-k. The exact DataFrame paths (query/exact.py) reuse `rank_topk`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ivory_spark.functions.gmap import grouped_apply
from ivory_spark.index.reader import Index

# ---------------------------------------------------------------------------
# doc-shard grid — THE shard invariant, shared by every sharded kernel
# (wand, mrf, sqe, features): a docno d lands in shard
# floor(d * n_shards / (n_docs + 1)), and shard s covers the docno range
# returned by the bounds function (ceil-division inverse). These two
# definitions are the single source of truth — the float32 rank-identity
# contract depends on every kernel agreeing on shard membership at the
# boundaries (property-tested in tests/test_sharded.py).
# ---------------------------------------------------------------------------


def shard_of_expr(n_shards: int, n_docs: int):
    """Column expr factory: docno column -> int shard id."""
    return lambda c: F.floor(c * F.lit(n_shards) / F.lit(n_docs + 1)).cast("int")


def make_shard_bounds(n_shards: int, n_docs: int):
    """-> bounds(s) giving shard s's inclusive [lo, hi] docno range."""

    def bounds(s: int) -> tuple[int, int]:
        lo = -((-s * (n_docs + 1)) // n_shards)
        hi = -((-(s + 1) * (n_docs + 1)) // n_shards) - 1
        return max(lo, 1), min(hi, n_docs)

    return bounds


def candidate_postings(index: Index, termids: list[int]) -> DataFrame:
    """Postings runs for the given termids — a literal IN filter so the
    Parquet scan prunes row groups by termid min/max (the columnar
    replacement for IntPostingsForwardIndex byte-offset seeks)."""
    return index.postings.filter(F.col("termid").isin([int(t) for t in termids]))


# query_term_rows' row layout (query/exact.py)
_QTERM_COLS = ("qid string", "termid long", "qtf int", "df int", "cf long")


def shard_runs(index: Index, qterm_rows: list[tuple], cols: list[str]) -> DataFrame | None:
    """Postings runs of the query terms, one row per (qid, run, shard).

    qterm_rows: rows in query_term_rows' (qid, termid, qtf, df, cf)
    layout, or a prefix of it of at least (qid, termid); qid, termid and
    qtf (when given) ride the broadcast join — df and cf come from the
    postings rows. cols: the postings columns the kernel reads — project
    only those, so e.g. a positional index's pos_blob is column-pruned
    out of the scan unless asked for. Returns None when no query term is
    in the dictionary."""
    if not qterm_rows:
        return None
    props = index.properties
    width = len(qterm_rows[0])
    qdf = index.postings.sparkSession.createDataFrame(
        qterm_rows, ", ".join(_QTERM_COLS[:width])
    ).select(*[c.split()[0] for c in _QTERM_COLS[: min(width, 3)]])
    termids = sorted({int(r[1]) for r in qterm_rows})
    runs = candidate_postings(index, termids).select(*cols).join(F.broadcast(qdf), "termid")
    shard_of = shard_of_expr(props["n_shards"], props["n_docs"])
    return runs.withColumn(
        "shard",
        F.explode(F.sequence(shard_of(F.col("first_docno")), shard_of(F.col("last_docno")))),
    )


def local_topk(docnos: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of one candidate set, score desc then docno desc — the
    in-memory form of the global merge's tie-break."""
    sel = np.lexsort((-docnos, -scores.astype(np.float64)))[:k]
    return docnos[sel], scores[sel]


def empty_topk(spark, with_docid: bool) -> DataFrame:
    """The ranked-result schema with no rows."""
    docid = ", docid string" if with_docid else ""
    return spark.createDataFrame([], f"qid string, rank int, docno long{docid}, score float")


def sharded_topk(
    index: Index, runs: DataFrame | None, kernel, k: int, with_docid: bool
) -> DataFrame:
    """Run `kernel(qid, pdf, lo, hi) -> (docnos, scores)` once per
    (qid, shard) group of `runs` — pdf holds every run row of that group,
    [lo, hi] is the shard's docno range — and merge the per-shard results
    into the global top-k (see rank_topk)."""
    if runs is None:
        return empty_topk(index.postings.sparkSession, with_docid)
    props = index.properties
    bounds = make_shard_bounds(props["n_shards"], props["n_docs"])

    def group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        qid, shard = key
        d, s = kernel(qid, pdf, *bounds(int(shard)))
        return pd.DataFrame({"qid": np.repeat(qid, len(d)), "docno": d, "score": s})

    # grouped_apply, not groupBy().applyInPandas: a query batch over the
    # shard grid makes |queries| x n_shards tiny groups, and Spark's
    # per-group Arrow dispatch (~8 ms each) would dominate the kernel —
    # one mapInPandas stream per partition pays the tax once (gmap.py)
    local = grouped_apply(
        runs, ["qid", "shard"], group, schema="qid string, docno long, score float"
    )
    return rank_topk(index, local, k, with_docid)


def rank_topk(index: Index, scored: DataFrame, k: int, with_docid: bool) -> DataFrame:
    """(qid, docno, score) -> (qid, rank, docno[, docid], score): window
    top-k with Ivory's tie-break (score desc, docno desc)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.desc("docno"))
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if with_docid:
        # topk is q*k rows but sits behind a window, so Catalyst has no
        # size estimate and can pick a sort-merge join against the full
        # docmap scan; broadcast the tiny side explicitly
        topk = F.broadcast(topk).join(index.docid_expr(), "docno")
    cols = ["qid", "rank", "docno"] + (["docid"] if with_docid else []) + ["score"]
    return topk.select(*cols).orderBy("qid", "rank")
