"""Block-max WAND retrieval kernel — the throughput path.

Upgrades Ivory's term-level MaxScore pruning
(ivory/smrf/retrieval/MRFDocumentRanker.java:99-155, bounds
ivory/smrf/model/score/BM25ScoringFunction.java:73-89) to block-max
pruning using the per-block max-impact metadata the codec stores
(block layout modeled on ivory/bloomir/data/CompressedPostings.java:20-174).

Execution shape: a kernel plus parameters over the sharded top-k
executor (query/sharded.py — doc-sharded like Ivory's broker
architecture, docs/clue.html:164-180). The driver tokenizes the queries,
resolves termids through Index.lookup_terms and folds duplicate tokens
into qtf; the executor hands the kernel *all* query-term runs of one
(qid, docno-shard) and merges the global top-k. The kernel merges every
term's block boundaries into a segment grid, upper-bounds each segment
by the sum of per-term block maxima (× qtf), visits segments in
descending bound order, exactly scoring each (vectorized decode +
canonical float32 fold), and stops when the next segment's bound is
strictly below the running kth-best score — block-max WAND re-organized
for vectorized execution.

Results are bit-identical to the exact path and the numpy oracle because
decode + scoring + accumulation all share the same kernels
(ivory_spark.functions.scoring, ivory_spark.index.codec).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ivory_spark.functions.scoring import F32, bm25_idf, bm25_tf_part, group_sum_f32
from ivory_spark.index import codec
from ivory_spark.index.reader import Index
from ivory_spark.query.exact import query_term_rows
from ivory_spark.query.sharded import local_topk, shard_runs, sharded_topk

SEGMENT_BATCH = 32  # segments scored per pruning-check round


def _score_group(
    pdf: pd.DataFrame, n_docs: int, avgdl: float, k1: float, b: float, idf_mode: str,
    lo: int, hi: int, k: int, stats: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max WAND over one (qid, shard): returns (docnos, scores) top-k.
    stats (optional dict) receives {'segments': total, 'scored': visited} —
    pruning instrumentation for tests/telemetry."""
    terms = []
    boundaries = [np.array([lo - 1], dtype=np.int64)]
    for row in pdf.itertuples(index=False):
        blob = bytes(row.blob)
        n, n_blocks, _bs = codec.read_header(blob)
        if n == 0:
            continue
        directory = codec.read_directory(blob)
        lasts = directory["last_docno"].astype(np.int64)
        # blocks overlapping [lo, hi]
        b_lo = int(np.searchsorted(lasts, lo))
        b_hi = int(min(np.searchsorted(lasts, hi), n_blocks - 1))
        if b_lo > b_hi:
            continue
        qtf = F32(row.qtf)
        idf = bm25_idf(n_docs, np.array([row.df]), mode=idf_mode)[0]
        terms.append(
            {
                "termid": int(row.termid),
                "qtf": qtf,
                "idf": np.float32(idf),
                "blob": blob,
                "lasts": lasts,
                "firsts": directory["first_docno"].astype(np.int64),
                # per-block bound, clamped at 0: a doc missing this term
                # contributes 0, which exceeds any negative bound — the
                # block-level version of Ivory's maxScore >= 0 clamp
                # (BM25ScoringFunction.java:73-77)
                "ub": np.maximum(qtf * directory["max_impact"], np.float32(0.0)),
                "b_lo": b_lo,
                "b_hi": b_hi,
                "cache": {},
            }
        )
        firsts = directory["first_docno"].astype(np.int64)
        boundaries.append(np.minimum(lasts[b_lo : b_hi + 1], hi))
        # block FIRST docnos as boundaries too: segments falling between
        # two blocks of a term become provably term-free (bound 0)
        boundaries.append(
            np.clip(firsts[b_lo : b_hi + 1] - 1, lo - 1, hi)
        )
    if not terms:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)

    # segment grid: refinement of every term's block boundaries within shard
    bounds = np.unique(np.concatenate(boundaries + [np.array([hi], dtype=np.int64)]))
    seg_start = bounds[:-1]  # exclusive
    seg_end = bounds[1:]  # inclusive
    n_seg = len(seg_end)

    # per-segment upper bound = sum over terms of covering block's ub.
    # A segment whose range ends before the covering block's first docno
    # provably holds no postings of that term (directory stores per-block
    # first_docno) — bound 0, which is what makes pruning effective for
    # sparse lists on the static segment grid.
    seg_ub = np.zeros(n_seg, dtype=np.float64)
    seg_cov = np.zeros(n_seg, dtype=np.int32)  # terms whose run covers the segment
    term_block_of_seg = []
    for t in terms:
        bi = np.searchsorted(t["lasts"], seg_end)  # block covering each segment
        bi_c = np.clip(bi, t["b_lo"], t["b_hi"])
        valid = (bi <= t["b_hi"]) & (seg_end >= t["firsts"][bi_c])
        ub = np.where(valid, t["ub"][bi_c], 0.0)
        term_block_of_seg.append((bi_c, valid))
        seg_ub += ub
        seg_cov += valid.astype(np.int32)

    # pruning margin: the float32 sequential fold of a doc's contributions
    # can exceed the float64 sum of per-term bounds by the fold's rounding
    # error, which grows with the number of covering terms (~n·2^-24 each
    # step). Derive the inflation from the per-segment covering count so
    # the bound stays safe for arbitrarily long queries (ADVICE r01):
    # (1 + n_cov·2^-20) dominates n_cov·ulp with a 16x safety factor.
    seg_ub_adj = seg_ub * (1.0 + seg_cov.astype(np.float64) * 2.0**-20) + 1e-12

    order = np.argsort(-seg_ub, kind="stable")
    all_docnos: list[np.ndarray] = []
    all_termids: list[np.ndarray] = []
    all_contribs: list[np.ndarray] = []
    theta = -np.inf
    theta_set = False  # pruning valid only once k docs have been scored
    pos = 0
    n_scored = 0
    while pos < n_seg:
        if theta_set and seg_ub_adj[order[pos]] < theta:
            break  # all remaining segments bounded strictly below kth best
        batch = order[pos : pos + SEGMENT_BATCH]
        batch = batch[seg_cov[batch] > 0]
        if theta_set:
            batch = batch[~(seg_ub_adj[batch] < theta)]
        pos += SEGMENT_BATCH
        if len(batch) == 0:
            continue
        for si in batch:
            s_lo, s_hi = int(seg_start[si]), int(seg_end[si])
            covering = [
                (ti, float(terms[ti]["ub"][int(term_block_of_seg[ti][0][si])]))
                for ti in range(len(terms))
                if term_block_of_seg[ti][1][si]
            ]
            # MaxScore essential/non-essential split (the segment-level
            # form of MRFDocumentRanker's term partitioning): a doc
            # absent from every essential list is bounded by the sum of
            # non-essential ubs < theta and cannot enter the top-k
            if theta_set and len(covering) > 1:
                covering.sort(key=lambda x: x[1])  # ub ascending
                cum = 0.0
                n_non_essential = 0
                infl = 1.0 + len(covering) * 2.0**-20
                for _, u in covering:
                    if (cum + u) * infl + 1e-12 < theta:
                        cum += u
                        n_non_essential += 1
                    else:
                        break
                essential = [ti for ti, _ in covering[n_non_essential:]]
            else:
                essential = [ti for ti, _ in covering]

            def seg_postings(ti):
                t = terms[ti]
                bi = int(term_block_of_seg[ti][0][si])
                dec = t["cache"].get(bi)
                if dec is None:
                    dec = codec.decode_block(t["blob"], bi)
                    t["cache"][bi] = dec
                docnos, tfs, dls = dec
                d64 = docnos.astype(np.int64)
                m = (d64 > s_lo) & (d64 <= s_hi)
                return d64[m], tfs[m], dls[m]

            cand_parts = [seg_postings(ti)[0] for ti in essential]
            cands = (
                np.unique(np.concatenate(cand_parts)) if cand_parts else
                np.empty(0, dtype=np.int64)
            )
            if len(cands) == 0:
                continue
            n_scored += 1  # segments where full scoring actually ran
            full_cover = len(essential) == len(covering)
            for ti, _ub in covering:
                t = terms[ti]
                d64, tfs_m, dls_m = seg_postings(ti)
                if not full_cover:
                    keep = np.isin(d64, cands, assume_unique=False)
                    d64, tfs_m, dls_m = d64[keep], tfs_m[keep], dls_m[keep]
                if len(d64) == 0:
                    continue
                contrib = t["qtf"] * (
                    t["idf"] * bm25_tf_part(tfs_m, dls_m, avgdl, k1, b)
                )
                all_docnos.append(d64)
                all_termids.append(np.full(len(d64), t["termid"], dtype=np.int64))
                all_contribs.append(contrib)
        # update threshold from everything scored so far
        if all_docnos:
            d, s = group_sum_f32(
                np.concatenate(all_docnos),
                np.concatenate(all_termids),
                np.concatenate(all_contribs),
            )
            if len(s) >= k:
                theta = np.partition(s, len(s) - k)[len(s) - k]
                theta_set = True

    if stats is not None:
        stats["segments"] = int(n_seg)
        stats["scored"] = int(n_scored)
    if not all_docnos:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    d, s = group_sum_f32(
        np.concatenate(all_docnos), np.concatenate(all_termids), np.concatenate(all_contribs)
    )
    return local_topk(d, s, k)


def bm25_topk_wand(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    k: int = 10,
    with_docid: bool = True,
) -> DataFrame:
    props = index.properties
    if props.get("bounds_stale"):
        # appended-to index: stored block-max bounds were computed under
        # smaller n_docs/avgdl and may UNDERSTATE true impacts — pruning
        # on them can drop true top-k docs. compact.refresh_bounds
        # re-derives them; until then callers must use the exact path
        # (query/batch.run_batch routes automatically).
        raise ValueError(
            "index has stale WAND bounds after append_delta; "
            "run compact.refresh_bounds or use the exact path"
        )
    n_docs, avgdl = props["n_docs"], props["avgdl"]
    k1, b, idf_mode = props["k1"], props["b"], props["idf_mode"]

    rows, _ = query_term_rows(index, queries)
    runs = shard_runs(
        index, rows, ["termid", "df", "n", "first_docno", "last_docno", "max_impact", "blob"]
    )

    def kernel(qid, pdf: pd.DataFrame, lo: int, hi: int):
        return _score_group(pdf, n_docs, avgdl, k1, b, idf_mode, lo, hi, k)

    return sharded_topk(index, runs, kernel, k, with_docid)
