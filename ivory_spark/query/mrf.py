"""Markov-Random-Field retrieval: sequential/full dependence models with
ordered/unordered window potentials over a positional index.

Reference semantics reproduced (not copied):
- clique generation: bag-of-words = one clique per query-token occurrence
  (TermCliqueSet.java:62-79); SD = adjacent term pairs
  (CliqueFactory.java:40-87); FD = 2^|q| enumeration — ordered cliques
  are the contiguous subsets, unordered the non-contiguous ones, in
  enumeration order (CliqueFactory.java:89-170);
- expression windows: #od gap = width (default 1); #uw window =
  |terms| * width (default width 4)
  (OrderedWindowExpressionGenerator.java, UnorderedWindow...java);
- window matching: merge all terms' position lists into one sorted
  stream (ties keep earlier-reader order), then the reference's exact
  scan: ordered requires strictly increasing reader ids with every
  consecutive new-match gap <= gap size
  (ProximityPostingsReaderOrderedWindow.java:92-136); unordered requires
  all ids within a window of `size` positions
  (ProximityPostingsReaderUnorderedWindow.java:90-124); match counts
  truncate at Short.MAX_VALUE;
- proximity df/cf heuristics: df = N/100 (int), cf = 2*df
  (RetrievalEnvironment.java:133-134,352-385);
- scoring: each clique contributes weight * scoringFn(tf, dl)
  (QueryPotential.java:143-169); float32 accumulation in clique order.

Documented deviation: a proximity clique left with fewer than two
in-dictionary terms contributes 0 (the reference's single-reader
behavior is a degenerate artifact of its scan loop). Dirichlet cliques
with tf=0 score the reference's background probability (nonzero,
doclen-dependent), clamped to 0 only when the clique's cf heuristic
degenerates to 0 on a sub-100-doc corpus.

The MRF path is exact (no pruning). On Spark it is a per-(qid, shard)
kernel over the sharded top-k executor (query/sharded.py); its golden
oracle is oracle_mrf_topk below, which shares every kernel with the
Spark path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ivory_spark.functions.scoring import (
    F32,
    bm25_idf,
    bm25_tf_part,
    dirichlet_score,
)
from ivory_spark.functions.tokenizer import MAX_TF, get_tokenizer
from ivory_spark.index import codec
from ivory_spark.index.reader import Index
from ivory_spark.query.sharded import local_topk, shard_of_expr, shard_runs, sharded_topk

SHORT_MAX = 32767
_NO_DOCS = np.empty(0, dtype=np.int64)


# ---------------------------------------------------------------------------
# window-match kernels (exact reference semantics)
# ---------------------------------------------------------------------------


def _merge_streams(position_lists: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """One sorted (positions, reader_ids) stream; ties keep reader order."""
    pos = np.concatenate([np.asarray(p, dtype=np.int64) for p in position_lists])
    ids = np.concatenate(
        [np.full(len(p), i, dtype=np.int64) for i, p in enumerate(position_lists)]
    )
    order = np.lexsort((ids, pos))
    return pos[order], ids[order]


def _batch_next(p: np.ndarray, c: np.ndarray, side: str) -> tuple[np.ndarray, np.ndarray]:
    """For each c[i]: (exists, value) of the first element of sorted p that
    is >= c[i] (side='left') or > c[i] (side='right')."""
    idx = np.searchsorted(p, c, side)
    has = idx < len(p)
    val = p[np.minimum(idx, len(p) - 1)]
    return has, val


def batch_ordered_counts(
    readers: list[tuple[np.ndarray, np.ndarray]], gap: int, m: int
) -> np.ndarray:
    """#od[gap] match counts for many documents at once.

    Each reader is (positions, doc_index): `positions` ascending int64,
    offset-encoded so documents occupy disjoint, ordered ranges wider than
    `gap` (cross-document pairs then always violate the gap bound);
    `doc_index` maps each element to its document in 0..m-1. Returns int64
    counts per document, clamped at Short.MAX_VALUE.

    Semantics are the reference merged-stream scan
    (ProximityPostingsReaderOrderedWindow.java:92-136), vectorized: only
    reader-0 elements can start a match (any later lower-id reader breaks
    the strictly-increasing-id rule); from a start c0, the k-th matched
    element is the first reader-k element >= c_{k-1} (ties in the merged
    stream resolve by reader id, so an equal position of a higher-id
    reader comes after), each step's gap must be <= gap, and no
    not-yet-matched reader j>k may have an element in [c_{k-1}, c_k) —
    the scan would match j first and then fail on reader k's lower id.
    Equivalence to the scan loop is property-tested in tests/test_mrf.py."""
    n = len(readers)
    p0, d0 = readers[0]
    if n < 2 or any(len(r[0]) == 0 for r in readers):
        return np.zeros(m, dtype=np.int64)
    c = p0
    ok = np.ones(len(p0), dtype=bool)
    for k in range(1, n):
        has, ck = _batch_next(readers[k][0], c, "left")
        step = has & (ck - c <= gap)
        for j in range(k + 1, n):
            jhas, nj = _batch_next(readers[j][0], c, "left")
            step &= (~jhas) | (nj >= ck)
        ok &= step
        c = np.where(step, ck, c)
    counts = np.bincount(d0[ok], minlength=m)
    return np.minimum(counts, SHORT_MAX)


def batch_unordered_counts(
    readers: list[tuple[np.ndarray, np.ndarray]], window: int, m: int
) -> np.ndarray:
    """#uw[window] match counts for many documents at once (same reader
    encoding as batch_ordered_counts; offset stride must exceed window).

    Reference semantics (ProximityPostingsReaderUnorderedWindow.java:
    90-124): every merged-stream element starts a candidate window; it
    matches iff every other reader has an element in
    [start, start + window - 1] occurring after the start in stream order
    — an element at the start position counts only for readers with a
    higher reader id (merged-stream tie order)."""
    n = len(readers)
    if n < 2 or any(len(r[0]) == 0 for r in readers):
        return np.zeros(m, dtype=np.int64)
    counts = np.zeros(m, dtype=np.int64)
    for r, (a, da) in enumerate(readers):
        ok = np.ones(len(a), dtype=bool)
        for j in range(n):
            if j == r:
                continue
            pj = readers[j][0]
            lo = np.searchsorted(pj, a, "left" if j > r else "right")
            hi = np.searchsorted(pj, a + (window - 1), "right")
            ok &= hi > lo
        counts += np.bincount(da[ok], minlength=m)
    return np.minimum(counts, SHORT_MAX)


def _one_doc_readers(position_lists: list[np.ndarray]) -> list[tuple[np.ndarray, np.ndarray]]:
    return [
        (np.asarray(p, dtype=np.int64), np.zeros(len(p), dtype=np.int64))
        for p in position_lists
    ]


def count_ordered_matches(position_lists: list[np.ndarray], gap: int) -> int:
    """#od[gap]: all terms in reader order, each consecutive new-term gap
    <= gap (ProximityPostingsReaderOrderedWindow.java:92-136). Single-doc
    wrapper over batch_ordered_counts; equivalence to the reference scan
    loop is property-tested in tests/test_mrf.py."""
    if len(position_lists) < 2 or any(len(p) == 0 for p in position_lists):
        return 0
    return int(batch_ordered_counts(_one_doc_readers(position_lists), gap, 1)[0])


def _count_ordered_scan(position_lists: list[np.ndarray], gap: int) -> int:
    """Reference scan loop (exact reference semantics, any reader count)."""
    n_readers = len(position_lists)
    positions, ids = _merge_streams(position_lists)
    matches = 0
    n = len(positions)
    for i in range(n):
        matched = {int(ids[i])}
        last_id = int(ids[i])
        last_pos = int(positions[i])
        max_gap = 0
        ordered = True
        for j in range(i + 1, n):
            cur_id = int(ids[j])
            cur_pos = int(positions[j])
            if cur_id not in matched:
                matched.add(cur_id)
                if cur_id < last_id:
                    ordered = False
                if cur_pos - last_pos > max_gap:
                    max_gap = cur_pos - last_pos
                last_pos, last_id = cur_pos, cur_id
            if max_gap > gap or not ordered:
                break
            if len(matched) == n_readers and ordered:
                matches += 1
                break
    return min(matches, SHORT_MAX)


def count_unordered_matches(position_lists: list[np.ndarray], window: int) -> int:
    """#uw[window]: all terms within `window` consecutive positions
    (ProximityPostingsReaderUnorderedWindow.java:90-124). Single-doc
    wrapper over batch_unordered_counts."""
    if len(position_lists) < 2 or any(len(p) == 0 for p in position_lists):
        return 0
    return int(batch_unordered_counts(_one_doc_readers(position_lists), window, 1)[0])


def _count_unordered_scan(position_lists: list[np.ndarray], window: int) -> int:
    """Reference scan loop (exact reference semantics, any reader count)."""
    n_readers = len(position_lists)
    positions, ids = _merge_streams(position_lists)
    matches = 0
    n = len(positions)
    for i in range(n):
        matched = {int(ids[i])}
        start = int(positions[i])
        for j in range(i + 1, n):
            if int(positions[j]) - start + 1 > window:
                break
            matched.add(int(ids[j]))
            if len(matched) == n_readers:
                matches += 1
                break
    return min(matches, SHORT_MAX)


# ---------------------------------------------------------------------------
# model spec + clique generation
# ---------------------------------------------------------------------------


@dataclass
class FeatureSpec:
    kind: str  # "term" | "od" | "uw"
    weight: float
    width: int = 1  # od: gap size; uw: window = len(terms) * width
    scorer: str = "bm25"
    params: dict = field(default_factory=dict)
    # which term groups this feature applies to (the reference separates
    # clique selection from window kind: OrderedCliqueSet picks groups,
    # the ExpressionGenerator picks od/uw — FeatureBasedMRFBuilder.java:
    # 61-140, CliqueFactory.java:40-170):
    #   "auto"               — follow the model's dependence (sd → bigrams,
    #                          fd → od:contiguous / uw:non-contiguous)
    #   "sequential"         — adjacent bigrams
    #   "full_contiguous"    — contiguous multi-term subsets
    #   "full_noncontiguous" — non-contiguous multi-term subsets
    cliques: str = "auto"
    # parameter id from the model XML <feature id="...">; feature
    # extraction groups clique potentials under this name
    # (ltr/ExtractFeatures.java:190 featId = modelName + "-" + paramId)
    name: str = ""
    # id of a concept-importance model (query/importance.py) — the WSD
    # machinery: each clique's effective weight becomes weight x
    # importance(concept) (FeatureBasedMRFBuilder.java:89-110)
    importance: str = ""


@dataclass
class MrfModel:
    """SD/FD model: features applied to the query's clique sets."""

    dependence: str = "sd"  # "sd" | "fd"
    features: list[FeatureSpec] = field(
        default_factory=lambda: [
            FeatureSpec("term", 0.82),
            FeatureSpec("od", 0.09, width=1),
            FeatureSpec("uw", 0.09, width=4),
        ]
    )
    k: int = 10
    # WSD extras (FeatureBasedMRFBuilder.java:43-51,118-126): importance
    # models referenced by FeatureSpec.importance, optional global
    # importance normalization, and the bigram pruning threshold
    importance_models: dict = field(default_factory=dict)
    normalize_importance: bool = False
    pruning_threshold_bigram: float = 0.0


def _subsets_fd(n: int) -> list[tuple[list[int], bool]]:
    """FD enumeration order: (member indexes, contiguous?) for i=1..2^n-1,
    multi-term subsets only (CliqueFactory.java:112-170)."""
    out = []
    for i in range(1, 2**n):
        members = [j for j in range(n) if (i >> (n - 1 - j)) & 1]
        if len(members) < 2:
            continue
        contiguous = members[-1] - members[0] + 1 == len(members)
        out.append((members, contiguous))
    return out


def build_cliques(tokens: list[str], model: MrfModel) -> list[dict]:
    """Ordered clique list: [{kind, terms, weight, window, scorer, params,
    fid}] — fid is the index of the FeatureSpec that generated the clique
    (feature extraction groups potentials by it; scoring ignores it)."""
    cliques: list[dict] = []
    for fid, feat in enumerate(model.features):
        if feat.kind == "term":
            for t in tokens:  # one clique per occurrence — dupes multiply
                cliques.append(
                    {"kind": "term", "terms": (t,), "weight": feat.weight,
                     "window": 0, "scorer": feat.scorer, "params": feat.params,
                     "fid": fid}
                )
        elif feat.kind in ("od", "uw"):
            sel = feat.cliques
            if sel == "auto":
                if model.dependence == "sd":
                    sel = "sequential"
                else:
                    sel = "full_contiguous" if feat.kind == "od" else "full_noncontiguous"
            groups: list[list[str]] = []
            if sel == "sequential":
                groups = [[a, b] for a, b in zip(tokens, tokens[1:])]
            elif sel in ("full_contiguous", "full_noncontiguous"):
                want_contig = sel == "full_contiguous"
                for members, contiguous in _subsets_fd(len(tokens)):
                    if contiguous == want_contig:
                        groups.append([tokens[j] for j in members])
            else:
                raise ValueError(f"unknown clique selection: {feat.cliques}")
            for g in groups:
                window = feat.width if feat.kind == "od" else len(g) * feat.width
                cliques.append(
                    {"kind": feat.kind, "terms": tuple(g), "weight": feat.weight,
                     "window": window, "scorer": feat.scorer, "params": feat.params,
                     "fid": fid}
                )
        else:
            raise ValueError(feat.kind)
    return _apply_importance(cliques, model)


def _apply_importance(cliques: list[dict], model: MrfModel) -> list[dict]:
    """WSD post-pass (FeatureBasedMRFBuilder.java:89-126): for features
    naming an importance model, each clique's importance = the model's
    concept weight of its space-joined terms and its effective weight
    becomes weight x importance (Clique.combinedWeight); non-term
    cliques below pruning_threshold_bigram are dropped (importance
    cliques are judged by importance, others by their weight — and the
    reference accumulates the normalization total BEFORE pruning);
    normalize_importance divides importances by that total."""
    needs = any(f.importance for f in model.features)
    if not needs and model.pruning_threshold_bigram <= 0.0:
        return cliques
    kept: list[dict] = []
    total = F32(0.0)
    for c in cliques:
        feat = model.features[c["fid"]]
        if feat.importance:
            imodel = model.importance_models.get(feat.importance)
            if imodel is None:
                raise ValueError(
                    f"importance model {feat.importance!r} not found "
                    f"(have: {sorted(model.importance_models)})"
                )
            imp = imodel.clique_weight(c["terms"])
            c["importance"] = imp
            total = F32(total + F32(imp))  # pre-pruning, float32 (ref.)
            w = imp
        else:
            w = c["weight"]
        if w < model.pruning_threshold_bigram and c["kind"] != "term":
            continue
        kept.append(c)
    for c in kept:
        if "importance" in c:
            imp = c["importance"]
            if model.normalize_importance:
                # no zero guard, like the reference: an all-zero
                # importance total divides 0f/0f -> NaN weights
                # (FeatureBasedMRFBuilder.java:118-122 normalizes
                # unconditionally) — degenerate configs surface loudly
                with np.errstate(invalid="ignore", divide="ignore"):
                    imp = float(F32(F32(imp) / total))
                c["importance"] = imp
            c["weight"] = float(F32(c["weight"]) * F32(imp))
    return kept


# ---------------------------------------------------------------------------
# shared scoring kernel
# ---------------------------------------------------------------------------


def _clique_score(
    scorer: str, params: dict, tf: int, dl: int, df: int, cf: int,
    n_docs: int, avgdl: float, collection_len: int,
) -> np.float32:
    if tf <= 0 and (scorer != "dirichlet" or cf <= 0):
        # tf-proportional scorers: absent term scores 0. Dirichlet keeps
        # the reference's nonzero doclen-dependent background for absent
        # terms (DirichletScoringFunction.java:30-66); the cf<=0 guard
        # covers degenerate proximity heuristics on tiny corpora (df =
        # N//100 = 0) where the background would be log(0).
        return F32(0.0)
    if scorer == "bm25":
        idf = bm25_idf(n_docs, np.array([df]), mode=params.get("idf", "okapi"))[0]
        tfp = bm25_tf_part(
            np.array([tf]), np.array([dl]), avgdl,
            params.get("k1", 1.2), params.get("b", 0.75),
        )[0]
        return np.float32(idf) * tfp
    if scorer == "dirichlet":
        return dirichlet_score(
            np.array([tf]), np.array([dl]), np.array([cf]), collection_len,
            params.get("mu", 2500.0),
        )[0]
    raise ValueError(scorer)


def score_doc(
    cliques: list[dict],
    doc_terms: dict[str, tuple[int, np.ndarray]],  # term -> (tf, positions)
    dl: int,
    stats: dict[str, tuple[int, int]],  # term -> (df, cf); OOV absent
    n_docs: int,
    avgdl: float,
    collection_len: int,
) -> np.float32:
    """float32 MRF score, accumulated sequentially in clique order."""
    default_df = n_docs // 100
    default_cf = default_df * 2
    acc = F32(0.0)
    for c in cliques:
        if c["kind"] == "term":
            term = c["terms"][0]
            if term not in stats:
                continue  # OOV
            tf = doc_terms.get(term, (0, None))[0]
            df, cf = stats[term]
        else:
            present = [t for t in c["terms"] if t in stats]
            if len(present) < 2:
                continue
            plists = [doc_terms.get(t, (0, np.empty(0, dtype=np.int64)))[1] for t in present]
            if c["kind"] == "od":
                tf = count_ordered_matches(plists, c["window"])
            else:
                tf = count_unordered_matches(plists, c["window"])
            df, cf = default_df, default_cf
        contrib = F32(c["weight"]) * _clique_score(
            c["scorer"], c["params"], tf, dl, df, cf, n_docs, avgdl, collection_len
        )
        acc = F32(acc + contrib)
    return acc


# ---------------------------------------------------------------------------
# batched scoring kernel (vectorized twin of score_doc; bit-exact by
# construction: identical IEEE-754 float32 ops applied elementwise, same
# clique-ordered accumulation — asserted per-doc-vs-batch in tests/test_mrf.py)
# ---------------------------------------------------------------------------


@dataclass
class TermData:
    """One query term's postings within a candidate-doc universe of size m,
    CSR-encoded so window kernels can gather position lists without
    Python-level per-document loops."""

    tf: np.ndarray  # int64 (m,): term frequency per candidate doc (0 absent)
    doc_rows: np.ndarray  # int64 ascending rows in 0..m-1 containing the term
    indptr: np.ndarray  # int64 (len(doc_rows)+1,): CSR row pointers
    flat_pos: np.ndarray  # int64: positions, concatenated in doc_rows order


def max_position(term_data: dict[str, TermData]) -> int:
    """Largest position over every term's postings (0 when none) — the
    offset stride the batched window kernels need."""
    return max((int(td.flat_pos.max()) for td in term_data.values() if td.flat_pos.size), default=0)


def _gather_csr(
    flat: np.ndarray, indptr: np.ndarray, rows: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate CSR rows `rows` -> (values, per-row lengths), fully
    vectorized (no per-row Python)."""
    starts = indptr[rows]
    lens = indptr[rows + 1] - starts
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype), lens
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(np.cumsum(lens) - lens, lens)
        + np.repeat(starts, lens)
    )
    return flat[idx], lens


def _clique_score_vec(
    scorer: str, params: dict, tf: np.ndarray, dl: np.ndarray, df: int, cf: int,
    n_docs: int, avgdl: float, collection_len: int,
) -> np.ndarray:
    """Vectorized _clique_score over m docs (same ops, same zero rules)."""
    if scorer == "bm25":
        idf = bm25_idf(n_docs, np.array([df]), mode=params.get("idf", "okapi"))[0]
        sc = np.float32(idf) * bm25_tf_part(
            tf, dl, avgdl, params.get("k1", 1.2), params.get("b", 0.75)
        )
        return np.where(tf > 0, sc, F32(0.0)).astype(np.float32)
    if scorer == "dirichlet":
        with np.errstate(divide="ignore"):
            sc = dirichlet_score(tf, dl, cf, collection_len, params.get("mu", 2500.0))
        # absent term keeps the nonzero background unless cf degenerates to 0
        return np.where((tf > 0) | (cf > 0), sc, F32(0.0)).astype(np.float32)
    raise ValueError(scorer)


def _clique_window_counts(
    present: list[str], clique: dict, term_data: dict[str, TermData],
    m: int, max_pos: int,
) -> np.ndarray:
    """Window-match tf per candidate doc for one proximity clique: only
    docs containing every present term can match; their position lists are
    gathered CSR-style, offset-encoded (stride > max position + window so
    cross-doc pairs can never satisfy a gap/window bound), and counted in
    one batched searchsorted pass."""
    tds = [term_data.get(t) for t in present]
    out = np.zeros(m, dtype=np.int64)
    if any(td is None or len(td.doc_rows) == 0 for td in tds):
        return out
    common = tds[0].doc_rows
    for td in tds[1:]:
        common = common[np.isin(common, td.doc_rows, assume_unique=False)]
    if len(common) == 0:
        return out
    window = int(clique["window"])
    stride = np.int64(max_pos + window + 2)
    readers = []
    for td in tds:
        rows_in_td = np.searchsorted(td.doc_rows, common)
        vals, lens = _gather_csr(td.flat_pos, td.indptr, rows_in_td)
        doc_ord = np.repeat(np.arange(len(common), dtype=np.int64), lens)
        readers.append((vals + doc_ord * stride, doc_ord))
    if clique["kind"] == "od":
        cnt = batch_ordered_counts(readers, window, len(common))
    else:
        cnt = batch_unordered_counts(readers, window, len(common))
    out[common] = cnt
    return out


def score_docs_batch(
    cliques: list[dict],
    term_data: dict[str, TermData],
    dl: np.ndarray,  # int64 (m,) doc lengths
    stats: dict[str, tuple[int, int]],
    n_docs: int,
    avgdl: float,
    collection_len: int,
) -> np.ndarray:
    """float32 MRF scores for m candidate docs at once — the vectorized
    twin of score_doc: per clique one vectorized contribution, accumulated
    elementwise in clique order (bit-identical to the per-doc sequential
    float32 fold)."""
    m = len(dl)
    default_df = n_docs // 100
    default_cf = default_df * 2
    max_pos = max_position(term_data)
    acc = np.zeros(m, dtype=np.float32)
    zero_tf = np.zeros(m, dtype=np.int64)
    for c in cliques:
        if c["kind"] == "term":
            term = c["terms"][0]
            if term not in stats:
                continue  # OOV
            td = term_data.get(term)
            tf = td.tf if td is not None else zero_tf
            df, cf = stats[term]
        else:
            present = [t for t in c["terms"] if t in stats]
            if len(present) < 2:
                continue
            tf = _clique_window_counts(present, c, term_data, m, max_pos)
            df, cf = default_df, default_cf
        sc = _clique_score_vec(
            c["scorer"], c["params"], tf, dl, df, cf, n_docs, avgdl, collection_len
        )
        acc = (acc + F32(c["weight"]) * sc).astype(np.float32)
    return acc


def assemble_term_data(
    decoded: list, cand: np.ndarray
) -> tuple[dict[str, TermData], np.ndarray]:
    """Build per-term CSR TermData over the candidate-doc universe from
    decoded run entries (term, docnos, tfs, dls, flat_pos, indptr).

    SHARED by the mrf_topk Spark kernel and serve.LocalSearcher.search_sd
    — the float32 rank-identity invariant requires every scorer path to
    assemble identically (see README: float32 rank identity). Salted
    builds emit several
    docno-disjoint runs per term: they are ordered by first docno and
    concatenated into one CSR; docs outside `cand` are masked out.
    Returns (term_data, dl_vec)."""
    m = len(cand)
    dl_vec = np.zeros(m, dtype=np.int64)
    by_term: dict[str, list] = {}
    for entry in decoded:
        if len(entry[1]) == 0:
            continue  # zero-posting run: nothing to contribute
        by_term.setdefault(entry[0], []).append(entry)
    term_data: dict[str, TermData] = {}
    for term, runs in by_term.items():
        runs.sort(key=lambda e: int(e[1][0]))
        d = np.concatenate([e[1] for e in runs])
        tfs_m = np.concatenate([e[2] for e in runs])
        dls_m = np.concatenate([e[3] for e in runs])
        fvals = np.concatenate([e[4] for e in runs])
        lens = np.concatenate([np.diff(e[5]) for e in runs])
        pos = np.searchsorted(cand, d)
        keep = (pos < m) & (cand[np.minimum(pos, m - 1)] == d)
        doc_rows = pos[keep]
        dl_vec[doc_rows] = dls_m[keep]
        tf_vec = np.zeros(m, dtype=np.int64)
        tf_vec[doc_rows] = tfs_m[keep]
        iptr = np.concatenate(([0], np.cumsum(lens)))
        if keep.all():
            flat_k, iptr_k = fvals, iptr
        else:
            rows = np.nonzero(keep)[0]
            flat_k, lens_k = _gather_csr(fvals, iptr, rows)
            iptr_k = np.concatenate(([0], np.cumsum(lens_k)))
        term_data[term] = TermData(tf_vec, doc_rows, iptr_k, flat_k)
    return term_data, dl_vec


def decode_shard_runs(pdf: pd.DataFrame, term_by_id: dict, lo: int, hi: int) -> list:
    """Decode each postings-run row of one (qid, shard) group, masked to
    the shard's [lo, hi] docno range -> [(term, docnos int64, tfs, dls,
    flat_pos, indptr)] ready for assemble_term_data. Rows without a
    pos_blob column (non-positional index) decode empty positions."""
    decoded = []
    for row in pdf.itertuples(index=False):
        term = term_by_id[int(row.termid)]
        docnos, tfs, dl_arr = codec.decode_run(bytes(row.blob))
        d64 = docnos.astype(np.int64)
        mask = (d64 >= lo) & (d64 <= hi)
        if not mask.any():
            continue
        pos_blob = getattr(row, "pos_blob", None)
        flat, indptr = codec.decode_positions_flat(
            bytes(pos_blob) if pos_blob is not None else b"", tfs
        )
        rows = np.nonzero(mask)[0]
        fvals, lens = _gather_csr(flat, indptr, rows)
        iptr = np.concatenate(([0], np.cumsum(lens)))
        decoded.append((term, d64[rows], tfs[rows], dl_arr[rows], fvals, iptr))
    return decoded


# ---------------------------------------------------------------------------
# Spark path
# ---------------------------------------------------------------------------


def term_stats(index: Index, terms) -> tuple[dict, dict]:
    """-> ({term: (df, cf)}, {termid: term}) for the in-dictionary
    `terms`, resolved through the memoized Index.lookup_terms."""
    meta = index.lookup_terms(terms)
    return (
        {t: (df, cf) for t, (_, df, cf) in meta.items()},
        {tid: t for t, (tid, _, _) in meta.items()},
    )


def mrf_topk(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    model: MrfModel | None = None,
    with_docid: bool = True,
    extra_cliques: dict[str, list[dict]] | None = None,
    candidates_df: DataFrame | None = None,
) -> DataFrame:
    """Exact SD/FD retrieval over a positional index: per-doc clique
    scoring as a kernel over the sharded top-k executor
    (query/sharded.py), global top-k with the (score desc, docno desc)
    tie-break.

    candidates_df: optional (qid, docno) DataFrame; when given, only
    those docs are scored (the cascade-ranking reranker contract — an
    expensive stage applied to a cheap stage's survivors,
    ivory/cascade/retrieval/CascadeEval.java). The allow-list never
    touches the driver: candidate rows are tagged (termid = -1) into the
    same (qid, shard) groups as the postings runs, so a 10^5-query
    cascade stays fully distributed.

    extra_cliques: optional qid -> additional clique dicts appended after
    the query-derived ones (latent-concept expansion injects mined
    concept cliques here; their terms are fetched even when absent from
    the query text). Clique-ordered float32 accumulation keeps the score
    deterministic."""
    model = model or MrfModel()
    props = index.properties
    if not props.get("positional"):
        raise ValueError("mrf_topk requires an index built with positional=True")
    n_docs, avgdl, clen = props["n_docs"], props["avgdl"], props["collection_length"]
    k = model.k

    tokenize = get_tokenizer(props.get("tokenizer", "code_v1")).tokenize_py
    extra = extra_cliques or {}
    q_terms = {
        q["qid"]: set(tokenize(q["query"]))
        | {t for c in extra.get(q["qid"], ()) for t in c["terms"]}
        for q in queries
    }
    stats, term_by_id = term_stats(index, set().union(*q_terms.values()))
    q_cliques = {
        q["qid"]: build_cliques(tokenize(q["query"]), model)
        + list(extra.get(q["qid"], []))
        for q in queries
    }
    runs = shard_runs(
        index,
        [(qid, tid) for qid, ts in q_terms.items() for tid, t in term_by_id.items() if t in ts],
        ["termid", "n", "first_docno", "last_docno", "blob", "pos_blob"],
    )
    if runs is not None and candidates_df is not None:
        # allow-list rows ride the SAME (qid, shard) shuffle as the runs
        # (termid -1 marks them); no driver round-trip
        shard_of = shard_of_expr(props["n_shards"], n_docs)
        runs = runs.unionByName(
            candidates_df.select(
                F.lit(-1).cast("long").alias("termid"),
                F.lit(0).cast(runs.schema["n"].dataType).alias("n"),
                F.col("docno").alias("first_docno"),
                F.col("docno").alias("last_docno"),
                F.lit(None).cast("binary").alias("blob"),
                F.lit(None).cast("binary").alias("pos_blob"),
                F.col("qid"),
                shard_of(F.col("docno")).alias("shard"),
            )
        )

    restricted = candidates_df is not None  # the kernel must not capture the frame

    def kernel(qid, pdf: pd.DataFrame, lo: int, hi: int):
        is_cand = pdf["termid"].to_numpy() == -1
        # pass 1: decode each term's run once, mask to the shard range
        decoded = decode_shard_runs(pdf[~is_cand], term_by_id, lo, hi)
        # candidate-doc universe = union of query-term docs in the shard
        cand = np.unique(np.concatenate([e[1] for e in decoded] + [_NO_DOCS]))
        if restricted:
            cand = cand[np.isin(cand, pdf["first_docno"].to_numpy()[is_cand])]
        if len(cand) == 0:
            return cand, np.empty(0, dtype=np.float32)
        term_data, dl_vec = assemble_term_data(decoded, cand)
        scores = score_docs_batch(
            q_cliques[qid], term_data, dl_vec, stats, n_docs, avgdl, clen
        )
        return local_topk(cand, scores, k)

    return sharded_topk(index, runs, kernel, k, with_docid)


# ---------------------------------------------------------------------------
# oracle path (golden reference)
# ---------------------------------------------------------------------------


def oracle_mrf_topk(
    oracle_index, queries: list[dict], model: MrfModel | None = None,
    candidates: dict[str, set[int]] | None = None,
    extra_cliques: dict[str, list[dict]] | None = None,
) -> dict[str, list[dict]]:
    """Same semantics over the single-node oracle index (which keeps full
    term->positions maps per doc)."""
    model = model or MrfModel()
    oi = oracle_index
    extra = extra_cliques or {}
    stats = {t: (df, cf) for t, (tid, df, cf) in oi.dictionary.items()}
    out: dict[str, list[dict]] = {}
    for q in queries:
        tokens = get_tokenizer(getattr(oi, "tokenizer", "code_v1")).tokenize_py(q["query"])
        cliques = build_cliques(tokens, model) + list(extra.get(q["qid"], []))
        eterms = {t for c in extra.get(q["qid"], []) for t in c["terms"]}
        qterms = [t for t in sorted(set(tokens) | eterms) if t in stats]
        cand: set[int] = set()
        for t in qterms:
            cand.update(d for d, _ in oi.postings[t])
        if candidates is not None:
            cand &= candidates.get(q["qid"], set())
        scored = []
        for dn in cand:
            dterms = {
                t: (len(oi.positions[t][dn]), np.asarray(oi.positions[t][dn]))
                for t in qterms
                if dn in oi.positions[t]
            }
            s = score_doc(
                cliques, dterms, oi.doclens[dn], stats,
                oi.n_docs, oi.avgdl, oi.collection_length,
            )
            scored.append((dn, s))
        if not scored:
            out[q["qid"]] = []
            continue
        d = np.array([x[0] for x in scored], dtype=np.int64)
        s = np.array([x[1] for x in scored], dtype=np.float32)
        d, s = local_topk(d, s, model.k)
        out[q["qid"]] = [
            {"docno": int(dn), "docid": oi.docids[int(dn)], "score": sc} for dn, sc in zip(d, s)
        ]
    return out
