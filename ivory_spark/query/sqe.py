"""CLIR structured queries — the analogue of ivory/sqe/retrieval.

Reference semantics reproduced (sqe/retrieval/StructuredQuery.java:1-23,
PostingsReaderWrapper.java:44-210, TfDfWeight.java:22-46,
FloatWeight.java, QueryEngine.java):

- a query is a one-key JSON object {operator: [values...]}; operators:
  * ``#combine``  — children scored independently, SCORES summed;
  * ``#weight``   — alternating [w0, child0, w1, child1, ...]; when the
    children are tf/df-bearing (leaves or nested #weight), the WEIGHTED
    TF AND DF ARE BLENDED FIRST and bm25 is computed once on the blend
    (the probabilistic-structured-query / translation-probability trick:
    tf,df = sum_i w_i*(tf_i,df_i), PostingsReaderWrapper.java:176-190);
    when child 0 is a score-bearing operator the weighted scores are
    summed instead (resultScore typed by scores[0]; mismatched children
    are ignored by NodeWeight.add's instanceof guard — reproduced);
  * ``#combweight`` — alternating weights, weighted SCORE sum;
- a leaf is a string: one term -> its postings; several
  whitespace-separated terms -> an ORDERED WINDOW of size 2 over the
  terms (ProximityPostingsReaderOrderedWindow(readers, 2)) with
  default df = n_docs//100 (RetrievalEnvironment.java:133); any OOV
  token makes the whole phrase OOV (tf 0 everywhere);
- scoring is bm25 with FIXED k1=0.5, b=0.3, idf = ln((N-df+0.5)/(df+0.5))
  on the (possibly fractional) blended tf/df, and avgdl computed with
  JAVA INTEGER DIVISION collection_length // n_docs
  (TfDfWeight.java:27-34 float fields; avgDocLen = collectionSize /
  numDocs with both integral, PostingsReaderWrapper.java:61);
- candidate docs = docs where at least one leaf matches (term tf>0, or
  phrase window match — getNextCandidate walks leaf postings only);
- all arithmetic float32 (Java float), accumulated in child order.

#weight weights are translation PROBABILITIES (sum <= 1 per node, as
the CLIR pipeline emits them — build_translated_query renormalizes);
weights far above 1 can blend df beyond N, where the reference's
ln((N-df+0.5)/(df+0.5)) returns NaN exactly as Java's Math.log would —
reproduced, not guarded (fuzz-tested in tests/test_sqe.py).

Spark-first shape: a kernel over the sharded top-k executor
(query/sharded.py) — one decode of each term's runs per (qid, shard),
CSR position gathers, the whole tree evaluated vectorized over the
shard's candidate docs (tree_scores, shared with warm serving).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ivory_spark.functions.tokenizer import get_tokenizer
from ivory_spark.index.reader import Index
from ivory_spark.query.mrf import (
    TermData,
    _clique_window_counts,
    assemble_term_data,
    count_ordered_matches,
    decode_shard_runs,
    max_position,
    term_stats,
)
from ivory_spark.query.sharded import local_topk, shard_runs, sharded_topk

F32 = np.float32
K1 = F32(0.5)  # TfDfWeight.java:23
B = F32(0.3)  # TfDfWeight.java:22
PHRASE_WINDOW = 2  # PostingsReaderWrapper.java:106


@dataclass
class SqeNode:
    """op: 'term' | 'phrase' | 'combine' | 'weight' | 'combweight'."""

    op: str
    term: str = ""
    terms: tuple = ()
    weights: list = field(default_factory=list)
    children: list = field(default_factory=list)


def parse_structured_query(query, tokenizer=None) -> SqeNode:
    """JSON text / dict -> SqeNode tree. Leaf strings are run through
    `tokenizer` per whitespace word when given (the reference receives
    pre-tokenized CLIR output; here the index's analysis chain keeps
    query and index vocabulary aligned)."""
    if isinstance(query, str):
        query = json.loads(query)
    return _parse_node(query, tokenizer)


def _parse_node(obj, tokenizer) -> SqeNode:
    if isinstance(obj, str):
        words = obj.split()
        if tokenizer is not None:
            toks = []
            for w in words:
                toks.extend(tokenizer(w))
            words = toks
        if not words:
            raise ValueError(f"empty leaf in structured query: {obj!r}")
        if len(words) == 1:
            return SqeNode("term", term=words[0])
        return SqeNode("phrase", terms=tuple(words))
    if not isinstance(obj, dict) or len(obj) != 1:
        raise ValueError(f"structured-query node must be a 1-key object: {obj!r}")
    op, values = next(iter(obj.items()))
    if op == "#combine":
        return SqeNode("combine", children=[_parse_node(v, tokenizer) for v in values])
    if op in ("#weight", "#combweight"):
        if len(values) % 2 != 0:
            raise ValueError(f"{op} values must alternate weight, child: {values!r}")
        weights = [float(values[i]) for i in range(0, len(values), 2)]
        children = [_parse_node(values[i], tokenizer) for i in range(1, len(values), 2)]
        return SqeNode(op.lstrip("#"), weights=weights, children=children)
    raise ValueError(f"unknown operator {op!r}")


def build_translated_query(
    tokens: list[str],
    ttable: dict[str, list[tuple[str, float]]],
    max_translations: int = 5,
    min_prob: float = 0.0,
) -> dict:
    """Source-language tokens + translation table -> the probabilistic
    structured query the CLIR pipeline issues (sqe/querygenerator shape:
    one #weight node per source token holding its top translations with
    L1-renormalized probabilities, all under #combine). Tokens with no
    surviving translation pass through verbatim (their surface form may
    still match, e.g. names/numbers)."""
    children: list = []
    for t in tokens:
        cands = sorted(
            [(e, p) for e, p in ttable.get(t, []) if p >= min_prob],
            key=lambda ep: (-ep[1], ep[0]),
        )[:max_translations]
        total = sum(p for _, p in cands)
        if not cands or total <= 0:
            children.append(t)
            continue
        node: list = []
        for e, p in cands:
            node.extend([p / total, e])
        children.append({"#weight": node})
    if not children:
        raise ValueError("empty token list")
    return {"#combine": children}


def query_terms(node: SqeNode) -> set[str]:
    if node.op == "term":
        return {node.term}
    if node.op == "phrase":
        return set(node.terms)
    out: set[str] = set()
    for c in node.children:
        out |= query_terms(c)
    return out


def tfdf_bm25(
    tf: np.ndarray, df: np.ndarray | float, dl: np.ndarray,
    n_docs: int, avgdl_int: float,
) -> np.ndarray:
    """TfDfWeight.getScore in float32 with Java's exact grouping:
    ((k1+1)*tf) / (k1*((1-b) + (b*dl)/avgdl) + tf) * idf,
    idf = (float) Math.log of the float-computed argument."""
    tff = np.asarray(tf, dtype=np.float32)
    dff = np.asarray(df, dtype=np.float32)
    dlf = np.asarray(dl, dtype=np.float32)
    arg = ((F32(n_docs) - dff) + F32(0.5)) / (dff + F32(0.5))
    idf = np.log(arg.astype(np.float64)).astype(np.float32)
    num = (K1 + F32(1.0)) * tff
    den = K1 * ((F32(1.0) - B) + (B * dlf) / F32(avgdl_int)) + tff
    return ((num / den) * idf).astype(np.float32)


def _eval_node(
    node: SqeNode,
    term_data: dict[str, TermData],
    dl: np.ndarray,
    stats: dict[str, tuple[int, int]],
    n_docs: int,
    avgdl_int: float,
    max_pos: int,
):
    """-> ('tfdf', tf_vec f32, df f32 scalar-or-vec) | ('score', vec f32).
    All vectors are over the m candidate docs."""
    m = len(dl)
    default_df = n_docs // 100
    if node.op == "term":
        if node.term not in stats:
            return ("tfdf", np.zeros(m, dtype=np.float32), F32(0.0))  # OOV
        td = term_data.get(node.term)
        tf = td.tf.astype(np.float32) if td is not None else np.zeros(m, dtype=np.float32)
        return ("tfdf", tf, F32(stats[node.term][0]))
    if node.op == "phrase":
        if any(t not in stats for t in node.terms):
            return ("tfdf", np.zeros(m, dtype=np.float32), F32(0.0))  # OOV phrase
        clique = {"kind": "od", "window": PHRASE_WINDOW, "terms": node.terms}
        cnt = _clique_window_counts(list(node.terms), clique, term_data, m, max_pos)
        return ("tfdf", np.minimum(cnt, 32767).astype(np.float32), F32(default_df))
    kids = [
        _eval_node(c, term_data, dl, stats, n_docs, avgdl_int, max_pos)
        for c in node.children
    ]
    if node.op == "combine":
        acc = np.zeros(m, dtype=np.float32)
        for kid in kids:
            acc = (acc + _score_of(kid, dl, n_docs, avgdl_int)).astype(np.float32)
        return ("score", acc)
    if node.op == "combweight":
        acc = np.zeros(m, dtype=np.float32)
        for w, kid in zip(node.weights, kids):
            acc = (acc + _score_of(kid, dl, n_docs, avgdl_int) * F32(w)).astype(
                np.float32
            )
        return ("score", acc)
    # weight: typed by child 0 (PostingsReaderWrapper.java:176-190)
    if not kids:
        return ("score", np.zeros(m, dtype=np.float32))
    if kids[0][0] == "tfdf":
        tf_acc = np.zeros(m, dtype=np.float32)
        df_acc = F32(0.0) * np.zeros(m, dtype=np.float32)
        for w, kid in zip(node.weights, kids):
            if kid[0] != "tfdf":
                continue  # TfDfWeight.add ignores FloatWeight children
            tf_acc = (tf_acc + kid[1] * F32(w)).astype(np.float32)
            df_acc = (df_acc + np.asarray(kid[2], dtype=np.float32) * F32(w)).astype(
                np.float32
            )
        return ("tfdf", tf_acc, df_acc)
    acc = np.zeros(m, dtype=np.float32)
    for w, kid in zip(node.weights, kids):
        if kid[0] != "score":
            continue  # FloatWeight.add ignores TfDfWeight children
        acc = (acc + kid[1] * F32(w)).astype(np.float32)
    return ("score", acc)


def _score_of(kid, dl, n_docs, avgdl_int) -> np.ndarray:
    if kid[0] == "score":
        return kid[1]
    return tfdf_bm25(kid[1], kid[2], dl, n_docs, avgdl_int)


def _candidate_mask(
    node: SqeNode, term_data: dict[str, TermData], stats, m: int, max_pos: int
) -> np.ndarray:
    """Docs where >=1 leaf matches (term tf>0 / phrase window match) —
    the getNextCandidate walk over leaf postings."""
    if node.op == "term":
        td = term_data.get(node.term)
        return td.tf > 0 if td is not None and node.term in stats else np.zeros(m, bool)
    if node.op == "phrase":
        if any(t not in stats for t in node.terms):
            return np.zeros(m, dtype=bool)
        clique = {"kind": "od", "window": PHRASE_WINDOW, "terms": node.terms}
        return _clique_window_counts(list(node.terms), clique, term_data, m, max_pos) > 0
    mask = np.zeros(m, dtype=bool)
    for c in node.children:
        mask |= _candidate_mask(c, term_data, stats, m, max_pos)
    return mask


def tree_scores(
    tree: SqeNode, cand: np.ndarray, term_data: dict[str, TermData],
    dl_vec: np.ndarray, stats: dict, n_docs: int, avgdl_int: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate `tree` over the candidate docs `cand` -> (docnos, float32
    scores) of the docs where at least one leaf matches — the kernel the
    Spark path and warm serving share."""
    max_pos = max_position(term_data)
    mask = _candidate_mask(tree, term_data, stats, len(cand), max_pos)
    res = _eval_node(tree, term_data, dl_vec, stats, n_docs, avgdl_int, max_pos)
    return cand[mask], _score_of(res, dl_vec, n_docs, avgdl_int)[mask]


def sqe_topk(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    k: int = 10,
    with_docid: bool = True,
) -> DataFrame:
    """Structured-query retrieval: queries = [{'qid', 'query': json-text
    or dict}]. Doc-sharded kernel, global (score desc, docno desc)
    top-k — the QueryEngine/StructuredQueryRanker surface."""
    props = index.properties
    n_docs, clen = props["n_docs"], props["collection_length"]
    avgdl_int = float(clen // n_docs)  # Java integer division, see header
    tokenize = get_tokenizer(props.get("tokenizer", "code_v1")).tokenize_py

    trees = {
        q["qid"]: parse_structured_query(q["query"], tokenizer=tokenize)
        for q in queries
    }
    needs_positions = any(
        n.op == "phrase" for t in trees.values() for n in _walk(t)
    )
    if needs_positions and not props.get("positional"):
        raise ValueError("phrase leaves require an index built with positional=True")
    q_terms = {qid: query_terms(t) for qid, t in trees.items()}
    stats, term_by_id = term_stats(index, set().union(*q_terms.values()))
    cols = ["termid", "n", "first_docno", "last_docno", "blob"]
    if props.get("positional"):
        cols.append("pos_blob")
    runs = shard_runs(
        index,
        [(qid, tid) for qid, ts in q_terms.items() for tid, t in term_by_id.items() if t in ts],
        cols,
    )

    def kernel(qid, pdf: pd.DataFrame, lo: int, hi: int):
        decoded = decode_shard_runs(pdf, term_by_id, lo, hi)
        if not decoded:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
        cand = np.unique(np.concatenate([e[1] for e in decoded]))
        term_data, dl_vec = assemble_term_data(decoded, cand)
        d, s = tree_scores(trees[qid], cand, term_data, dl_vec, stats, n_docs, avgdl_int)
        return local_topk(d, s, k)

    return sharded_topk(index, runs, kernel, k, with_docid)


def _walk(node: SqeNode):
    yield node
    for c in node.children:
        yield from _walk(c)


# ---------------------------------------------------------------------------
# oracle path (golden reference)
# ---------------------------------------------------------------------------


def oracle_sqe_topk(
    oracle_index, queries: list[dict], k: int = 10
) -> dict[str, list[dict]]:
    """Same semantics over the single-node numpy OracleIndex, per-doc
    scalar evaluation — the bit-exactness golden for sqe_topk."""
    oi = oracle_index
    tokenize = get_tokenizer(getattr(oi, "tokenizer", "code_v1")).tokenize_py
    stats = {t: (df, cf) for t, (tid, df, cf) in oi.dictionary.items()}
    avgdl_int = float(oi.collection_length // oi.n_docs)
    default_df = oi.n_docs // 100
    out: dict[str, list[dict]] = {}
    for q in queries:
        tree = parse_structured_query(q["query"], tokenizer=tokenize)

        def leaf_tf(node: SqeNode, docno: int) -> float:
            if node.op == "term":
                if node.term not in stats:
                    return 0.0
                return float(dict(oi.postings.get(node.term, ())).get(docno, 0))
            plists = [
                np.asarray(oi.positions.get(t, {}).get(docno, []), dtype=np.int64)
                for t in node.terms
            ]
            if any(t not in stats for t in node.terms):
                return 0.0
            return float(min(count_ordered_matches(plists, PHRASE_WINDOW), 32767))

        def ev(node: SqeNode, docno: int, dl: int):
            if node.op in ("term", "phrase"):
                if node.op == "term":
                    df = float(stats[node.term][0]) if node.term in stats else 0.0
                else:
                    df = (
                        float(default_df)
                        if all(t in stats for t in node.terms)
                        else 0.0
                    )
                return ("tfdf", F32(leaf_tf(node, docno)), F32(df))
            kids = [ev(c, docno, dl) for c in node.children]
            score1 = lambda kid: (
                kid[1]
                if kid[0] == "score"
                else tfdf_bm25(
                    np.array([kid[1]]), kid[2], np.array([dl]), oi.n_docs, avgdl_int
                )[0]
            )
            if node.op == "combine":
                acc = F32(0.0)
                for kid in kids:
                    acc = F32(acc + score1(kid))
                return ("score", acc)
            if node.op == "combweight":
                acc = F32(0.0)
                for w, kid in zip(node.weights, kids):
                    acc = F32(acc + score1(kid) * F32(w))
                return ("score", acc)
            if kids and kids[0][0] == "tfdf":
                tf_acc, df_acc = F32(0.0), F32(0.0)
                for w, kid in zip(node.weights, kids):
                    if kid[0] != "tfdf":
                        continue
                    tf_acc = F32(tf_acc + kid[1] * F32(w))
                    df_acc = F32(df_acc + kid[2] * F32(w))
                return ("tfdf", tf_acc, df_acc)
            acc = F32(0.0)
            for w, kid in zip(node.weights, kids):
                if kid[0] != "score":
                    continue
                acc = F32(acc + kid[1] * F32(w))
            return ("score", acc)

        def matches(node: SqeNode, docno: int) -> bool:
            if node.op in ("term", "phrase"):
                return leaf_tf(node, docno) > 0
            return any(matches(c, docno) for c in node.children)

        cand: set[int] = set()
        for n in _walk(tree):
            if n.op == "term" and n.term in stats:
                cand.update(d for d, _ in oi.postings[n.term])
            elif n.op == "phrase" and all(t in stats for t in n.terms):
                base = set(d for d, _ in oi.postings[n.terms[0]])
                for t in n.terms[1:]:
                    base &= set(d for d, _ in oi.postings[t])
                cand.update(base)
        scored = []
        for dn in sorted(cand):
            if not matches(tree, dn):
                continue
            res = ev(tree, dn, oi.doclens[dn])
            s = (
                res[1]
                if res[0] == "score"
                else tfdf_bm25(
                    np.array([res[1]]), res[2], np.array([oi.doclens[dn]]),
                    oi.n_docs, avgdl_int,
                )[0]
            )
            scored.append((dn, s))
        if not scored:
            out[q["qid"]] = []
            continue
        d = np.array([x[0] for x in scored], dtype=np.int64)
        s = np.array([x[1] for x in scored], dtype=np.float32)
        d, s = local_topk(d, s, k)
        out[q["qid"]] = [
            {"docno": int(dn), "docid": oi.docids[int(dn)], "score": sc}
            for dn, sc in zip(d, s)
        ]
    return out
