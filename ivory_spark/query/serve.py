"""Warm serving mode: driver-local single-query retrieval.

Spark batch retrieval amortizes the plan+schedule floor (~2 s on this
host) across a query batch; an ad-hoc single query pays it in full
(BENCH r01: p50 2.2 s vs 249 ms amortized). This module is the serving
tier: a long-lived process loads the dictionary once, reads only the
candidate postings runs per query through pyarrow (the same termid
row-group pruning the Spark scan gets), keeps a postings LRU, and runs
the SAME kernels in-process — block-max WAND (query/wand._score_group)
for BM25, build_cliques + score_docs_batch (query/mrf) for SD/FD — so
served scores are bit-identical to the Spark exact path, WAND path,
MRF path and numpy oracle.

This is the analogue of Ivory's long-lived broker + retrieval-server
deployment (docs/clue.html:164-180 — partition servers hold the index
hot, the broker fans out and merges): at 100 TB the index stays in the
lake, N serving replicas each memory-map the dictionary and cache hot
postings, and Spark remains the batch/analytics tier over the same
artifacts.
"""

from __future__ import annotations

import json
import os
from collections import Counter, OrderedDict

import numpy as np
import pandas as pd

from ivory_spark.functions.tokenizer import get_tokenizer
from ivory_spark.query.mrf import (
    MrfModel,
    assemble_term_data,
    build_cliques,
    decode_shard_runs,
    score_docs_batch,
)
from ivory_spark.query.sharded import local_topk
from ivory_spark.query.sqe import _walk, parse_structured_query, query_terms, tree_scores
from ivory_spark.query.wand import _score_group


class LocalSearcher:
    """Serve top-k queries from an index_root without a SparkSession."""

    def __init__(self, index_root: str, cache_runs: int = 4096):
        import pyarrow.dataset as pads

        with open(os.path.join(index_root, "properties.json")) as f:
            self.props = json.load(f)
        from ivory_spark.index import codec as _codec

        if self.props.get("format_version") != _codec.FORMAT_VERSION:
            raise ValueError(
                f"index format_version={self.props.get('format_version')} "
                f"!= codec {_codec.FORMAT_VERSION}; rebuild the index"
            )
        if self.props.get("bounds_stale"):
            raise ValueError(
                "index has stale WAND bounds after append_delta; run "
                "compact.refresh_bounds before serving (the WAND kernel "
                "prunes on stored block-max bounds)"
            )
        self._tokenize = get_tokenizer(
            self.props.get("tokenizer", "code_v1")
        ).tokenize_py
        # in-RAM dictionary: term -> (termid, df, cf) — Ivory keeps exactly
        # this resident (RetrievalEnvironment.java:66-67)
        dtab = pads.dataset(os.path.join(index_root, "dictionary")).to_table(
            columns=["term", "termid", "df", "cf"]
        )
        self._dict = dict(
            zip(
                dtab["term"].to_pylist(),
                zip(
                    dtab["termid"].to_pylist(),
                    dtab["df"].to_pylist(),
                    dtab["cf"].to_pylist(),
                ),
            )
        )
        self._postings = pads.dataset(os.path.join(index_root, "postings"))
        self._docmap = pads.dataset(os.path.join(index_root, "docmap"))
        # two LRUs: BM25 queries cache (termid, df, blob) only; SD/FD
        # queries cache blob + pos_blob (the largest column) separately,
        # so plain BM25 serving never reads or pins position bytes
        self._run_cache: OrderedDict[int, pd.DataFrame] = OrderedDict()
        self._run_cache_pos: OrderedDict[int, pd.DataFrame] = OrderedDict()
        self._cache_runs = cache_runs

    def _runs_for(self, termids: list[int], positions: bool = False) -> pd.DataFrame:
        import pyarrow.dataset as pads

        cache = self._run_cache_pos if positions else self._run_cache
        # touch cached hits FIRST so eviction below can never drop a term
        # the current query needs (would silently corrupt scores)
        for t in termids:
            if t in cache:
                cache.move_to_end(t)
        missing = [t for t in termids if t not in cache]
        if missing:
            cols = ["termid", "df", "blob"] + (["pos_blob"] if positions else [])
            tab = self._postings.to_table(
                columns=cols,
                filter=pads.field("termid").isin(missing),
            )
            pdf = tab.to_pandas()
            for tid, grp in pdf.groupby("termid"):
                cache[int(tid)] = grp.reset_index(drop=True)
                cache.move_to_end(int(tid))
            cap = max(self._cache_runs, len(termids))
            while len(cache) > cap:
                cache.popitem(last=False)
        parts = [cache[t] for t in termids if t in cache]
        return (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame({"termid": [], "df": [], "blob": []})
        )

    def docids(self, docnos: list[int]) -> dict[int, str]:
        import pyarrow.dataset as pads

        if not docnos:
            return {}
        tab = self._docmap.to_table(
            columns=["docno", "repo", "path", "commit"],
            filter=pads.field("docno").isin([int(d) for d in docnos]),
        ).to_pandas()
        return {
            int(r.docno): f"{r.repo}/{r.path}@{r.commit}"
            for r in tab.itertuples(index=False)
        }

    def _ranked(self, docnos, scores, with_docid: bool) -> list[dict]:
        """Ranked (docnos, scores) -> [{rank, docno, score[, docid]}]."""
        ids = self.docids([int(d) for d in docnos]) if with_docid else {}
        out = []
        for rank, (d, s) in enumerate(zip(docnos, scores), start=1):
            row = {"rank": rank, "docno": int(d), "score": np.float32(s)}
            if with_docid:
                row["docid"] = ids.get(int(d), "")
            out.append(row)
        return out

    def _term_data(self, terms, positions: bool):
        """In-dictionary `terms` -> (stats, candidate docnos, term_data,
        dl_vec) over every doc holding one of them — the same
        decode_shard_runs + assemble_term_data pass the Spark kernels run
        per shard, here over the whole docno range. None when no term
        has postings."""
        meta = {t: self._dict[t] for t in terms if t in self._dict}
        term_by_id = {int(m[0]): t for t, m in meta.items()}
        runs = self._runs_for(sorted(term_by_id), positions=positions)
        decoded = decode_shard_runs(runs, term_by_id, 1, self.props["n_docs"])
        if not decoded:
            return None
        cand = np.unique(np.concatenate([e[1] for e in decoded]))
        term_data, dl_vec = assemble_term_data(decoded, cand)
        stats = {t: (int(m[1]), int(m[2])) for t, m in meta.items()}
        return stats, cand, term_data, dl_vec

    def search_sd(
        self, query: str, k: int = 10, with_docid: bool = True, model=None
    ) -> list[dict]:
        """Warm SD/FD MRF serving over a positional index — the same
        clique construction and batched scoring kernel as mrf_topk
        (build_cliques + score_docs_batch), run in-process over the
        pyarrow-read candidate runs; scores are float32 bit-identical to
        the Spark MRF path and the numpy oracle."""
        p = self.props
        if not p.get("positional"):
            raise ValueError("search_sd requires a positional index")
        tokens = self._tokenize(query)
        cliques = build_cliques(tokens, model or MrfModel())
        found = self._term_data(set(tokens), positions=True)
        if found is None:
            return []
        stats, cand, term_data, dl_vec = found
        scores = score_docs_batch(
            cliques, term_data, dl_vec, stats,
            p["n_docs"], p["avgdl"], p["collection_length"],
        )
        return self._ranked(*local_topk(cand, scores, k), with_docid)

    def search_sqe(
        self, query, k: int = 10, with_docid: bool = True
    ) -> list[dict]:
        """Warm structured-query (sqe) serving: the same tree evaluator
        as sqe_topk (parse -> candidate mask -> float32 child-ordered
        folds, TfDf blending) over pyarrow-read runs — bit-identical to
        the Spark path. `query` is a JSON operator tree (text or dict);
        phrase leaves need a positional index."""
        p = self.props
        tree = parse_structured_query(query, tokenizer=self._tokenize)
        needs_positions = any(n.op == "phrase" for n in _walk(tree))
        if needs_positions and not p.get("positional"):
            raise ValueError("phrase leaves require a positional index")
        found = self._term_data(query_terms(tree), positions=bool(p.get("positional")))
        if found is None:
            return []
        stats, cand, term_data, dl_vec = found
        n_docs = p["n_docs"]
        d, s = tree_scores(
            tree, cand, term_data, dl_vec, stats, n_docs,
            float(p["collection_length"] // n_docs),
        )
        return self._ranked(*local_topk(d, s, k), with_docid)

    def search(self, query: str, k: int = 10, with_docid: bool = True) -> list[dict]:
        """-> [{rank, docno[, docid], score}] — Ivory tie-break, scores
        bit-identical to bm25_topk / bm25_topk_wand."""
        p = self.props
        counts = sorted(Counter(self._tokenize(query)).items())
        rows = []
        for term, qtf in counts:
            meta = self._dict.get(term)
            if meta is not None:
                rows.append((int(meta[0]), int(qtf), int(meta[1])))
        if not rows:
            return []
        termids = sorted({r[0] for r in rows})
        runs = self._runs_for(termids)
        qmeta = {tid: (qtf, df) for tid, qtf, df in rows}
        runs = runs[runs["termid"].isin(termids)].copy()
        runs["qtf"] = runs["termid"].map(lambda t: qmeta[int(t)][0])
        d, s = _score_group(
            runs,
            p["n_docs"],
            p["avgdl"],
            p["k1"],
            p["b"],
            p["idf_mode"],
            lo=1,
            hi=p["n_docs"],
            k=k,
        )
        return self._ranked(d, s, with_docid)
