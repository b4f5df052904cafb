"""Output checks against the numpy oracle (ivory_spark.oracle).

A mismatch is a failed run, never a number: each check returns a list of
human-readable errors, and the run exits nonzero when any list is
non-empty.
"""

from __future__ import annotations

import json
import os

import numpy as np


def _bits(score) -> int:
    return int(np.float32(score).view(np.uint32))


def check_build(oi, index_root: str, sample_terms: list[str]) -> list[str]:
    """Collection statistics and sampled dictionary rows must equal the
    oracle's."""
    import pyarrow.dataset as pads

    errors = []
    with open(os.path.join(index_root, "properties.json")) as f:
        props = json.load(f)
    expect = {
        "n_docs": oi.n_docs,
        "n_terms": len(oi.dictionary),
        "collection_length": oi.collection_length,
    }
    for key, want in expect.items():
        if props.get(key) != want:
            errors.append(f"build: {key}={props.get(key)} oracle={want}")
    tab = pads.dataset(os.path.join(index_root, "dictionary")).to_table(
        columns=["term", "termid", "df", "cf"],
        filter=pads.field("term").isin(sample_terms),
    )
    got = {
        t: (int(i), int(d), int(c))
        for t, i, d, c in zip(*(tab[k].to_pylist() for k in ("term", "termid", "df", "cf")))
    }
    for t in sample_terms:
        want = oi.dictionary.get(t)
        if got.get(t) != (tuple(want) if want else None):
            errors.append(f"build: dictionary[{t!r}]={got.get(t)} oracle={want}")
    return errors


def check_topk(oi, queries: list[dict], results: dict[str, list[dict]], k: int, where: str) -> list[str]:
    """Every checked query's ranked (docno, docid, float32 score) must be
    bit-identical to oracle_topk, including the Ivory tie-break (score
    desc, docno desc). `results` maps qid -> [{docno, docid, score}] in
    rank order."""
    from ivory_spark.oracle import oracle_topk

    expected = oracle_topk(oi, queries, k=k)
    errors = []
    for q in queries:
        want = [(r["docno"], r["docid"], _bits(r["score"])) for r in expected[q["qid"]]]
        got = [(int(r["docno"]), r["docid"], _bits(r["score"])) for r in results.get(q["qid"], [])]
        if got != want:
            errors.append(f"{where}: {q['qid']} {q['query']!r}: got {got[:3]}... oracle {want[:3]}...")
    return errors
