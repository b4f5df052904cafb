"""Seeded inputs for the benchmark: the corpus and the query streams.

Everything here is a pure function of the workload seed (and, for the
queries, of the df bands of the dictionary the run built), so the same
seed always gives the same inputs. The program under test receives only
the generated corpus file and query strings.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# Corpus size and identifier-vocabulary size. The vocabulary is capped
# because ivory_spark.corpus builds it one word at a time (~0.26 ms per
# word); 5k words keep generation near 1 s while the 2 <= df <= 50 band
# still holds more terms than the serving LRU (4096 runs).
N_DOCS = 5_000
VOCAB_SIZE = 5_000

BATCH_SIZE = 15  # queries per Spark batch (the bench.py batch shape)
TOP_K = 10

# Workload -> query shape. `band` picks the df band the terms come from;
# `lengths` is the cycle of distinct-term counts per query. Each cycle
# puts p50 and p90 of a run's latencies inside one length class, not on
# the boundary between two (with lengths 1-4 equally often, p50 would
# fall between the slowest 2-term and the fastest 3-term queries and jump
# with the seed).
WORKLOADS = {
    "hot": {"band": "hot", "lengths": (1, 2, 3, 4, 3)},
    "tail": {"band": "tail", "lengths": (2, 3, 3)},
}

# Seed reserved for confirming a claimed gain after the change is written;
# never tune a change on it.
HELD_OUT_SEED = 7_777


# The hot band is the HOT_TERMS terms of highest df. At 5k docs their df
# is >= ~115, about 2% of the docs (the df >= 1000 band at 50k docs), so
# hot postings lists span many codec blocks. A fixed count, not a df edge,
# keeps the deal of df ranks (see QueryStream) the same for every seed.
HOT_TERMS = 128
TAIL_DF = (2, 50)
# The seed picks each query term among this many terms of adjacent df rank.
RANK_GROUP = 4


def write_corpus(out_dir: str, seed: int, n_docs: int = N_DOCS) -> str:
    """Generate the seeded corpus with ivory_spark.corpus and write it as
    parquet with small row groups (splittable, as corpus.write_corpus
    does). Returns the parquet path."""
    from ivory_spark.corpus import generate_corpus

    df = generate_corpus(n_docs, seed=seed % 2**32, vocab_size=VOCAB_SIZE)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "corpus.parquet")
    df.drop(columns=["sha256"]).to_parquet(path, index=False, row_group_size=2048)
    return path


@dataclass
class Bands:
    hot: np.ndarray  # terms by df descending, then by term
    tail: np.ndarray
    hot_min_df: int

    def describe(self) -> dict:
        return {
            "hot": {"min_df": self.hot_min_df, "terms": int(len(self.hot))},
            "tail": {"min_df": TAIL_DF[0], "max_df": TAIL_DF[1], "terms": int(len(self.tail))},
        }


def df_bands(dictionary_dir: str) -> Bands:
    """Split the built dictionary's terms into the hot and tail df bands,
    each ordered by df descending, then by term."""
    import pyarrow.dataset as pads

    tab = pads.dataset(dictionary_dir).to_table(columns=["term", "df"])
    pairs = sorted(zip(tab["df"].to_pylist(), tab["term"].to_pylist()), key=lambda p: (-p[0], p[1]))
    df = np.array([d for d, _ in pairs])
    terms = np.array([t for _, t in pairs], dtype=object)
    tail = terms[(df >= TAIL_DF[0]) & (df <= TAIL_DF[1])]
    return Bands(hot=terms[:HOT_TERMS], tail=tail, hot_min_df=int(df[: HOT_TERMS][-1]))


class QueryStream:
    """Endless seeded stream of queries for one workload.

    Query lengths follow the workload's cycle (1, 2, 3, 4, 3, 1, ... on
    `hot`). The terms are a fixed design in df-rank space: df ranks are
    dealt from permutations that do not depend on the seed, so within a
    run every rank is used about equally often, and which ranks a query
    combines is the same for every seed. The seed picks the term for each
    rank among the RANK_GROUP terms of adjacent rank (and the corpus the
    bands come from). So a query's cost profile, how long its postings
    lists are, does not change with the seed. With a seeded deal, ~150
    hot queries per run left p50 and p90 hinging on how often the few
    longest lists were drawn. `stream` separates independent streams of
    one seed (warm-up, Spark batches, serving)."""

    def __init__(self, workload: str, bands: Bands, seed: int, stream: int):
        spec = WORKLOADS[workload]
        band = getattr(bands, spec["band"])
        self._lengths = spec["lengths"]
        self.cycle = len(self._lengths)  # queries per whole length cycle
        if len(band) < max(self._lengths):
            raise ValueError(
                f"{spec['band']} band holds {len(band)} terms, "
                f"fewer than the {max(self._lengths)} a query needs"
            )
        jitter = np.random.default_rng([seed, stream])
        self._terms = np.concatenate([
            band[i:i + RANK_GROUP][jitter.permutation(len(band[i:i + RANK_GROUP]))]
            for i in range(0, len(band), RANK_GROUP)
        ])
        self._rng = np.random.default_rng([stream])  # the deal of ranks
        self._deck = np.empty(0, dtype=np.int64)
        self._pos = 0
        self._prefix = f"s{stream}q"
        self._n = 0
        self.used: set[str] = set()

    def _deal(self) -> int:
        if self._pos == len(self._deck):
            self._deck = self._rng.permutation(len(self._terms))
            self._pos = 0
        self._pos += 1
        return int(self._deck[self._pos - 1])

    def next(self) -> dict:
        n = self._lengths[self._n % len(self._lengths)]
        picks: list[int] = []
        while len(picks) < n:
            i = self._deal()
            if i not in picks:  # a repeat can only straddle two permutations
                picks.append(i)
        terms = [str(self._terms[i]) for i in picks]
        self.used.update(terms)
        q = {"qid": f"{self._prefix}{self._n:05d}", "query": " ".join(terms)}
        self._n += 1
        return q

    def take(self, n: int) -> list[dict]:
        return [self.next() for _ in range(n)]
