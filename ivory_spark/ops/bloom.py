"""Bloom-filter candidate pre-filtering — the BloomIR subsystem analogue.

Reference behavior reproduced (not copied): per-term Bloom-filter
signatures over docnos (ivory/bloomir/data/BloomFilterHash.java:1-138,
SignatureIO.java) used for false-positive-tolerant conjunctive AND:
scan the shortest posting list and test each docno against the other
terms' filters (ivory/bloomir/ranker/BloomRanker.java:48-130). The
CIKM-2012 result this encodes: membership tests beat list intersection
when one list is much shorter, at the cost of a bounded false-positive
rate (verified relative-recall style in tests, like
VerifyBloomIntersectionRelativeRecallR8K1.java).

Signatures are built per postings run with numpy bit ops and OR-merged
per term (salted runs are docno-disjoint so OR is exact), stored as a
binary column next to the postings — columnar, prunable, shippable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ivory_spark.index import codec
from ivory_spark.index.reader import Index

# splitmix64-style avalanche; k seeded variants give k hash functions
_MULT = np.uint64(0x9E3779B97F4A7C15)


def _hash(docnos: np.ndarray, seed: int, bits: int) -> np.ndarray:
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        x = docnos.astype(np.uint64) + np.uint64(seed) * _MULT
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return (x % np.uint64(bits)).astype(np.int64)


def bloom_from_docnos(docnos: np.ndarray, bits: int, k_hashes: int) -> bytes:
    bitmap = np.zeros(bits // 8, dtype=np.uint8)
    for j in range(k_hashes):
        idx = _hash(docnos, j + 1, bits)
        np.bitwise_or.at(bitmap, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
    return bitmap.tobytes()


def bloom_test(bitmap: bytes, docnos: np.ndarray, k_hashes: int) -> np.ndarray:
    """Vectorized membership test -> bool array."""
    bm = np.frombuffer(bitmap, dtype=np.uint8)
    bits = len(bm) * 8
    ok = np.ones(len(docnos), dtype=bool)
    for j in range(k_hashes):
        idx = _hash(docnos, j + 1, bits)
        ok &= (bm[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
    return ok


def build_bloom_signatures(
    spark: SparkSession, index: Index, bits: int = 8192, k_hashes: int = 3
) -> DataFrame:
    """(termid, df, bloom binary): one filter per term, OR of per-run
    filters (runs are docno-disjoint, so the OR equals a single-pass
    build)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for termid, df_, blob in zip(pdf["termid"], pdf["df"], pdf["blob"]):
                docnos, _, _ = codec.decode_run(bytes(blob))
                rows.append((int(termid), int(df_), bloom_from_docnos(docnos, bits, k_hashes)))
            yield pd.DataFrame(rows, columns=["termid", "df", "bloom"])

    per_run = index.postings.select("termid", "df", "blob").mapInPandas(
        gen, schema="termid long, df int, bloom binary"
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(bits // 8, dtype=np.uint8)
        for b in pdf["bloom"]:
            acc |= np.frombuffer(bytes(b), dtype=np.uint8)
        return pd.DataFrame(
            {"termid": [int(pdf["termid"].iloc[0])], "df": [int(pdf["df"].iloc[0])],
             "bloom": [acc.tobytes()]}
        )

    from ivory_spark.functions.gmap import grouped_apply

    # one Python dispatch per partition: merging one bloom per termid
    # group would otherwise pay the tiny-group Arrow tax per TERM
    return grouped_apply(
        per_run, ["termid"], lambda key, pdf: merge(pdf),
        schema="termid long, df int, bloom binary",
    )


def conjunctive_candidates_bloom(
    spark: SparkSession,
    index: Index,
    blooms: DataFrame,
    terms: list[str],
    k_hashes: int = 3,
) -> DataFrame:
    """False-positive-tolerant AND: decode only the rarest term's
    postings; test each docno against the other terms' Bloom filters.
    Returns (docno) — a superset of the exact intersection."""
    meta = index.lookup_terms(terms)
    if len(meta) < len(set(terms)):
        return spark.createDataFrame([], "docno long")  # OOV term → empty AND
    # rarest first; termid breaks df ties deterministically
    by_df = sorted((df, int(tid)) for tid, df, _ in meta.values())
    driver_tid = by_df[0][1]
    other_tids = [tid for _, tid in by_df[1:]]
    other_blooms = {
        r["termid"]: bytes(r["bloom"])
        for r in blooms.filter(F.col("termid").isin(other_tids)).collect()
    }
    if len(other_blooms) < len(other_tids):
        raise ValueError("missing bloom signatures for query terms")
    filters = [other_blooms[t] for t in other_tids]

    def gen(batches):
        for pdf in batches:
            outs = []
            for blob in pdf["blob"]:
                docnos, _, _ = codec.decode_run(bytes(blob))
                keep = np.ones(len(docnos), dtype=bool)
                for bm in filters:
                    keep &= bloom_test(bm, docnos, k_hashes)
                outs.append(pd.DataFrame({"docno": docnos[keep].astype(np.int64)}))
            yield pd.concat(outs) if outs else pd.DataFrame({"docno": pd.Series(dtype="int64")})

    runs = index.postings.filter(F.col("termid") == driver_tid).select("blob")
    return runs.mapInPandas(gen, schema="docno long")
