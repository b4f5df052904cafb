"""Index reader — loads the artifacts build_index wrote.

The analogue of Ivory's RetrievalEnvironment.initialize
(ivory/core/RetrievalEnvironment.java:109-180), which loads global stats,
the dictionary, the postings forward index and the doclengths table. Here
every artifact is a lazy DataFrame; termid "random access" is Parquet
predicate pushdown instead of byte-offset seeks
(IntPostingsForwardIndex.java:68-110 — unnecessary on columnar storage).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Index:
    root: str
    properties: dict
    docmap: DataFrame  # docno, repo, path, commit, lang, content, sha256
    doclens: DataFrame  # docno, doclen
    dictionary: DataFrame  # term, termid, df, cf
    postings: DataFrame  # termid, salt, df, cf, n, first/last_docno, max_impact, blob
    # term -> (termid, df, cf), or None for an out-of-vocabulary term
    _term_memo: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    @property
    def n_docs(self) -> int:
        return self.properties["n_docs"]

    @property
    def avgdl(self) -> float:
        return self.properties["avgdl"]

    @property
    def collection_length(self) -> int:
        return self.properties["collection_length"]

    def lookup_terms(self, terms) -> dict[str, tuple[int, int, int]]:
        """{term: (termid, df, cf)} for the in-dictionary `terms`.

        The one dictionary lookup every query path goes through: terms not
        yet seen by this Index cost one filtered dictionary-scan job, and
        every answer (hits AND misses) is memoized, so repeat queries start
        no job — the in-process form of Ivory's resident dictionary
        (RetrievalEnvironment.java:66-67). The memo is query-term-sized,
        never vocabulary-sized, and dies with the Index object, so a
        reopened (e.g. compacted) index starts clean."""
        from pyspark.sql import functions as F

        terms = set(terms)
        memo = self._term_memo
        missing = sorted(t for t in terms if t not in memo)
        if missing:
            found = {
                r["term"]: (r["termid"], r["df"], r["cf"])
                for r in self.dictionary.filter(F.col("term").isin(missing))
                .select("term", "termid", "df", "cf")
                .collect()
            }
            for t in missing:
                memo[t] = found.get(t)
        return {t: memo[t] for t in terms if memo[t] is not None}

    def docid_expr(self) -> DataFrame:
        """docno -> display docid 'repo/path@commit'."""
        from pyspark.sql import functions as F

        return self.docmap.select(
            "docno",
            F.concat_ws(
                "", F.col("repo"), F.lit("/"), F.col("path"), F.lit("@"), F.col("commit")
            ).alias("docid"),
        )


def open_index(spark: SparkSession, index_root: str) -> Index:
    with open(os.path.join(index_root, "properties.json")) as f:
        props = json.load(f)
    from ivory_spark.index import codec

    stored = props.get("format_version")
    if stored != codec.FORMAT_VERSION:
        # the postings codec is versioned; decoding a different blob
        # layout would produce garbage, not an error — refuse up front
        raise ValueError(
            f"index at {index_root} has postings format_version={stored}, "
            f"this build reads {codec.FORMAT_VERSION}; rebuild the index "
            "(build stages re-run automatically: the codec version is in "
            "the stage fingerprint)"
        )
    return Index(
        root=index_root,
        properties=props,
        docmap=spark.read.parquet(os.path.join(index_root, "docmap")),
        doclens=spark.read.parquet(os.path.join(index_root, "doclens")),
        dictionary=spark.read.parquet(os.path.join(index_root, "dictionary")),
        postings=spark.read.parquet(os.path.join(index_root, "postings")),
    )
