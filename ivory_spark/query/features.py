"""Per-(query, judged-doc) feature extraction — the analogue of Ivory's
ltr/ExtractFeatures.java + the ltr/operator aggregators.

Reference semantics reproduced:
- one feature column per (model, feature-spec) pair, named
  ``{model}-{param id}`` (ExtractFeatures.java:190 ``featId = modelName +
  "-" + paramId``), value = the aggregate of that spec's UNWEIGHTED
  clique potentials at the doc (``c.getPotential()`` excludes the
  parameter weight, smrf/model/Clique.java:85);
- rows = the JUDGED documents of each query (ExtractFeatures.java:
  201-230 iterates the judgment set, not a retrieval run), with the
  relevance grade carried in a ``grade`` column;
- query terms without a postings list are dropped from the query BEFORE
  clique construction (ExtractFeatures.java:83-97 rebuilds finalQuery
  from terms with postings; a fully-OOV query is skipped), and queries
  with no judgments are skipped with a warning;
- aggregation operators sum / mean / max / min / variance /
  boolean_count / boolean_ratio (ltr/operator/*.java), default Sum.

Spark-first shape: the fan-out half of the sharded executor
(query/sharded.shard_runs — not its top-k merge, since every judged doc
is a row): postings runs of the query terms are joined to (qid, shard)
groups, decoded once, and every judged doc in the shard gets its clique
potentials from the batched CSR window kernels. Judged docs containing
NO query term never meet a postings row, so their rows (background
potentials: 0 for tf-proportional scorers, the doclen-dependent
Dirichlet background otherwise) are filled in driver-side from the
doclens table — bounded by the judgment count, not the corpus.

The default Sum aggregate is an ordered float32 fold in clique order —
the same canonical accumulation as every scorer path (see
functions/scoring.py group_sum_f32) — so feature values are
bit-reproducible and DuckDB-oracle-pairable. The other operators
aggregate in float64 and cast, like the reference's double Operator
accumulators (ltr/operator/Sum.java getFinalScore).
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ivory_spark.functions.gmap import grouped_apply
from ivory_spark.functions.tokenizer import get_tokenizer
from ivory_spark.index.reader import Index
from ivory_spark.query.batch import Model
from ivory_spark.query.mrf import (
    MrfModel,
    FeatureSpec,
    TermData,
    _clique_score_vec,
    _clique_window_counts,
    assemble_term_data,
    build_cliques,
    decode_shard_runs,
    max_position,
    term_stats,
)
from ivory_spark.query.sharded import make_shard_bounds, shard_runs

F32 = np.float32

OPERATORS = (
    "sum", "mean", "max", "min", "variance", "boolean_count", "boolean_ratio",
)


def _aggregate(op: str, per_clique: list[np.ndarray], m: int) -> np.ndarray:
    """Aggregate one spec's clique potential arrays -> (m,) float32.

    sum: ordered float32 fold (canonical accumulation); the rest match
    the reference's double accumulators (ltr/operator/*.java) then cast."""
    if not per_clique:
        return np.zeros(m, dtype=np.float32)
    if op == "sum":
        acc = np.zeros(m, dtype=np.float32)
        for sc in per_clique:
            acc = (acc + sc).astype(np.float32)
        return acc
    stack = np.stack([sc.astype(np.float64) for sc in per_clique])
    if op == "mean":
        out = stack.mean(axis=0)
    elif op == "max":
        out = stack.max(axis=0)
    elif op == "min":
        out = stack.min(axis=0)
    elif op == "variance":
        # Variance.java: E[(x - mean)^2] with n (not n-1)
        out = stack.var(axis=0)
    elif op == "boolean_count":
        out = (stack > 0).sum(axis=0).astype(np.float64)
    elif op == "boolean_ratio":
        out = (stack > 0).mean(axis=0)
    else:
        raise ValueError(f"unknown operator {op!r}; have {OPERATORS}")
    return out.astype(np.float32)


def clique_potentials_batch(
    cliques: list[dict],
    term_data: dict[str, TermData],
    dl: np.ndarray,
    stats: dict[str, tuple[int, int]],
    n_docs: int,
    avgdl: float,
    collection_len: int,
    n_specs: int,
    operators: list[str],
) -> np.ndarray:
    """(m, n_specs) float32 matrix of per-spec aggregated UNWEIGHTED
    clique potentials — the feature-extraction twin of score_docs_batch
    (same CSR window kernels, same zero rules, no clique weight)."""
    m = len(dl)
    default_df = n_docs // 100
    default_cf = default_df * 2
    max_pos = max_position(term_data)
    per_spec: list[list[np.ndarray]] = [[] for _ in range(n_specs)]
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
        per_spec[c["fid"]].append(sc)
        # importance-weighted columns: metafeature value x potential
        # (ExtractFeatures.java:186-196), float32 per clique
        for ci, val in c.get("mf", ()):
            per_spec[ci].append((F32(val) * sc).astype(np.float32))
    return np.column_stack(
        [_aggregate(operators[i], per_spec[i], m) for i in range(n_specs)]
    )


def _as_mrf(model) -> MrfModel:
    """Bag-of-words Model -> single-term-spec MrfModel so both model
    kinds extract through one kernel."""
    if isinstance(model, MrfModel):
        return model
    if isinstance(model, Model):
        return MrfModel(
            dependence="sd",
            features=[
                FeatureSpec(
                    "term", 1.0, scorer=model.scorer, params=model.params,
                    name="term",
                )
            ],
        )
    raise TypeError(type(model))


def _columns_meta(models: dict[str, MrfModel | Model]):
    """-> (col_names, mf_map, base_of): base columns '{model}-{id or
    kind+idx}' in (model, spec) order; then, for any retrieval model
    with REGISTERED importance models, one '{model}-{metafeature}-{id}'
    column per (spec, importance model, metafeature) — the reference
    emits metafeature columns for EVERY clique parameter whenever
    importance models exist, not only importance-weighted specs
    (ExtractFeatures.java:150-175,276-295 iterates all
    LinearImportanceModels for every clique). mf_map: (model name,
    local spec idx) -> [(global col idx, MetaFeature)]. base_of maps a
    metafeature column to its base column (the reference resolves the
    column's aggregation Operator by modelName-paramId, so metafeature
    columns inherit the base column's operator,
    ExtractFeatures.java:289)."""
    names: list[str] = []
    for mname, model in models.items():
        mrf = _as_mrf(model)
        for i, spec in enumerate(mrf.features):
            names.append(f"{mname}-{spec.name or f'{spec.kind}{i}'}")
    mf_map: dict[tuple[str, int], list] = {}
    base_of: dict[str, str] = {}
    idx = len(names)
    for mname, model in models.items():
        mrf = _as_mrf(model)
        for spec in mrf.features:
            if spec.importance and spec.importance not in mrf.importance_models:
                raise ValueError(
                    f"model {mname!r}: importance model {spec.importance!r} not found"
                )
        if not mrf.importance_models:
            continue
        for i, spec in enumerate(mrf.features):
            base = spec.name or f"{spec.kind}{i}"
            entries = []
            for imodel in mrf.importance_models.values():
                for mf in imodel.metafeatures:
                    col = f"{mname}-{mf.name}-{base}"
                    names.append(col)
                    base_of[col] = f"{mname}-{base}"
                    entries.append((idx, mf))
                    idx += 1
            mf_map[(mname, i)] = entries
    if len(set(names)) != len(names):
        # the reference's TreeSet would silently collapse same-named
        # metafeatures across importance models; we refuse instead
        raise ValueError(f"duplicate feature column names: {names}")
    return names, mf_map, base_of


def feature_columns(models: dict[str, MrfModel | Model]) -> list[str]:
    """Column names — see _columns_meta."""
    return _columns_meta(models)[0]


def _resolve_ops(col_names, base_of, op_by_name) -> list[str]:
    """Metafeature columns inherit their base column's operator unless
    explicitly overridden (the reference resolves by modelName-paramId:
    ExtractFeatures.java:289)."""
    ops = []
    for nm in col_names:
        op = op_by_name.get(nm)
        if op is None:
            op = op_by_name.get(base_of.get(nm, nm), "sum")
        ops.append(op)
    for op in ops:
        if op not in OPERATORS:
            raise ValueError(f"unknown operator {op!r}; have {OPERATORS}")
    return ops


def _combined_cliques(mrfs: dict, kept: list[str], mf_map: dict) -> list[dict]:
    """One clique list across all models with global fids, plus per-
    clique metafeature (column, value) pairs for importance specs."""
    cliques: list[dict] = []
    offset = 0
    for mname, mrf in mrfs.items():
        for c in build_cliques(kept, mrf):
            c = dict(c)
            local = c["fid"]
            c["fid"] = local + offset
            entries = mf_map.get((mname, local))
            if entries:
                concept = " ".join(c["terms"])
                c["mf"] = [(ci, mf.value(concept)) for ci, mf in entries]
            cliques.append(c)
        offset += len(mrf.features)
    return cliques


def extract_features(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    qrels: dict[str, dict[int, float]],
    models: dict[str, MrfModel | Model],
    operators: dict[str, str] | None = None,
) -> DataFrame:
    """Judged-doc feature table: (qid, docno, grade, <one float column per
    (model, feature-spec)>), reference file:line cites in module header.

    qrels: qid -> {docno -> grade}. operators: feature column name ->
    aggregation operator (default 'sum')."""
    props = index.properties
    positional = bool(props.get("positional"))
    n_docs, avgdl, clen = props["n_docs"], props["avgdl"], props["collection_length"]
    tokenize = get_tokenizer(props.get("tokenizer", "code_v1")).tokenize_py

    mrfs = {name: _as_mrf(m) for name, m in models.items()}
    for name, mrf in mrfs.items():
        bad = sorted({s.scorer for s in mrf.features} - {"bm25", "dirichlet"})
        if bad:
            raise ValueError(f"model {name!r}: unsupported scorer(s) {bad}")
        if not positional and any(s.kind != "term" for s in mrf.features):
            raise ValueError(
                f"model {name!r} has proximity features but the index at "
                f"{index.root} is not positional"
            )
    col_names, mf_map, base_of = _columns_meta(models)
    n_specs = len(col_names)
    op_by_name = operators or {}
    unknown = set(op_by_name) - set(col_names)
    if unknown:
        raise ValueError(f"operators for unknown feature columns: {sorted(unknown)}")
    ops = _resolve_ops(col_names, base_of, op_by_name)

    stats, term_by_id = term_stats(
        index, {t for q in queries for t in tokenize(q["query"])}
    )

    # per-query cliques over the postings-backed token subsequence
    # (ExtractFeatures.java:83-97), spec fids remapped to global columns
    q_cliques: dict[str, list[dict]] = {}
    q_terms: dict[str, list[str]] = {}
    for q in queries:
        qid = q["qid"]
        if qid not in qrels or not qrels[qid]:
            # ExtractFeatures.java:214 warns and skips
            print(f"warning: no judgments for qid = {qid!r} -- skipping",
                  file=sys.stderr)
            continue
        kept = [t for t in tokenize(q["query"]) if t in stats]
        if not kept:
            print(f"warning: query {qid!r} fully out of vocabulary -- skipping",
                  file=sys.stderr)
            continue
        q_cliques[qid] = _combined_cliques(mrfs, kept, mf_map)
        q_terms[qid] = sorted(set(kept))

    feat_schema = "qid string, docno long, feats array<float>"
    out_schema = "qid string, docno long, grade float, feats array<float>"
    judged = {
        qid: np.array(sorted(qrels[qid]), dtype=np.int64) for qid in q_cliques
    }
    if not judged:
        empty = spark.createDataFrame([], out_schema)
        return _explode_feats(empty, col_names)

    # authoritative doclens for every judged doc (postings rows only know
    # lengths of docs that contain the term; a judged doc can contain none)
    all_judged = sorted({int(d) for arr in judged.values() for d in arr})
    dl_rows = index.doclens.filter(F.col("docno").isin(all_judged)).collect()
    dl_by_docno = {r["docno"]: r["doclen"] for r in dl_rows}

    shard_bounds = make_shard_bounds(props["n_shards"], n_docs)

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        qid, shard = key
        lo, hi = shard_bounds(int(shard))
        ja = judged[qid]
        cand = ja[(ja >= lo) & (ja <= hi)]
        if len(cand) == 0:
            return None  # grouped_apply emits nothing for this group
        decoded = decode_shard_runs(pdf, term_by_id, lo, hi)
        term_data, _ = assemble_term_data(decoded, cand) if decoded else ({}, None)
        dl_vec = np.array([dl_by_docno.get(int(d), 0) for d in cand], dtype=np.int64)
        feats = clique_potentials_batch(
            q_cliques[qid], term_data, dl_vec, stats, n_docs, avgdl, clen,
            n_specs, ops,
        )
        return pd.DataFrame(
            {"qid": qid, "docno": cand, "feats": [r for r in feats]}
        )

    cols = ["termid", "n", "first_docno", "last_docno", "blob"]
    if positional:
        cols.append("pos_blob")
    runs = shard_runs(
        index,
        [(qid, tid) for qid, ts in q_terms.items() for tid, t in term_by_id.items() if t in ts],
        cols,
    )
    if runs is not None:
        # per-partition dispatch, not per-(qid, shard) group (gmap.py)
        scored = grouped_apply(
            runs, ["qid", "shard"], kernel, schema=feat_schema
        ).persist()  # coverage probe below + the final join reuse one run
        # one-deep cache registry (the scored_topk pattern): release the
        # PREVIOUS call's cache — this lazy API can't see the caller's
        # final action, so per-call unpersist would force a recompute
        prev = getattr(extract_features, "_cached_scored", None)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass  # stopped session from an earlier SparkSession
        extract_features._cached_scored = scored
    else:
        scored = spark.createDataFrame([], feat_schema)

    grade_rows = [
        (qid, int(d), float(g))
        for qid, js in qrels.items()
        if qid in q_cliques
        for d, g in js.items()
    ]
    grades = spark.createDataFrame(grade_rows, "qid string, docno long, grade float")

    # judged docs whose shard met no postings row: only the MISSING
    # (qid, docno) pairs come to the driver (left-anti against the
    # kernel output — normally a tiny minority of the judgment set),
    # and their background potentials are computed locally
    missing_rows = grades.join(
        scored.select("qid", "docno"), ["qid", "docno"], "left_anti"
    ).collect()
    by_qid: dict[str, list[int]] = {}
    for r in missing_rows:
        by_qid.setdefault(r["qid"], []).append(int(r["docno"]))
    bg_rows = []
    for qid, docnos in by_qid.items():
        missing = np.array(sorted(docnos), dtype=np.int64)
        dl_vec = np.array([dl_by_docno.get(int(d), 0) for d in missing], dtype=np.int64)
        feats = clique_potentials_batch(
            q_cliques[qid], {}, dl_vec, stats, n_docs, avgdl, clen, n_specs, ops
        )
        for i, d in enumerate(missing):
            bg_rows.append((qid, int(d), [float(x) for x in feats[i]]))
    if bg_rows:
        scored = scored.unionByName(spark.createDataFrame(bg_rows, feat_schema))

    out = scored.join(F.broadcast(grades), ["qid", "docno"])
    return _explode_feats(out, col_names)


def _explode_feats(df: DataFrame, col_names: list[str]) -> DataFrame:
    cols = [F.col("qid"), F.col("docno"), F.col("grade")] + [
        F.col("feats")[i].alias(nm) for i, nm in enumerate(col_names)
    ]
    return df.select(*cols).orderBy("qid", "docno")


def extract_features_for_run(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    results: DataFrame,
    models: dict[str, MrfModel | Model],
    operators: dict[str, str] | None = None,
) -> DataFrame:
    """Feature vectors for RETRIEVED docs (grade column = 0): the
    rank-and-features shape of ffg/driver/RankAndFeaturesSmallAdaptive
    .java — run retrieval, then hand its (qid, docno) frame here to
    get reranking features for every hit. results: any DataFrame with
    qid + docno columns (e.g. bm25_topk_wand / cascade_topk output)."""
    pseudo: dict[str, dict[int, float]] = {}
    for r in results.select("qid", "docno").collect():
        pseudo.setdefault(r["qid"], {})[int(r["docno"])] = 0.0
    return extract_features(spark, index, queries, pseudo, models, operators)


def oracle_extract_features(
    oracle_index,
    queries: list[dict],
    qrels: dict[str, dict[int, float]],
    models: dict[str, MrfModel | Model],
    operators: dict[str, str] | None = None,
) -> list[dict]:
    """Single-node golden twin over the numpy OracleIndex: per judged doc,
    per clique, the scalar potential via the same _clique_score /
    count_*_matches kernels, aggregated with the same operators. Rows
    sorted (qid, docno) like the Spark frame."""
    from ivory_spark.query.mrf import (
        _clique_score,
        count_ordered_matches,
        count_unordered_matches,
    )

    oi = oracle_index
    tokenize = get_tokenizer(getattr(oi, "tokenizer", "code_v1")).tokenize_py
    stats = {t: (df, cf) for t, (tid, df, cf) in oi.dictionary.items()}
    mrfs = {name: _as_mrf(m) for name, m in models.items()}
    col_names, mf_map, base_of = _columns_meta(models)
    op_by_name = operators or {}
    ops = _resolve_ops(col_names, base_of, op_by_name)
    default_df = oi.n_docs // 100
    default_cf = default_df * 2
    out = []
    for q in sorted(queries, key=lambda q: q["qid"]):
        qid = q["qid"]
        if qid not in qrels or not qrels[qid]:
            continue
        kept = [t for t in tokenize(q["query"]) if t in stats]
        if not kept:
            continue
        cliques = _combined_cliques(mrfs, kept, mf_map)
        for docno in sorted(qrels[qid]):
            dl = oi.doclens.get(docno, 0)
            per_spec: list[list[np.ndarray]] = [[] for _ in col_names]
            for c in cliques:
                if c["kind"] == "term":
                    term = c["terms"][0]
                    tf = dict(oi.postings.get(term, ())).get(docno, 0)
                    df, cf = stats[term]
                else:
                    present = [t for t in c["terms"] if t in stats]
                    if len(present) < 2:
                        continue
                    plists = [
                        np.asarray(oi.positions.get(t, {}).get(docno, []), dtype=np.int64)
                        for t in present
                    ]
                    if c["kind"] == "od":
                        tf = count_ordered_matches(plists, c["window"])
                    else:
                        tf = count_unordered_matches(plists, c["window"])
                    df, cf = default_df, default_cf
                sc = _clique_score(
                    c["scorer"], c["params"], tf, dl, df, cf,
                    oi.n_docs, oi.avgdl, oi.collection_length,
                )
                per_spec[c["fid"]].append(np.array([sc], dtype=np.float32))
                for ci, val in c.get("mf", ()):
                    per_spec[ci].append(
                        np.array([F32(F32(val) * sc)], dtype=np.float32)
                    )
            row = {"qid": qid, "docno": docno, "grade": float(qrels[qid][docno])}
            for i, nm in enumerate(col_names):
                row[nm] = float(_aggregate(ops[i], per_spec[i], 1)[0])
            out.append(row)
    return out


def features_to_instances(df: DataFrame, with_docid: bool = False):
    """Collect an extract_features frame into an ltr.Instances (rows
    ordered qid, docno — contiguous query blocks, TreeMap-sorted docs
    like ExtractFeatures' output)."""
    from ivory_spark.ltr import Instances

    feat_names = [c for c in df.columns if c not in ("qid", "docno", "docid", "grade")]
    rows = df.orderBy("qid", "docno").collect()
    return Instances(
        [r["qid"] for r in rows],
        [str(r["docid"] if with_docid else r["docno"]) for r in rows],
        [r["grade"] for r in rows],
        np.array(
            [[r[nm] for nm in feat_names] for r in rows], dtype=np.float32
        ).reshape(len(rows), len(feat_names)),
        feat_names,
    )


def release_caches() -> None:
    """Explicitly release the one-deep persisted feature-kernel registry
    (see the _cached_scored note above): call when done extracting to
    free executor memory without waiting for the next call."""
    prev = getattr(extract_features, "_cached_scored", None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session already stopped
        extract_features._cached_scored = None
