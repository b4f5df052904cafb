"""ivory_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 10 --trace 0

Any working directory works; paths are resolved from this file. A run is
the life of one Ivory deployment on a fresh seeded corpus:

1. set-up: SparkSession on local[nproc] (with the session warm-start),
   a cold build_index into a fresh per-run directory, open_index;
2. Spark batches: back-to-back bm25_topk_wand top-10 batches of 15 fresh
   queries, each on a freshly opened index handle (a new topic set);
3. the SparkSession and its JVM are stopped;
4. warm serving: LocalSearcher.search in a closed loop with one caller;
5. the numpy oracle is built on the same corpus and every checked output
   must match it bit for bit.

Steps 2 and 4 each run PASSES times over the same inputs and keep each
operation's fastest run (see run_batches and run_serving).

--trace 0 prints the end-to-end metrics (timed with tracing off).
--trace 1 repeats the run with Spark's event log on, job groups set
around each call and span wrappers around the serve layers, and prints
the per-layer metrics. The last stdout line is the result JSON; the line
before it, prefixed `perfbench-record`, holds the pinned configuration
and diagnostics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workload as W  # noqa: E402

BATCH_SHARE = 0.3  # share of --seconds spent in Spark batches; the rest serves
# runs of each batch and of each served query, in passes over the same
# inputs; the fastest run counts (see run_batches and run_serving)
PASSES = 2
# floors on the first pass, which may stretch a run on a slow host: a
# median needs two batches, and p90 needs ten queries beyond it
MIN_BATCHES = 2
MIN_QUERIES = 100
STAGES = ["docmap", "tdf", "doclens", "dictionary", "properties", "postings"]
# build stages whose Spark tasks are rolled up; doclens and dictionary run
# concurrently, so their tasks are only separable together, as `stats`
TASK_STAGES = {
    "docmap": ["docmap"],
    "tdf": ["tdf"],
    "stats": ["doclens", "dictionary"],
    "postings": ["postings"],
}
# name -> (unit, better); BENCHMARK.json lists the same (tests/test_perfbench.py checks)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "build_cold_s": ("s", "lower"),
    "build_cpu_s": ("s", "lower"),
    "index_bytes_per_corpus_byte": ("ratio", "lower"),
    "batch_p50_s": ("s", "lower"),
    "batch_qps": ("1/s", "higher"),
    "serve_p50_ms": ("ms", "lower"),
    "serve_p90_ms": ("ms", "lower"),
    "serve_qps": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {"session.create_s": ("s", "lower")}
PER_LAYER.update({f"build.{st}.wall_s": ("s", "lower") for st in STAGES})
for _st in TASK_STAGES:
    PER_LAYER.update({
        f"build.{_st}.cpu_s": ("s", "lower"),
        f"build.{_st}.shuffle_write_bytes": ("bytes", "lower"),
        f"build.{_st}.spill_bytes": ("bytes", "lower"),
        f"build.{_st}.task_skew": ("ratio", "lower"),
    })
PER_LAYER.update({
    "build.jobs": ("count", "lower"),
    "build.postings.runs": ("count", "lower"),
    "build.postings.bytes": ("bytes", "lower"),
    "exact.term_lookup_s": ("s", "lower"),
    "exact.lookup_jobs": ("count", "lower"),
    "wand.exec_s": ("s", "lower"),
    "wand.jobs": ("count", "lower"),
    "wand.tasks": ("count", "lower"),
    "wand.shuffle_bytes": ("bytes", "lower"),
    "wand.executor_cpu_s": ("s", "lower"),
    "wand.task_skew": ("ratio", "lower"),
    "wand.kernel.p50_ms": ("ms", "lower"),
    "wand.kernel.p90_ms": ("ms", "lower"),
    "wand.kernel.mean_ms": ("ms", "lower"),
    "wand.kernel.self_mean_ms": ("ms", "lower"),
    "wand.segments_scored_frac": ("ratio", "lower"),
    "codec.decode_block.calls_per_query": ("count", "lower"),
    "codec.decode_block.ms_per_query": ("ms", "lower"),
    "serve.search.p50_ms": ("ms", "lower"),
    "serve.search.mean_ms": ("ms", "lower"),
    "serve.fetch.p50_ms": ("ms", "lower"),
    "serve.fetch.p90_ms": ("ms", "lower"),
    "serve.fetch.mean_ms": ("ms", "lower"),
    "serve.lru_hit_ratio": ("ratio", "higher"),
    "serve.fetch_bytes_per_query": ("bytes", "lower"),
    "serve.docid.p50_ms": ("ms", "lower"),
    "serve.docid.mean_ms": ("ms", "lower"),
    "serve.self.p50_ms": ("ms", "lower"),
    "serve.self.mean_ms": ("ms", "lower"),
    "trace_overhead_frac": ("ratio", "lower"),
})
SERVE_CHECKS = 60  # serve queries checked against the oracle per run
SERVE_CHECK_STRIDE = 4
DICT_CHECKS = 200  # dictionary rows checked against the oracle per run


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(work: str) -> dict[str, str]:
    """Make the run independent of the caller's directory and environment:
    ivory_spark importable by Spark's Python workers, temp and Spark local
    dirs inside the run directory, the partition-size knobs at their
    defaults. The driver heap cap is pinned to 4g: the program's 16g
    default is more than the 15 GiB the benchmark VM has, shared with other
    tenants, and with it the peak RSS read ~30% higher and spread wider
    from run to run."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["IVORY_WARM_START"] = "1"
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    for k in ("IVORY_MAX_PARTITION_BYTES", "IVORY_ADVISORY_PARTITION_BYTES", "SPARK_GRAFT_CPUS"):
        os.environ.pop(k, None)
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and every process under
    it, and wait for them."""
    from pyspark import SparkContext

    pids = [p for p in procstat.tree_pids() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    procstat.wait_gone(pids)


def du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def set_group(sc, group: str | None, desc: str | None = None) -> None:
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.setLocalProperty("spark.job.description", desc)


# ---------------------------------------------------------------- phases


def run_batches(spark, index_root, stream, budget_s, traced):
    """Spark batches in PASSES passes. The first pass runs batches of fresh
    queries back to back until 1/PASSES of `budget_s` is spent (and at
    least MIN_BATCHES ran); the others rerun the same batches in the same
    order. Every run gets a freshly opened index handle (empty term memo),
    so all runs of a batch do the same work, and a batch's latency is its
    fastest run: a busy shared host only ever adds time.

    Returns (latencies s, results by qid, queries, failed queries, runs,
    lookup span durations s, errors)."""
    from ivory_spark.index.reader import open_index
    from ivory_spark.query import wand

    sc = spark.sparkContext
    orig_lookup = wand.query_term_rows
    lookups: list[float] = []
    runs = 0

    def run_one(qs):
        nonlocal runs
        k, runs = runs, runs + 1
        index = open_index(spark, index_root)
        if traced:
            def lookup(*a, **kw):
                set_group(sc, f"lookup:{k}", "layer:query.exact")
                t0 = time.perf_counter()
                try:
                    return orig_lookup(*a, **kw)
                finally:
                    lookups.append(time.perf_counter() - t0)
                    set_group(sc, f"wand:{k}", "layer:query.wand")

            wand.query_term_rows = lookup
            set_group(sc, f"wand:{k}", "layer:query.wand")
        t0 = time.perf_counter()
        try:
            rows = wand.bm25_topk_wand(spark, index, qs, k=W.TOP_K).collect()
        except Exception as e:  # counted in `failed`, the run goes on
            log(f"batch run {k} failed: {type(e).__name__}: {e}")
            return None, None
        finally:
            dt = time.perf_counter() - t0
            wand.query_term_rows = orig_lookup
            if traced:
                set_group(sc, None)
        return dt, sorted((r["qid"], r["rank"], r["docno"], r["docid"], r["score"]) for r in rows)

    batches, lat, failed, errors = [], [], 0, []
    while (sum(lat) < budget_s / PASSES or len(lat) < MIN_BATCHES) and failed < 3 * W.BATCH_SIZE:
        qs = stream.take(W.BATCH_SIZE)
        dt, rows = run_one(qs)
        if rows is None:
            failed += len(qs)
            continue
        batches.append((qs, rows))
        lat.append(dt)
    for p in range(1, PASSES):
        for i, (qs, rows) in enumerate(batches):
            dt, again = run_one(qs)
            if again is None:
                failed += len(qs)
            elif again != rows:
                errors.append(f"batch: run {p + 1} of batch {i} returned other rows")
            else:
                lat[i] = min(lat[i], dt)
    results: dict[str, list[dict]] = {}
    for qs, rows in batches:
        for qid, _, docno, docid, score in rows:
            results.setdefault(qid, []).append({"docno": docno, "docid": docid, "score": score})
    queries = [q for qs, _ in batches for q in qs]
    return lat, results, queries, failed, runs, lookups, errors


def run_serving(open_searcher, stream, budget_s, tracer):
    """Closed loop, one caller, PASSES passes. The first pass serves fresh
    queries until 1/PASSES of `budget_s` is spent, at least MIN_QUERIES
    were served and the last length cycle is whole; each other pass serves
    the same queries in the same order on a freshly opened and warmed
    searcher, so it does the same work, LRU misses included. A query's
    latency is its fastest run.

    With a tracer, the span wrappers are on for alternating blocks of four
    queries in the first pass and for the other blocks in the second, so
    every query runs once traced and once untraced; the tracing overhead
    is their ratio over all queries. Any later pass runs untraced.

    Returns (latencies s, tracing overhead or None, results by qid,
    queries, failed runs, runs, errors)."""
    from spans import traced_searcher

    calls = 0

    def traced(i, p):
        return tracer is not None and p < 2 and (i // 4 + p) % 2 == 1

    def run_one(searcher, q, i, p):
        nonlocal calls
        calls += 1
        t0 = time.perf_counter()
        try:
            if traced(i, p):
                tracer.request = 2 * i + p
                with traced_searcher(searcher, tracer), tracer.span("serve.search"):
                    res = searcher.search(q["query"], k=W.TOP_K)
            else:
                res = searcher.search(q["query"], k=W.TOP_K)
        except Exception as e:
            log(f"search {q['qid']} failed: {type(e).__name__}: {e}")
            return None, None
        return time.perf_counter() - t0, res

    searcher = open_searcher()
    queries, lat, results, failed, errors = [], [], {}, 0, []
    while (
        sum(lat) < budget_s / PASSES or len(lat) < MIN_QUERIES or len(queries) % stream.cycle
    ) and failed < 20:
        q = stream.next()
        dt, res = run_one(searcher, q, len(queries), 0)
        if res is None:
            failed += 1
            continue
        queries.append(q)
        lat.append(dt)
        results[q["qid"]] = res
    first = list(lat)
    with_spans = without = 0.0
    for p in range(1, PASSES):
        searcher = open_searcher()
        for i, q in enumerate(queries):
            dt, res = run_one(searcher, q, i, p)
            if res is None:
                failed += 1
            elif res != results[q["qid"]]:
                errors.append(f"serve: run {p + 1} of {q['qid']} returned another top-k")
            else:
                lat[i] = min(lat[i], dt)
                if p == 1 and traced(i, 1):
                    with_spans, without = with_spans + dt, without + first[i]
                elif p == 1:
                    with_spans, without = with_spans + first[i], without + dt
    overhead = with_spans / without - 1.0 if tracer is not None and without else None
    return lat, overhead, results, queries, failed, calls, errors


# ---------------------------------------------------------------- layers


def build_layers(index_root: str, events, build_window_ms) -> dict[str, float]:
    from eventlog import in_window, rollup

    out: dict[str, float] = {}
    windows = {}
    mdir = os.path.join(index_root, "_manifests")
    manifests = {}
    for st in STAGES:
        path = os.path.join(mdir, f"{st}.json")
        with open(path) as f:
            m = json.load(f)
        manifests[st] = m
        end = os.path.getmtime(path) * 1e3
        windows[st] = (end - m["wall_time_sec"] * 1e3, end)
        out[f"build.{st}.wall_s"] = float(m["wall_time_sec"])
    for name, members in TASK_STAGES.items():
        lo = min(windows[s][0] for s in members)
        hi = max(windows[s][1] for s in members)
        r = rollup(in_window(events.tasks, lo, hi))
        for key in ("cpu_s", "shuffle_write_bytes", "spill_bytes", "task_skew"):
            out[f"build.{name}.{key}"] = r[key]
    lo, hi = build_window_ms
    out["build.jobs"] = float(sum(1 for j in events.jobs.values() if lo <= j.submit_ms <= hi))
    post = manifests["postings"]["metrics"]
    out["build.postings.runs"] = float(post["n_runs"])
    out["build.postings.bytes"] = float(post["artifacts"]["postings"]["bytes_total"])
    return out


def batch_layers(events, n_batches: int, lookups: list[float]) -> dict[str, float]:
    from eventlog import rollup

    per = []
    for i in range(n_batches):
        jobs = events.jobs_in(f"wand:{i}")
        lk = events.jobs_in(f"lookup:{i}")
        if not jobs:
            continue
        r = rollup(events.tasks_of(jobs))
        r["exec_s"] = (max(j.end_ms for j in jobs) - min(j.submit_ms for j in jobs)) / 1e3
        r["jobs"] = len(jobs)
        r["lookup_jobs"] = len(lk)
        per.append(r)
    if not per:
        return {}

    def mean(k):
        return sum(p[k] for p in per) / len(per)

    return {
        "exact.term_lookup_s": median(lookups) if lookups else 0.0,
        "exact.lookup_jobs": mean("lookup_jobs"),
        "wand.exec_s": median([p["exec_s"] for p in per]),
        "wand.jobs": mean("jobs"),
        "wand.tasks": mean("tasks"),
        "wand.shuffle_bytes": mean("shuffle_write_bytes"),
        "wand.executor_cpu_s": mean("cpu_s"),
        "wand.task_skew": median([p["task_skew"] for p in per]),
    }


# ---------------------------------------------------------------- main


def spark_phases(args, work, conf, corpus, traced, record) -> dict:
    """Set-up and Spark batches; the session and its JVM are stopped on
    the way out, also when a phase raises."""
    from ivory_spark.index import codec
    from ivory_spark.index.build import IndexConfig, build_index
    from ivory_spark.index.reader import open_index
    from ivory_spark.query.wand import bm25_topk_wand
    from ivory_spark.session import get_spark

    nproc = record["nproc"]
    out: dict = {"index_root": os.path.join(work, "index")}
    record["format_version"] = codec.FORMAT_VERSION
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=nproc, shuffle_partitions=nproc, extra_conf=conf)
    out["session_s"] = time.perf_counter() - t0
    try:
        cfg = IndexConfig(salt_threshold=W.N_DOCS // 10, n_shards=nproc, partitions=nproc)
        record["salt_threshold"] = cfg.salt_threshold
        sc = spark.sparkContext
        if traced:
            set_group(sc, "build", "layer:index.build")
        build_t0_ms = time.time() * 1e3
        procstat.reset_peak_rss()  # one window from the build through the batches
        c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        build_index(spark, corpus, out["index_root"], cfg)
        out["build_s"] = time.perf_counter() - t0
        out["build_cpu_s"] = procstat.tree_cpu_s() - c0
        out["build_window_ms"] = (build_t0_ms, time.time() * 1e3)
        if traced:
            set_group(sc, None)
        t0 = time.perf_counter()
        open_index(spark, out["index_root"])
        out["open_s"] = time.perf_counter() - t0

        # queries from the built dictionary's df bands (untimed)
        bands = W.df_bands(os.path.join(out["index_root"], "dictionary"))
        record["bands"] = bands.describe()
        out["bands"] = bands
        out["warm_stream"] = W.QueryStream(args.workload, bands, args.seed, stream=0)
        out["batch_stream"] = W.QueryStream(args.workload, bands, args.seed, stream=1)

        warm = out["warm_stream"].take(2)
        bm25_topk_wand(spark, open_index(spark, out["index_root"]), warm, k=W.TOP_K).collect()
        out["batch"] = run_batches(
            spark, out["index_root"], out["batch_stream"], args.seconds * BATCH_SHARE, traced
        )
        out["rss_mb"] = procstat.tree_peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        record["spark_stop_s"] = round(time.perf_counter() - t0, 3)
    return out


def run(args, work: str) -> tuple[dict, bool]:
    import numpy as np

    conf = pin_environment(work)
    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "master": f"local[{nproc}]",
        "shuffle_partitions": nproc, "build_partitions": nproc, "n_shards": nproc,
        "n_docs": W.N_DOCS, "vocab_size": W.VOCAB_SIZE, "batch_size": W.BATCH_SIZE,
        "k": W.TOP_K, "batch_share": BATCH_SHARE,
    }
    if traced:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + evdir,
        })

    # inputs (untimed)
    t0 = time.perf_counter()
    corpus = W.write_corpus(os.path.join(work, "corpus"), args.seed)
    record["corpus_gen_s"] = round(time.perf_counter() - t0, 3)
    record["loadavg_before"] = procstat.loadavg()
    steal0 = procstat.steal_s()

    sp = spark_phases(args, work, conf, corpus, traced, record)
    index_root, bands = sp["index_root"], sp["bands"]
    b_lat, b_results, b_queries, b_failed, b_runs, lookups, errors = sp["batch"]
    layers: dict[str, float] = {}
    if traced:
        import eventlog

        events = eventlog.parse(evdir)
        layers.update(build_layers(index_root, events, sp["build_window_ms"]))
        layers.update(batch_layers(events, b_runs, lookups))
        layers["session.create_s"] = sp["session_s"]
        record["eventlog_jobs"] = len(events.jobs)
        record["eventlog_tasks"] = len(events.tasks)

    # ---- warm serving, Spark stopped
    from ivory_spark.query.serve import LocalSearcher

    warm_stream = sp["warm_stream"]
    opened: list[float] = []

    def open_searcher():
        t0 = time.perf_counter()
        searcher = LocalSearcher(index_root)
        opened.append(time.perf_counter() - t0)
        if args.workload == "hot":
            # every hot run resident before timing: the timed loop is all LRU hits
            searcher._runs_for(sorted(searcher._dict[t][0] for t in bands.hot))
        for q in warm_stream.take(10):
            searcher.search(q["query"], k=W.TOP_K)
        return searcher

    tracer = None
    if traced:
        from spans import Tracer

        tracer = Tracer()
    serve_stream = W.QueryStream(args.workload, bands, args.seed, stream=2)
    procstat.reset_peak_rss()
    s_lat, overhead, s_results, s_queries, s_failed, s_runs, s_errors = run_serving(
        open_searcher, serve_stream, args.seconds * (1 - BATCH_SHARE), tracer
    )
    rss_serve = procstat.tree_peak_rss_mb()
    errors += s_errors
    record["loadavg_after"] = procstat.loadavg()
    record["steal_s"] = round(procstat.steal_s() - steal0, 2)
    record["batches"] = len(b_lat)
    record["serve_queries"] = len(s_queries)
    record["distinct_terms"] = {
        "batch": len(sp["batch_stream"].used), "serve": len(serve_stream.used),
    }

    # ---- oracle (untimed)
    import pandas as pd

    import check
    from ivory_spark.oracle import build_oracle_index

    t0 = time.perf_counter()
    oi = build_oracle_index(pd.read_parquet(corpus))
    rng = np.random.default_rng([args.seed, 99])
    terms = sorted(oi.dictionary)
    sample = [terms[i] for i in rng.choice(len(terms), size=min(DICT_CHECKS, len(terms)), replace=False)]
    errors += check.check_build(oi, index_root, sample)
    errors += check.check_topk(oi, b_queries, b_results, W.TOP_K, "batch")
    s_checked = s_queries[::SERVE_CHECK_STRIDE][:SERVE_CHECKS]
    errors += check.check_topk(oi, s_checked, s_results, W.TOP_K, "serve")
    record["oracle_checked"] = {
        "dictionary_rows": len(sample), "batch_queries": len(b_queries),
        "serve_queries": len(s_checked),
    }
    record["oracle_s"] = round(time.perf_counter() - t0, 3)
    for e in errors[:20]:
        log("MISMATCH " + e)
    record["mismatches"] = len(errors)

    if traced:
        from spans import serve_layers

        layers.update(serve_layers(tracer))
        if overhead is not None:
            layers["trace_overhead_frac"] = overhead
        values, table = layers, PER_LAYER
    else:
        index_bytes = du(index_root) - du(os.path.join(index_root, "_manifests"))
        values, table = {
            "setup_s": sp["session_s"] + sp["build_s"] + sp["open_s"] + opened[0],
            "build_cold_s": sp["build_s"],
            "build_cpu_s": sp["build_cpu_s"],
            "index_bytes_per_corpus_byte": index_bytes / du(corpus),
            "batch_p50_s": median(b_lat),
            "batch_qps": len(b_queries) / sum(b_lat),
            "serve_p50_ms": float(np.percentile(s_lat, 50)) * 1e3,
            "serve_p90_ms": float(np.percentile(s_lat, 90)) * 1e3,
            "serve_qps": len(s_lat) / sum(s_lat),
            "peak_rss_mb": max(sp["rss_mb"], rss_serve),
        }, END_TO_END
    missing = sorted(set(table) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, (u, _) in table.items()}
    print("perfbench-record " + json.dumps(record, sort_keys=True), flush=True)
    result = {
        "correct": not errors,
        "attempted": 1 + b_runs * W.BATCH_SIZE + s_runs,
        "failed": b_failed + s_failed,
        "metrics": metrics,
    }
    return result, not errors


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, ok = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
