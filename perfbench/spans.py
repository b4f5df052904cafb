"""In-memory spans and counters recorded around calls into ivory_spark.

Spans are taken from the benchmark's side of each layer boundary: the
wrappers below replace a searcher's bound methods and two module
attributes for the duration of one traced call, and put the originals
back afterwards. Nothing inside ivory_spark is edited.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    request: int  # spans of one request share this id

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    request: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - covered(children.get(i, []), s.start, s.end) for i, s in enumerate(spans)
    ]


def per_request(spans: list[Span], name: str) -> dict[int, float]:
    """request id -> summed duration (s) of spans called `name`."""
    out: dict[int, float] = {}
    for s in spans:
        if s.name == name:
            out[s.request] = out.get(s.request, 0.0) + s.dur
    return out


class _CountingDataset:
    """Stands in for a pyarrow dataset; counts the bytes each read returns."""

    def __init__(self, ds, tracer: Tracer):
        self._ds = ds
        self._tracer = tracer

    def to_table(self, *args, **kwargs):
        tab = self._ds.to_table(*args, **kwargs)
        self._tracer.count("fetch_bytes", tab.nbytes)
        return tab


@contextmanager
def traced_searcher(searcher, tracer: Tracer):
    """Install span wrappers around the serve layers for one call:
    LocalSearcher._runs_for (fetch, with LRU hit counts), the pyarrow
    postings read (bytes), LocalSearcher.docids, the WAND kernel that
    query.serve imports (with its pruning stats) and codec.decode_block."""
    from ivory_spark.index import codec
    from ivory_spark.query import serve

    orig_runs_for = searcher._runs_for
    orig_docids = searcher.docids
    orig_postings = searcher._postings
    orig_kernel = serve._score_group
    orig_decode = codec.decode_block
    cache = searcher._run_cache

    def runs_for(termids, positions=False):
        tracer.count("lru_lookups", len(termids))
        tracer.count("lru_hits", sum(1 for t in termids if t in cache))
        with tracer.span("serve.fetch"):
            return orig_runs_for(termids, positions)

    def docids(docnos):
        with tracer.span("serve.docid"):
            return orig_docids(docnos)

    def kernel(*args, **kwargs):
        stats = kwargs.setdefault("stats", {})
        with tracer.span("wand.kernel"):
            out = orig_kernel(*args, **kwargs)
        tracer.count("segments", stats.get("segments", 0))
        tracer.count("segments_scored", stats.get("scored", 0))
        return out

    def decode_block(*args, **kwargs):
        with tracer.span("codec.decode_block"):
            return orig_decode(*args, **kwargs)

    searcher._runs_for = runs_for
    searcher.docids = docids
    searcher._postings = _CountingDataset(orig_postings, tracer)
    serve._score_group = kernel
    codec.decode_block = decode_block
    try:
        yield
    finally:
        codec.decode_block = orig_decode
        serve._score_group = orig_kernel
        searcher._postings = orig_postings
        del searcher.docids, searcher._runs_for  # back to the class methods


def pct(values, q: float) -> float:
    return float(np.percentile(values, q))


def serve_layers(tracer: Tracer) -> dict[str, float]:
    """Per-layer serve metrics from the spans of traced search requests.

    fetch + kernel + docid + self adds up to search exactly, per request
    and therefore in the means: self is search minus the part its direct
    children cover."""
    spans = tracer.spans
    selfs = self_times(spans)
    search = per_request(spans, "serve.search")
    reqs = sorted(search)
    n = len(reqs)
    if not n:
        return {}

    def series(name):
        d = per_request(spans, name)
        return [d.get(r, 0.0) * 1e3 for r in reqs]

    search_self: dict[int, float] = {}
    kernel_self: dict[int, float] = {}
    for s, st in zip(spans, selfs):
        if s.name == "serve.search":
            search_self[s.request] = search_self.get(s.request, 0.0) + st
        elif s.name == "wand.kernel":
            kernel_self[s.request] = kernel_self.get(s.request, 0.0) + st
    search_ms = [search[r] * 1e3 for r in reqs]
    fetch_ms, kernel_ms, docid_ms = series("serve.fetch"), series("wand.kernel"), series("serve.docid")
    decode_ms = series("codec.decode_block")
    self_ms = [search_self[r] * 1e3 for r in reqs]
    kself_ms = [kernel_self.get(r, 0.0) * 1e3 for r in reqs]
    n_decode = sum(1 for s in spans if s.name == "codec.decode_block")
    c = tracer.counts
    return {
        "serve.search.p50_ms": pct(search_ms, 50),
        "serve.search.mean_ms": float(np.mean(search_ms)),
        "serve.fetch.p50_ms": pct(fetch_ms, 50),
        "serve.fetch.p90_ms": pct(fetch_ms, 90),
        "serve.fetch.mean_ms": float(np.mean(fetch_ms)),
        "serve.lru_hit_ratio": c.get("lru_hits", 0) / max(1, c.get("lru_lookups", 0)),
        "serve.fetch_bytes_per_query": c.get("fetch_bytes", 0) / n,
        "serve.docid.p50_ms": pct(docid_ms, 50),
        "serve.docid.mean_ms": float(np.mean(docid_ms)),
        "serve.self.p50_ms": pct(self_ms, 50),
        "serve.self.mean_ms": float(np.mean(self_ms)),
        "wand.kernel.p50_ms": pct(kernel_ms, 50),
        "wand.kernel.p90_ms": pct(kernel_ms, 90),
        "wand.kernel.mean_ms": float(np.mean(kernel_ms)),
        "wand.kernel.self_mean_ms": float(np.mean(kself_ms)),
        "wand.segments_scored_frac": c.get("segments_scored", 0) / max(1, c.get("segments", 0)),
        "codec.decode_block.calls_per_query": n_decode / n,
        "codec.decode_block.ms_per_query": float(np.mean(decode_ms)),
    }
