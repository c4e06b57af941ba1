"""The per-document extraction path without Spark, and the no-Spark control.

``extract_doc`` runs one page through the same calls, with the same options,
as the per-row loop inside ``stages.extract_triples``: ``parse_page``, the
temporal cascade, the timegraph consistency filter when asked, and the
causal cascade. The traced in-process run and the ``multiprocessing``
control both use it, so the control's triples can be compared with Spark's
as a second correctness check."""

from __future__ import annotations

import multiprocessing
import time

from eventrelationextractor_spark.core import pipeline, timegraph
from eventrelationextractor_spark.core.lexicons import load_lexicons
from eventrelationextractor_spark.core.liblinear import shipped_model
from eventrelationextractor_spark.spark.stages import parse_page

from .tracing import NullTracer

# stages.extract_triples' default giant-page guard
MAX_TIMEXES = 500
_NULL = NullTracer()


def extract_doc(url: str, text: str, mode: str, consistent_only: bool,
                tr=_NULL) -> list:
    """(url, subj, pred, obj, stage, pair_type) rows for one page."""
    lx = load_lexicons()
    try:
        with tr.span("docmodel.parse"):
            doc = parse_page(text, url)
    except Exception:
        return [(url, "_doc", "PARSE_ERROR", "_doc", "parse-error", "meta")]
    tr.count("docmodel.tokens", len(doc.tokens))
    trips = []
    if mode in ("temporal", "both"):
        with tr.span("pipeline.temporal"):
            temporal = pipeline.temporal_triples(doc, lx,
                                                 max_timexes=MAX_TIMEXES)
        if consistent_only:
            with tr.span("timegraph.filter"):
                ordered = sorted((t.source, t.target, t.rel)
                                 for t in temporal)
                kept, _ = timegraph.filter_consistent(ordered)
                keep = set(kept)
                n_in = len(temporal)
                temporal = [t for t in temporal
                            if (t.source, t.target, t.rel) in keep]
            tr.count("timegraph.relations", n_in)
            tr.count("timegraph.kept", len(temporal))
        trips += temporal
    if mode in ("causal", "both"):
        with tr.span("markers.causal"):
            trips += pipeline.causal_triples(doc, tlinks_map=None, lexicons=lx)
    out = [(url, t.source, t.rel, t.target, t.stage, t.pair_type)
           for t in trips]
    if doc.memo.get("tt_truncated"):
        out.append((url, "_doc", "TRUNCATED", "_doc", "tt-truncated", "meta"))
    return out


def _init_worker() -> None:
    load_lexicons()
    for name in ("dct", "et", "ee", "causal"):
        shipped_model(name)


def _hold(seconds: float) -> int:
    time.sleep(seconds)
    return 1


def _run_chunk(args) -> list:
    """[(rows, seconds)] for a chunk of (url, text) pages."""
    pages, mode, consistent_only = args
    out = []
    for url, text in pages:
        t0 = time.perf_counter()
        rows = extract_doc(url, text, mode, consistent_only)
        out.append((rows, time.perf_counter() - t0))
    return out


class Control:
    """A warm ``spawn`` pool of ``nproc`` workers, one job in flight."""

    def __init__(self, nproc: int):
        ctx = multiprocessing.get_context("spawn")
        self.pool = ctx.Pool(nproc, initializer=_init_worker)
        # one blocking task per worker, so every worker has started and
        # finished its initializer before anything is timed
        self.pool.map(_hold, [0.3] * nproc, chunksize=1)
        self.nproc = nproc

    def run(self, read_pages, mode: str, consistent_only: bool,
            chunksize: int) -> tuple:
        """Time reading the pages plus extracting them. Returns
        (wall seconds, rows, {url: seconds})."""
        t0 = time.perf_counter()
        pages = read_pages()
        chunks = [(pages[i:i + chunksize], mode, consistent_only)
                  for i in range(0, len(pages), chunksize)]
        rows, cost = [], {}
        for chunk, res in zip(chunks,
                              self.pool.imap(_run_chunk, chunks)):
            for (url, _), (doc_rows, dt) in zip(chunk[0], res):
                rows += doc_rows
                cost[url] = dt
        return time.perf_counter() - t0, rows, cost

    def close(self) -> None:
        self.pool.close()
        self.pool.join()
