"""The three workloads: how each corpus is made from the seed, what one
timed pass runs, and which gate checks its output.

Every workload is a batch job submitted by one closed-loop client (this
process), one job in flight. The program only sees the generated pages."""

from __future__ import annotations

import glob
import os
import random
import shutil
from contextlib import contextmanager
from dataclasses import dataclass

# the kg_canonical_components oracle renders doc ids as 8 digits
_SEED_OFFSETS = 90


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int              # corpus size
    consistent_only: bool   # timegraph filter on
    kg: bool                # full KG tail instead of extract_triples
    control_chunk: int      # pages per control task


WORKLOADS = {
    "synth_extract": Workload("synth_extract", 6_000, False, False, 64),
    "news_consistent": Workload("news_consistent", 120, True, False, 1),
    "kg_build": Workload("kg_build", 2_000, False, True, 64),
}
NEWS_FIXTURES = ("wsj_1014", "bbc_20130322_721")
NEWS_BLOCK = 5              # one wsj page per block of five


def doc_range(seed: int, n: int) -> tuple:
    lo = (seed % _SEED_OFFSETS) * 1_000_000
    return lo, lo + n


def write_corpus(spark, wl: Workload, seed: int, n: int, out: str) -> dict:
    """Write the workload's pages to parquet at ``out``; return what the
    gate needs to know about them."""
    from eventrelationextractor_spark.spark import stages
    shutil.rmtree(out, ignore_errors=True)
    nproc = spark.sparkContext.defaultParallelism
    if wl.name != "news_consistent":
        lo, hi = doc_range(seed, n)
        ids = spark.range(lo, hi, 1, nproc).withColumnRenamed("id", "doc_id")
        stages.pages_from_doc_ids(ids).write.parquet(out)
        return {"doc_range": (lo, hi)}

    import pandas as pd
    from eventrelationextractor_spark.fixtures import fixture_text
    # The seed shuffles page order and urls. Each block of five pages holds
    # one wsj_1014 page at a seeded position, so every scan partition gets
    # the same wsj share whatever the seed.
    rng = random.Random(seed)
    texts = {f: fixture_text(f) for f in NEWS_FIXTURES}
    fixtures = []
    for _ in range(0, n, NEWS_BLOCK):
        block = [NEWS_FIXTURES[1]] * NEWS_BLOCK
        block[rng.randrange(NEWS_BLOCK)] = NEWS_FIXTURES[0]
        fixtures += block
    fixtures = fixtures[:n]
    urls = [f"https://news.example.org/{seed}/{rng.getrandbits(64):016x}"
            for _ in fixtures]
    pdf = pd.DataFrame({"url": urls, "text": [texts[f] for f in fixtures]})
    # createDataFrame cuts the page list into nproc contiguous slices: one
    # parquet file each
    spark.createDataFrame(pdf, "url string, text string").write.parquet(out)
    from .oracle import news_expected_rows
    return {"page_fixture": dict(zip(urls, fixtures)),
            "news_golden": news_expected_rows()}


ALIAS_SCHEMA = "alias string, kind string, canonical_id string"


def _alias_rows() -> list:
    import __spark_entry__
    return list(__spark_entry__.ALIAS_ROWS)


def run_pass(spark, wl: Workload, corpus: str, out: str, tr=None) -> dict:
    """One timed pass: build the DataFrame from the corpus and run the
    workload's actions. Output lands under ``out`` (replaced). With a
    tracer, each DataFrame action gets a span and the KG tail records its
    layer counts. Returns the facts the gate needs."""
    from eventrelationextractor_spark.spark import stages
    from .tracing import NullTracer
    tr = tr if tr is not None else NullTracer()
    shutil.rmtree(out, ignore_errors=True)
    pages = spark.read.parquet(corpus)
    if not wl.kg:
        trips = stages.extract_triples(pages, mode="both",
                                       consistent_only=wl.consistent_only)
        with tr.span("stages.extract_triples"):
            trips.write.parquet(os.path.join(out, "triples"))
        return {"triples_glob": os.path.join(out, "triples", "*.parquet")}
    return _kg_pass(spark, pages, out, tr)


def _kg_pass(spark, pages, out: str, tr) -> dict:
    from pyspark.sql import functions as F

    from eventrelationextractor_spark.spark import kg, lineage, stages
    from .tracing import Tracer
    traced = isinstance(tr, Tracer)
    with tr.span("stages.extract_kg_rows"):
        rows = stages.extract_kg_rows(pages, mode="both").localCheckpoint()
    mentions = rows.filter(F.col("row_kind") == "mention") \
        .select("url", "mention_id", "kind", "lemma")
    trips = rows.filter(F.col("row_kind") == "triple") \
        .select("url", "subj", "pred", "obj")
    alias = spark.createDataFrame(_alias_rows(), ALIAS_SCHEMA)
    linked = kg.link_mentions(mentions, alias)
    if traced:
        # the join is lazy: materialize it so its cost is its own span
        with tr.span("kg.link_mentions"):
            linked = linked.localCheckpoint()
        edges = kg.canonical_edges(linked, trips)
        tr.count("kg.edges", edges.count())
    labels_dir = os.path.join(out, "labels")
    with tr.span("kg.canonicalize"):
        if traced:
            with _count_cc_rounds(kg, tr):
                labels = kg.canonicalize(linked, trips)
        else:
            labels = kg.canonicalize(linked, trips)
        labels.write.parquet(labels_dir)
    sink = os.path.join(out, "sink")
    with tr.span("lineage.write_triples_resumable"):
        lineage.write_triples_resumable(pages, sink, n_buckets=8,
                                        mode="both")
    manifest = lineage.read_manifest(sink)
    return {
        "labels_glob": os.path.join(labels_dir, "*.parquet"),
        "triples_glob": os.path.join(sink, "bucket=*", "*.parquet"),
        "manifest_rows": sum(r["rows"] for r in manifest.values()),
        "files_written": len(glob.glob(os.path.join(sink, "bucket=*",
                                                    "*.parquet"))),
    }


@contextmanager
def _count_cc_rounds(kg, tr):
    """Wrap ``kg.connected_components`` (looked up by ``canonicalize`` at
    call time) to record the number of label-propagation rounds."""
    orig = kg.connected_components

    def counted(edges, max_iterations=25, src="src", dst="dst", stats=None):
        st = {} if stats is None else stats
        labels = orig(edges, max_iterations, src, dst, stats=st)
        tr.count("kg.cc_rounds", st.get("rounds", 0))
        return labels
    kg.connected_components = counted
    try:
        yield
    finally:
        kg.connected_components = orig


def check(wl: Workload, meta: dict, res: dict) -> list:
    """Run the workload's correctness gate on one pass's output."""
    from . import oracle
    if wl.name == "synth_extract":
        return oracle.check_synth_triples(meta["doc_range"],
                                          res["triples_glob"])
    if wl.name == "news_consistent":
        return oracle.check_news(meta["page_fixture"], meta["news_golden"],
                                 res["triples_glob"])
    return oracle.check_kg(meta["doc_range"], res["labels_glob"],
                           res["triples_glob"], res["manifest_rows"])
