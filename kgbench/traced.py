"""The traced run: per-layer metrics for one workload and seed.

1. One set-up, then one plain timed pass (tracing off): ``docs_per_s``.
2. One pass with a span around every DataFrame action (``stages``, ``kg``,
   ``lineage``), Spark failed-task counts, and the scan-partition map.
3. The no-Spark control: the same per-document path through a
   ``multiprocessing`` pool of ``nproc`` workers over the same parquet
   pages. Its triples must equal Spark's.
4. The core layers in-process over the workload's sample: once untraced,
   once traced. The difference is the tracing overhead.

Spans are written to ``.kgbench_work/spans.jsonl`` at the end."""

from __future__ import annotations

import math
import os
import statistics
import time

from .run import WORK, GateFailure, _failed_tasks, _gate, _start_session

SAMPLE_MIN = 2000       # in-process sample size for the synthetic corpora

# core layer -> metric name prefix
LAYER_KEY = {"docmodel": "docmodel.parse_", "timexrule": "timexrule.tt_",
             "eventrules": "eventrules.rule_", "features": "features.",
             "liblinear": "liblinear.", "markers": "markers.causal_",
             "timegraph": "timegraph.filter_", "pipeline": "pipeline.other_"}


def _unit(name: str) -> str:
    if name.endswith(("_us", "us_per_doc", "us_per_vector")):
        return "us"
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "efficiency", "_rate", "_skew")):
        return "ratio"
    return "count"


def _pct(values, q: float) -> float:
    """q-th percentile (nearest rank) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _sample(pages: list, n_docs: int) -> list:
    """Every k-th page in corpus order: at least SAMPLE_MIN pages (all of
    them for a smaller corpus)."""
    step = max(1, n_docs // SAMPLE_MIN)
    return pages[::step]


def _read_pages(corpus: str):
    import pyarrow.parquet as pq

    def read():
        t = pq.read_table(corpus, columns=["url", "text"])
        return list(zip(t.column("url").to_pylist(),
                        t.column("text").to_pylist()))
    return read


def run_traced(wl, seed: int, n: int, record: dict) -> dict:
    from pyspark.sql import functions as F

    from . import oracle, workloads
    from .control import Control, extract_doc
    from .tracing import CORE_LAYERS, Instrumented, Tracer

    nproc = record["nproc"]
    run_id = f"{wl.name}-{seed}-{os.getpid()}-{int(time.time())}"
    tr = Tracer(run_id)
    corpus = os.path.join(WORK, "corpus")
    out = os.path.join(WORK, "out")
    m: dict = {}

    # -- Spark: set-up (the first in this process: it launches the JVM),
    # plain pass, traced pass
    t0 = time.perf_counter()
    spark = _start_session(nproc)
    t1 = time.perf_counter()
    meta = workloads.write_corpus(spark, wl, seed, n, corpus)
    t2 = time.perf_counter()
    res = workloads.run_pass(spark, wl, corpus, out)
    t3 = time.perf_counter()
    m["setup.session_s"], m["setup.write_s"], m["setup.warmup_s"] = (
        t1 - t0, t2 - t1, t3 - t2)
    _gate(wl, meta, res)
    t0 = time.perf_counter()
    res = workloads.run_pass(spark, wl, corpus, out)
    docs_per_s = n / (time.perf_counter() - t0)
    _gate(wl, meta, res)
    sc = spark.sparkContext
    sc.setJobGroup("kgbench-traced", "traced pass")
    with tr.span("spark.pass"):
        res = workloads.run_pass(spark, wl, corpus, out, tr)
    m["stages.failed_tasks"] = _failed_tasks(sc, "kgbench-traced")
    _gate(wl, meta, res)
    errors = oracle.count_error_pages(res["triples_glob"])
    part_of = {r["url"]: r["p"] for r in spark.read.parquet(corpus)
               .select("url", F.spark_partition_id().alias("p")).collect()}
    m["stages.partitions"] = len(set(part_of.values()))
    if wl.kg:
        m["kg.link_s"] = tr.span_seconds("kg.link_mentions")
        m["kg.cc_s"] = tr.span_seconds("kg.canonicalize")
        m["kg.cc_rounds"] = tr.counts["kg.cc_rounds"]
        m["kg.vertices"] = spark.read.parquet(
            os.path.dirname(res["labels_glob"])).count()
        m["kg.edges"] = tr.counts["kg.edges"]
        m["lineage.write_s"] = tr.span_seconds(
            "lineage.write_triples_resumable")
        m["lineage.rows_written"] = res["manifest_rows"]
        m["lineage.files_written"] = res["files_written"]
    else:
        # the layer does not run on this workload
        for k in ("kg.link_s", "kg.cc_s", "kg.cc_rounds", "kg.vertices",
                  "kg.edges", "lineage.write_s", "lineage.rows_written",
                  "lineage.files_written"):
            m[k] = 0
    spark.stop()

    # -- no-Spark control over the same parquet pages
    read_pages = _read_pages(corpus)
    ctl = Control(nproc)
    try:
        ctl_wall, ctl_rows, cost = ctl.run(read_pages, "both",
                                           wl.consistent_only,
                                           wl.control_chunk)
    finally:
        ctl.close()
    errs = oracle.rows_equal(ctl_rows, res["triples_glob"])
    if errs:
        raise GateFailure("; ".join(errs))
    control_dps = n / ctl_wall
    m["control.docs_per_s"] = control_dps
    m["stages.spark_efficiency"] = docs_per_s / control_dps
    # core-microseconds per doc that Spark spends beyond the control
    m["stages.overhead_us_per_doc"] = nproc * 1e6 * (1 / docs_per_s
                                                     - 1 / control_dps)
    by_part: dict = {}
    for url, dt in cost.items():
        by_part[part_of[url]] = by_part.get(part_of[url], 0.0) + dt
    m["stages.partition_cost_skew"] = (max(by_part.values())
                                       / statistics.mean(by_part.values()))
    m["stages.doc_error_rate"] = errors / n

    # -- core layers in-process over the sample. Each page runs once
    # untraced and once traced, the order alternating page by page, so both
    # sides see equally warm caches; the difference is the tracing overhead.
    pages = _sample(read_pages(), n)
    k = len(pages)
    for url, text in pages[:8]:                             # warm caches
        extract_doc(url, text, "both", wl.consistent_only)
    inst = Instrumented(tr)
    plain_s = traced_s = 0.0
    for i, (url, text) in enumerate(pages):
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            t0 = time.perf_counter()
            if traced:
                tr.doc = i
                with inst, tr.span("doc"):
                    extract_doc(url, text, "both", wl.consistent_only, tr)
                tr.doc = None
                traced_s += time.perf_counter() - t0
            else:
                extract_doc(url, text, "both", wl.consistent_only)
                plain_s += time.perf_counter() - t0
    plain_us, traced_us = plain_s * 1e6 / k, traced_s * 1e6 / k
    per_doc = tr.self_us_by_doc()
    c = tr.counts
    core_total = 0.0
    for layer in CORE_LAYERS:
        vals = [per_doc.get(layer, {}).get(i, 0.0) for i in range(k)]
        core_total += sum(vals) / k
        key = LAYER_KEY[layer]
        m[key + "us_per_doc"] = sum(vals) / k
        m[key + "p50_us"] = _pct(vals, 0.50)
        m[key + "p99_us"] = _pct(vals, 0.99)

    def ratio(a, b):
        return a / b if b else 0

    m["docmodel.tokens_per_doc"] = c["docmodel.tokens"] / k
    m["timexrule.tt_pairs_per_doc"] = c["timexrule.pairs"] / k
    m["timexrule.tt_hit_ratio"] = ratio(c["timexrule.hits"],
                                        c["timexrule.pairs"])
    m["eventrules.candidates_per_doc"] = c["eventrules.candidates"] / k
    m["eventrules.rule_hit_ratio"] = ratio(c["eventrules.hits"],
                                           c["eventrules.candidates"])
    m["features.vectors_per_doc"] = c["features.vectors"] / k
    m["features.us_per_vector"] = ratio(m["features.us_per_doc"] * k,
                                        c["features.vectors"])
    m["liblinear.calls_per_doc"] = c["liblinear.calls"] / k
    m["liblinear.rows_per_call"] = ratio(c["liblinear.rows"],
                                         c["liblinear.calls"])
    m["markers.candidates_per_doc"] = c["markers.candidates"] / k
    m["markers.gate_pass_ratio"] = ratio(c["markers.gate_pass"],
                                         c["markers.candidates"])
    m["timegraph.relations_per_doc"] = c["timegraph.relations"] / k
    m["timegraph.kept_ratio"] = ratio(c["timegraph.kept"],
                                      c["timegraph.relations"])
    control_us = nproc * 1e6 / control_dps
    m["trace.sample_docs"] = k
    m["trace.untraced_us_per_doc"] = plain_us
    m["trace.overhead_us_per_doc"] = traced_us - plain_us
    m["trace.control_us_per_doc"] = control_us
    # control per-doc cost not covered by any layer's untraced share
    m["trace.unattributed_us_per_doc"] = (control_us - core_total
                                          + (traced_us - plain_us))
    tr.write(os.path.join(WORK, "spans.jsonl"))
    record["traced_pass_s"] = tr.span_seconds("spark.pass")
    record["docs_per_s"] = docs_per_s
    print(_table(m, record, wl))
    return {"correct": True, "attempted": n, "failed": errors,
            "metrics": {k: {"value": v, "unit": _unit(k)}
                        for k, v in sorted(m.items())}}


def _table(m: dict, record: dict, wl) -> str:
    lines = [f"per-layer table: {wl.name} seed {record['seed']}, "
             f"{record['pages']} pages, {record['nproc']} cores, "
             f"in-process sample {m['trace.sample_docs']} docs"]
    lines.append(f"  {'layer':<18}{'us/doc':>10}{'p50':>10}{'p99':>10}")
    for key in LAYER_KEY.values():
        lines.append(f"  {key.rstrip('._'):<18}{m[key + 'us_per_doc']:>10.1f}"
                     f"{m[key + 'p50_us']:>10.1f}{m[key + 'p99_us']:>10.1f}")
    for key in ("trace.untraced_us_per_doc", "trace.overhead_us_per_doc",
                "trace.control_us_per_doc", "trace.unattributed_us_per_doc"):
        lines.append(f"  {key:<34}{m[key]:>12.1f} us")
    for key in sorted(m):
        if not key.endswith(("us_per_doc", "p50_us", "p99_us")):
            lines.append(f"  {key:<34}{m[key]:>12.4f} {_unit(key)}")
    return "\n".join(lines)
