"""Per-layer metrics of a traced run, by layer (= package module).

Spark-side figures are medians over the traced warm operations of the
run, each read from the Spark status store for that operation's job
groups; ``cold.*`` figures come from the traced cold operation. Oracle
and corpus figures come from the in-process replay of the same inputs
and are per operation (summed over the replayed documents, divided by
the documents one operation handles). A layer that does not run on a
workload reports 0.
"""

from __future__ import annotations

import os
import statistics
import tempfile

from tracing import span_tables

# name -> unit, in the order they are reported
PER_LAYER = {
    "session.get_spark_s": "s",
    "bundle.ensure_shipped_s": "s",
    "bundle.zip_bytes": "bytes",
    "worker.first_task_s": "s",
    "sources.scans": "count",
    "sources.scan_ms": "ms",
    "sources.scan_bytes": "bytes",
    "sources.append_s": "s",
    "sources.commit_ms": "ms",
    "sources.files_written": "count",
    "sources.manifest_bytes": "bytes",
    "corpus.interleave_ms": "ms",
    "extract.py_run_ms": "ms",
    "extract.py_init_ms": "ms",
    "extract.py_start_ms": "ms",
    "extract.bytes_to_py": "bytes",
    "extract.bytes_from_py": "bytes",
    "extract.tasks": "count",
    "extract.task_run_max_ms": "ms",
    "extract.task_skew": "ratio",
    "extract.hop_overhead_ms": "ms",
    "cold.extract.py_start_ms": "ms",
    "cold.extract.py_init_ms": "ms",
    "oracle.extract_document_ms": "ms",
    "oracle.parse_ms": "ms",
    "oracle.meta_ms": "ms",
    "oracle.clean_ms": "ms",
    "oracle.score_ms": "ms",
    "oracle.format_ms": "ms",
    "oracle.pdf_ms": "ms",
    "oracle.parses_per_html_doc": "ratio",
    "oracle.tag_prefilter_skips": "count",
    "partitioning.widen_exchanges": "count",
    "dedup.minhash_resolve_s": "s",
    "dedup.minhash_resolve.jobs": "count",
    "dedup.minhash_resolve.shuffle_write_bytes": "bytes",
    "curate.v2_s": "s",
    "curate.v2.jobs": "count",
    "curate.v2.shuffle_write_bytes": "bytes",
    "lmquality.ppl_buckets_s": "s",
    "lmquality.ppl_buckets.jobs": "count",
    "lmquality.ppl_buckets.shuffle_write_bytes": "bytes",
    "lmquality.boilerplate_s": "s",
    "lmquality.boilerplate.jobs": "count",
    "lmquality.boilerplate.shuffle_write_bytes": "bytes",
    "lmquality.dsir_s": "s",
    "lmquality.dsir.jobs": "count",
    "lmquality.dsir.shuffle_write_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_ms": "ms",
    "spark.jvm_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "broadcast.bytes": "bytes",
    "broadcast.build_ms": "ms",
    "self.op_ms": "ms",
    "self.sources.read_ms": "ms",
    "self.operators.extract_ms": "ms",
    "self.curate.v3_ms": "ms",
    "self.materialize_ms": "ms",
    "self.sources.append_ms": "ms",
    "self.oracle.extract_document_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.collect_ms": "ms",
    "trace.metrics_missing": "count",
    "bench.gen_s": "s",
    "bench.reference_s": "s",
}

_ORACLE_PHASES = ("parse", "meta", "clean", "score", "format", "pdf")
_SPARK = {
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.exec_run_ms": "exec_run_ms", "spark.jvm_cpu_ms": "jvm_cpu_ms",
    "spark.gc_ms": "gc_ms", "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.spill_bytes": "spill_bytes",
    "broadcast.bytes": "broadcast_bytes",
    "broadcast.build_ms": "broadcast_build_ms",
    "sources.scans": "scans", "sources.scan_ms": "scan_ms",
    "sources.scan_bytes": "scan_bytes",
    "extract.py_run_ms": "py_run_ms", "extract.py_init_ms": "py_init_ms",
    "extract.py_start_ms": "py_start_ms",
    "extract.bytes_to_py": "bytes_to_py",
    "extract.bytes_from_py": "bytes_from_py",
    "extract.tasks": "py_tasks",
    "extract.task_run_max_ms": "py_task_run_max_ms",
    "partitioning.widen_exchanges": "widen_exchanges",
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _zip_bytes() -> int:
    from crawspark.bundle import build_zip

    with tempfile.TemporaryDirectory() as d:
        return os.path.getsize(build_zip(os.path.join(d, "bundle.zip")))


def per_layer(wl, result: dict, tracer) -> dict:
    spans = tracer.spans
    dur, self_ms, kids = span_tables(spans)
    by_name: dict = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    m = dict.fromkeys(PER_LAYER, 0.0)

    for name in ("session.get_spark", "bundle.ensure_shipped",
                 "worker.first_task"):
        m[f"{name}_s"] = sum(dur[s["id"]] for s in by_name.get(name, ())) / 1e3
    m["bundle.zip_bytes"] = _zip_bytes()

    ops = result["ops"]
    warm = [o for o in ops if o["ok"] and o["kind"] == "warm"]
    traced = [o for o in warm if o["traced"]]
    untraced = [o for o in warm if not o["traced"]]
    for key, field in _SPARK.items():
        m[key] = _med(o["spark"][field] for o in traced)
    m["extract.task_skew"] = _med(
        o["spark"]["py_task_run_max_ms"] / o["spark"]["py_task_run_median_ms"]
        for o in traced if o["spark"]["py_task_run_median_ms"])
    cold = [o for o in ops if o["ok"] and o["kind"] == "cold" and o["traced"]]
    if cold:
        m["cold.extract.py_start_ms"] = cold[0]["spark"]["py_start_ms"]
        m["cold.extract.py_init_ms"] = cold[0]["spark"]["py_init_ms"]

    # layer spans of the traced warm operations, by operation
    op_spans = {s["attrs"]["index"]: s for s in by_name.get("op", ())}
    layer_ms: dict = {}
    layer_self: dict = {}
    for o in traced:
        root = op_spans[o["index"]]
        layer_self.setdefault("op", []).append(self_ms[root["id"]])
        for child in kids.get(root["id"], ()):
            layer_ms.setdefault(child["name"], []).append(dur[child["id"]])
            layer_self.setdefault(child["name"], []).append(
                self_ms[child["id"]])
    for name in ("op", "sources.read", "operators.extract", "curate.v3",
                 "materialize", "sources.append"):
        m[f"self.{name}_ms"] = _med(layer_self.get(name, ()))
    m["sources.append_s"] = _med(layer_ms.get("sources.append", ())) / 1e3
    appends = [o for o in traced if "append_spark" in o]
    m["sources.commit_ms"] = _med(
        dur[c["id"]] - o["append_spark"]["job_busy_ms"]
        for o in appends for c in kids.get(op_spans[o["index"]]["id"], ())
        if c["name"] == "sources.append")
    m["sources.files_written"] = _med(o["files_written"] for o in appends)
    m["sources.manifest_bytes"] = _med(o["manifest_bytes"] for o in appends)

    # in-process replay: per operation's worth of documents
    docs = by_name.get("oracle.extract_document", ())
    per_op = len(docs) / wl.docs_per_op if docs else 0
    if per_op:
        def total(name):
            return sum(dur[s["id"]] for s in by_name.get(name, ())) / per_op
        m["oracle.extract_document_ms"] = total("oracle.extract_document")
        m["self.oracle.extract_document_ms"] = sum(
            self_ms[s["id"]] for s in docs) / per_op
        for phase in _ORACLE_PHASES:
            m[f"oracle.{phase}_ms"] = total(f"oracle.{phase}")
        m["corpus.interleave_ms"] = total("corpus.interleave")
        parsed = [sum(c["name"] == "oracle.parse"
                      for c in kids.get(s["id"], ())) for s in docs]
        html_docs = sum(1 for n in parsed if n)
        m["oracle.parses_per_html_doc"] = (sum(parsed) / html_docs
                                           if html_docs else 0.0)
        m["oracle.tag_prefilter_skips"] = (
            result["oracle_counts"].get("tag_prefilter_skips", 0) / per_op)
    if m["extract.py_run_ms"]:
        m["extract.hop_overhead_ms"] = (m["extract.py_run_ms"]
                                        - m["oracle.extract_document_ms"]
                                        - m["corpus.interleave_ms"])

    for name, rec in result["components"].items():
        m[f"{name}_s"] = sum(dur[s["id"]] for s in by_name[name]) / 1e3
        m[f"{name}.jobs"] = rec["jobs"]
        m[f"{name}.shuffle_write_bytes"] = rec["shuffle_write_bytes"]

    t_med, u_med = _med(o["wall_s"] for o in traced), _med(
        o["wall_s"] for o in untraced)
    m["trace.overhead_pct"] = (t_med / u_med - 1) * 100 if u_med else 0.0
    m["trace.collect_ms"] = _med(o["collect_ms"] for o in traced)
    m["trace.metrics_missing"] = sum(o["spark"]["metrics_missing"]
                                     for o in traced + cold)
    m["bench.gen_s"] = result["gen_s"]
    m["bench.reference_s"] = result["reference_s"]
    return m
