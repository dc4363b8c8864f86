"""Per-layer metrics of the traced run.

Layer names are the package's module names. Timings come from the spans
of the traced timed phase; the pipeline, WARC-reader and kernel rates come
from isolated probes, because ``extract_pages`` and ``read_warc`` only
build plans and their execution cost lands in whichever span forces them.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

LAYERS = ["extract.job", "extract.pipeline", "sources.warclite",
          "tables.icelite", "extract.curate", "extract.wet",
          "streaming.ingest", "ops.dedup"]

ICELITE_TIMED = ["merge_on_key", "merge_upsert_mor", "append",
                 "delete_keys", "commit_meta"]


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def table_files(root: str) -> tuple[int, int]:
    """(commit manifests, parquet files) under every table of ``root``."""
    if not os.path.isdir(root):
        return 0, 0
    commits = glob.glob(os.path.join(root, "**", "_icelite", "commits",
                                     "*.json"), recursive=True)
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return len(commits), len(files)


def kernel_rate(pdf, reps: int = 3) -> float:
    """One core running ``extract_page`` over the workload's html."""
    from sanskrit_ocr_spark.kernels.page import extract_page

    html = list(pdf["html"])
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for h in html:
            extract_page(h)
        rates.append(len(html) / (time.perf_counter() - t0))
    return p50(rates)


def noop_rate(make_df, n_rows: int, reps: int = 2) -> float:
    """Rows per second of ``make_df()`` written to the noop sink (best of
    ``reps``)."""
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return n_rows / best


def scan_nodes(df) -> int:
    """Scan and union nodes in the optimized plan of ``df``."""
    plan = df._jdf.queryExecution().optimizedPlan().treeString()
    kinds = ("Relation", "LogicalRDD", "LocalRelation", "Union")
    return sum(1 for line in plan.splitlines()
               if line.lstrip(" :+-").startswith(kinds))


def streaming_metrics(query) -> dict:
    progress = list(query.recentProgress) if query is not None else []

    def dur(key):
        return p50(p.durationMs.get(key, 0) / 1000 for p in progress)

    return {"streaming.add_batch_s": (dur("addBatch"), "s"),
            "streaming.trigger_s": (dur("triggerExecution"), "s"),
            "streaming.plan_s": (dur("queryPlanning"), "s"),
            "streaming.rows_per_batch":
                (p50(p.numInputRows for p in progress), "rows")}


def table_metrics(spark, root: str) -> dict:
    from pyspark.sql import functions as F

    from sanskrit_ocr_spark.extract.job import extracted_table

    out = {"icelite.bytes_per_text_byte": (0.0, "ratio"),
           "icelite.read_scan_nodes": (0, "count"),
           "icelite.pending_delete_sets": (0, "count")}
    if not os.path.isdir(os.path.join(root, "extracted", "_icelite")):
        return out
    ext = extracted_table(spark, root)
    files = ext.inspect_file_rows()
    data_bytes = sum(f["file_size_bytes"] for f in files
                     if f["content"] == "data")
    df = ext.read()
    text_bytes = df.select(F.sum(F.octet_length("text"))).collect()[0][0]
    out["icelite.bytes_per_text_byte"] = (
        data_bytes / text_bytes if text_bytes else 0.0, "ratio")
    out["icelite.read_scan_nodes"] = (scan_nodes(df), "count")
    out["icelite.pending_delete_sets"] = (
        len({f["commit_sid"] for f in files
             if f["content"].startswith("equality_deletes")}), "count")
    return out


def span_metrics(tracer) -> dict:
    """Per-call medians of span time, self time and Spark jobs, summed
    row counts, and per-layer self time of the traced timed phase."""
    m = {}
    spans = tracer.named
    runs = spans("extract.job.run_extraction")
    m["job.run_extraction_s"] = (p50(s["dur"] for s in runs), "s")
    m["job.self_s"] = (p50(s["self"] for s in runs), "s")
    m["job.spark_jobs_per_call"] = (p50(s["jobs"] for s in runs), "count")
    for meth in ICELITE_TIMED:
        ss = spans(f"tables.icelite.{meth}")
        m[f"icelite.{meth}_s"] = (p50(s["dur"] for s in ss), "s")
        m[f"icelite.{meth}_self_s"] = (p50(s["self"] for s in ss), "s")
    m["icelite.spark_jobs_per_merge"] = (
        p50(s["jobs"] for s in spans("tables.icelite.merge_on_key")),
        "count")
    cur = spans("extract.curate.curate_table")
    m["curate.curate_table_s"] = (p50(s["dur"] for s in cur), "s")
    m["curate.inserted"] = (sum(s["result"]["inserted"] for s in cur),
                            "rows")
    m["curate.retracted"] = (sum(s["result"]["retracted"] for s in cur),
                             "rows")
    m["curate.spark_jobs"] = (sum(s["jobs"] for s in cur), "count")
    wet = spans("extract.wet.export_wet_incremental")
    m["wet.export_s"] = (p50(s["dur"] for s in wet), "s")
    m["wet.records"] = (sum(s["result"]["records"] for s in wet), "records")
    m["wet.spark_jobs"] = (sum(s["jobs"] for s in wet), "count")
    own = tracer.layer_self()
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (own.get(layer, 0.0), "s")
    m["self.uncovered_s"] = (tracer.root["self"], "s")
    m["trace.uncovered_frac"] = (tracer.root["self"] / tracer.root["dur"],
                                 "ratio")
    return m


def curate_delta_rows(tracer) -> int:
    """Extracted rows the traced ``curate_table`` calls read as their
    deltas (their ``read_changes`` frames, counted after the phase)."""
    return sum(df.count() for rec, df in
               tracer.frames.get("tables.icelite.read_changes", [])
               if tracer.parent_name(rec) == "extract.curate.curate_table")


def ops_metrics(tracer, near_dup, persisted: int) -> dict:
    """Dedup operator timings and counts from a traced near_dup phase:
    LSH candidate pairs (distinct) and the share of them that verified."""
    m = {f"ops.{op}_s": (p50(s["dur"] for s in
                             tracer.named(f"ops.dedup.{op}")), "s")
         for op in ("exact_hash", "minhash_lsh", "simhash")}
    frames = tracer.frames.get("ops.dedup.lsh_candidates", [])
    cands = frames[-1][1].distinct().count() if frames else 0
    verified = near_dup.digests[-1]["minhash_lsh"][0]
    m["ops.candidate_pairs"] = (cands, "pairs")
    m["ops.verify_yield"] = (verified / cands if cands else 0.0, "ratio")
    m["ops.persisted_rdds_after"] = (persisted, "count")
    return m
