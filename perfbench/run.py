"""Crawl-pipeline benchmark.

    python3 perfbench/run.py --workload crawl_backfill --seed 1 \
        --seconds 4 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` before
Spark starts; the timed phase runs a fixed number of units of the
workload in a closed loop; outputs are checked afterwards. The last line
of standard output is one JSON object ``{correct, attempted, failed,
metrics}``: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced repeat of the timed phase. A summary
of the run (unit counts, failed checks, warm-up pass times, box drift)
goes to standard error.

Everything the run writes stays under ``.perfbench/`` in the repository
root; the working tables are deleted at exit, the span dumps of traced
runs are kept under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOTS = 4  # local[N]; capped at the machine's cores
SHUFFLE_PARTITIONS = 8


class Run:
    """Op accounting for one benchmark run: an op fails if it raises or
    fails its output check."""

    def __init__(self, work: str, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.op_times: list[tuple[str, float]] = []
        self.notes: dict = {}  # extra facts for the summary line
        self.tracer = None

    def op(self, name, fn, check=None):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # a failed op is counted, the run goes on
            self.failed += 1
            self.problems.append(f"{name} raised {e!r}"[:300])
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.op_times.append((name, round(dt, 3)))
        if check is not None and not check(res):
            self.failed += 1
            self.problems.append(f"{name} output check failed: {res}")
        return res, dt

    def expect(self, what: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"check failed: {what}"
                                 + (f" ({detail})" if detail else ""))

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer)


def cal_loop_per_s(n: int = 2_000_000) -> float:
    """A fixed pure-Python loop that runs no package code: iterations per
    second tell box speed apart from program speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return n / (time.perf_counter() - t0)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def build_spark(work: str, slots: int):
    from sanskrit_ocr_spark.conf import build_spark as build

    tmp = os.path.join(work, "tmp")
    # Spark splits extraJavaOptions on whitespace unless quoted, and the
    # checkout's path may hold spaces
    quoted = '"' + tmp.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return build(app="perfbench", master=f"local[{slots}]",
                 shuffle_partitions=SHUFFLE_PARTITIONS,
                 extra={"spark.ui.enabled": "false",
                        "spark.ui.showConsoleProgress": "false",
                        "spark.driver.memory": "2g",
                        "spark.local.dir": tmp,
                        "spark.sql.warehouse.dir":
                            os.path.join(work, "warehouse"),
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={quoted}"})


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM (and
    with it every Python worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def probe_inputs(wl) -> tuple[str, str, object]:
    """Parquet and WARC copies of the workload's probe pages."""
    from perfbench import inputs

    pdf = wl.probe_pages()
    pq_path = wl.path("in", "probe.parquet")
    warc_dir = wl.path("in", "probe-warc")
    inputs.write_pages_parquet(pdf, pq_path)
    inputs.write_pages_warc(pdf, warc_dir, 4)
    return pq_path, warc_dir, pdf


def traced(spark, run, wl, tag: str):
    """Run ``wl.timed`` on fresh tables under a new tracer; returns the
    finished tracer, the phase result and the persisted RDD count right
    after the phase."""
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    tracer.install()
    run.tracer = tracer
    try:
        with tracer.timed_root():
            res = wl.timed(spark, tag)
    finally:
        tracer.uninstall()
        run.tracer = None
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    tracer.finish()
    return tracer, res, persisted


def traced_pass(spark, run, wl, probes, slots, untraced_s: float) -> dict:
    """Per-layer metrics: repeat prepare + timed phase on fresh tables
    with the tracer on, then run the layer probes the workload does not
    cover itself (streaming ingest, dedup operators, and the isolated
    kernel / UDF-stage / WARC-reader rates). The tracing overhead is the
    traced phase against the untraced one before it."""
    from pyspark.sql import functions as F

    from perfbench import layers
    from sanskrit_ocr_spark.extract.pipeline import extract_pages
    from sanskrit_ocr_spark.sources.warclite import read_warc

    wl.prepare(spark, "b")
    commits0, files0 = layers.table_files(wl.root("b"))
    main = traced(spark, run, wl, "b")
    tracer, res, _ = main
    commits1, files1 = layers.table_files(wl.root("b"))
    m = layers.span_metrics(tracer)
    m.update(layers.table_metrics(spark, wl.table_root("b")))
    m["icelite.commits"] = (commits1 - commits0, "count")
    m["icelite.files_written"] = (files1 - files0, "count")
    m["curate.delta_rows"] = (layers.curate_delta_rows(tracer), "rows")
    wl.check(spark, "b")
    m["trace.timed_s"] = (res["wall"], "s")
    m["trace.overhead_frac"] = (res["wall"] / untraced_s - 1, "ratio")
    dumps = [(wl.name, tracer)]

    for p in probes["layers"]:
        if p is wl:
            t, _, persisted = main
        else:
            p.warm(spark)
            t, _, persisted = traced(spark, run, p, "p")
            p.check(spark, "p")
            dumps.append((p.name, t))
        if p.name == "stream_landing":
            m.update(layers.streaming_metrics(p.query))
        else:
            m.update(layers.ops_metrics(t, p, persisted))
        layer = p.spans_layer
        m[f"self.{layer}_s"] = (t.layer_self().get(layer, 0.0), "s")

    pq_path, warc_dir, pdf = probes["pages"]
    kernel = layers.kernel_rate(pdf.iloc[:1000])
    udf = layers.noop_rate(
        lambda: extract_pages(spark.read.parquet(pq_path)), len(pdf))
    m["kernels.docs_per_core_s"] = (kernel, "docs/s")
    m["pipeline.udf_docs_per_s"] = (udf, "docs/s")
    m["pipeline.frac_of_kernel_ceiling"] = (udf / (kernel * slots), "ratio")
    m["warclite.records_per_s"] = (layers.noop_rate(
        lambda: read_warc(spark, warc_dir)
        .filter(F.col("url").isNotNull()), len(pdf)), "records/s")

    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    for name, t in dumps:
        t.dump(os.path.join(out, f"{wl.name}-seed{run.seed}-{name}.jsonl"))
    return m


def bench(args, work: str) -> tuple[dict, dict]:
    from perfbench.workloads import WORKLOADS, NearDup, StreamLanding

    slots = min(SLOTS, os.cpu_count() or 1)
    run = Run(work, args.seed, args.seconds)
    wl = WORKLOADS[args.workload](run)
    wl.generate()
    probes = None
    if args.trace:
        # the layer probes' inputs are generated up front as well
        probes = {"pages": probe_inputs(wl), "layers": []}
        for cls in (StreamLanding, NearDup):
            p = wl if isinstance(wl, cls) else cls(run, probe=True)
            if p is not wl:
                p.generate()
            probes["layers"].append(p)

    t0 = time.perf_counter()
    spark = build_spark(work, slots)
    try:
        spark.range(1).count()
        warm = wl.warm(spark)
        wl.prepare(spark, "a")
        setup_s = time.perf_counter() - t0

        cal0 = cal_loop_per_s()
        steal0, total0 = cpu_times()
        res = wl.timed(spark, "a")
        steal1, total1 = cpu_times()
        cal1 = cal_loop_per_s()
        wl.check(spark, "a")
        box = {"box.cal_loop_per_s": ((cal0 + cal1) / 2, "1/s"),
               "box.cal_after_over_before": (cal1 / cal0, "ratio"),
               "box.steal_frac": ((steal1 - steal0)
                                  / max(1, total1 - total0), "ratio")}
        if args.trace:
            metrics = traced_pass(spark, run, wl, probes, slots, res["wall"])
            metrics.update(box)
            metrics["units.cycles"] = (len(res["cycles"]), "count")
            metrics["units.batches"] = (len(res["batches"]), "count")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (res["docs"] / res["wall"], "docs/s"),
                "cycle_p50_s": (statistics.median(res["cycles"]), "s"),
                "batch_p50_s": (statistics.median(res["batches"]), "s"),
            }
    finally:
        stop_spark(spark)
    summary = {"workload": args.workload, "seed": args.seed,
               "slots": slots, "setup_s": setup_s,
               "timed_wall_s": res["wall"],
               "units": {"cycles": len(res["cycles"]),
                         "batches": len(res["batches"]),
                         "docs": res["docs"]},
               "ops_attempted": run.attempted, "ops_failed": run.failed,
               "problems": run.problems, "op_s": run.op_times,
               "warm_pass_s": [round(t, 3) for t in warm], **run.notes,
               **{k: v[0] for k, v in box.items()}}
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, summary


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "sanskrit_ocr_spark")):
        print("perfbench: the sanskrit_ocr_spark package is not in "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-",
                            dir=os.path.join(ROOT, ".perfbench"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temp file inside the checkout, and let Spark's Python
    # workers import the package from it
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        result, summary = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
