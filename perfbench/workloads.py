"""The four benchmark workloads.

Each workload generates its input files from the seed (``generate``, pure
Python, before Spark starts), warms the session (``warm``), builds its
pre-built state (``prepare``), runs a fixed number of units in a closed
loop (``timed``: the next unit starts only when the previous one has
committed) and checks the program's outputs (``check``). ``prepare``,
``timed`` and ``check`` take a ``tag`` so the traced run can repeat them
on fresh roots.

Warm-up passes are full-size repeats of the timed phase on throwaway
tables: after small warm-up inputs, the first full-size pass still ran
1.6x slower than the next on a 4-core machine, while one full-size pass
leaves the next within about 10% of the steady pass time.

Package functions are always looked up on their module at call time, so
the tracer's wrappers see every call.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

import pandas as pd

from perfbench import inputs

# nominal sizes; unit counts scale with --seconds (``units``) and never
# depend on measured speed
BACKFILL_BATCHES = 2
BACKFILL_BATCH = 1500
BACKFILL_SEGMENTS = 4
TOPUP_BASE = 2000
TOPUP_BATCH = 200
RECRAWL_BATCH = 200
STREAM_FILES = 8
STREAM_FILE_ROWS = 150
STREAM_FILES_PER_TRIGGER = 2
# the warm-up of topup_recrawl runs one full-size cycle on a side table
# of this many pages
TOPUP_WARM_BASE = 500
NEARDUP_PAGES = 3000
NEARDUP_DF_CAP = 100
MINHASH_RECALL = 0.9
SIMHASH_RECALL = 0.5


def units(seconds: int, per_6s: int, least: int = 1) -> int:
    """Unit count for a ``seconds``-long phase (``per_6s`` at 6 s)."""
    return max(least, round(per_6s * seconds / 6))


def digest(df) -> tuple[int, int]:
    """Row count and an order-free hash of every column of ``df`` (one
    job that forces every output column)."""
    from pyspark.sql import functions as F

    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.bit_xor(F.xxhash64(F.to_json(F.struct(*df.columns))))
                  .alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def levelled_passes(fn, least: int = 2, most: int = 3,
                    tol: float = 0.25) -> list[float]:
    """Run ``fn`` until two successive pass times agree within ``tol``."""
    times: list[float] = []
    while len(times) < most:
        t0 = time.perf_counter()
        fn(len(times))
        times.append(time.perf_counter() - t0)
        if len(times) >= least and (
                len(times) == 1 or abs(times[-1] / times[-2] - 1) <= tol):
            break
    return times


class Workload:
    name = ""

    def __init__(self, run, probe: bool = False):
        """``probe=True`` shrinks the workload to a layer probe of another
        workload's traced run: small inputs, a single warm-up pass."""
        self.run = run
        self.probe = probe
        self.work = os.path.join(run.work, self.name)
        self.seed = run.seed
        self.base = inputs.base_id(run.seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def root(self, tag: str) -> str:
        return self.path("tables", tag)

    def table_root(self, tag: str) -> str:
        """Root of the tables a finished timed phase leaves behind."""
        return self.root(tag)

    def warm_passes(self, fn) -> list[float]:
        return levelled_passes(fn, least=1, most=1) if self.probe \
            else levelled_passes(fn)

    def generate(self) -> None:
        raise NotImplementedError

    def warm(self, spark) -> list[float]:
        """Warm-up passes; returns their times."""
        raise NotImplementedError

    def prepare(self, spark, tag: str) -> None:
        pass

    def timed(self, spark, tag: str) -> dict:
        raise NotImplementedError

    def check(self, spark, tag: str) -> None:
        raise NotImplementedError

    def probe_pages(self):
        """The workload's own pages, for the traced run's kernel, UDF-stage
        and WARC-reader probes."""
        raise NotImplementedError


def _extract(spark, pages, root, **kw):
    from sanskrit_ocr_spark.extract import job

    return job.run_extraction(spark, pages, root, **kw)


def _curate(spark, root):
    from sanskrit_ocr_spark.extract import curate, job

    return curate.curate_table(spark, os.path.join(root, "corpus"),
                               job.extracted_table(spark, root))


def _export(spark, root):
    from sanskrit_ocr_spark.extract import job, wet

    return wet.export_wet_incremental(spark, os.path.join(root, "wet"),
                                      job.extracted_table(spark, root))


def _read_warc(spark, path):
    from pyspark.sql import functions as F

    from sanskrit_ocr_spark.sources import warclite

    return warclite.read_warc(spark, path).filter(F.col("url").isNotNull())


def unchecked(name, fn, check):
    """A ``step`` for warm-up passes: runs ``fn`` uncounted, unchecked."""
    t0 = time.perf_counter()
    return fn(), time.perf_counter() - t0


def _tallies(spark, root) -> dict:
    from pyspark.sql import functions as F

    from sanskrit_ocr_spark.extract.job import lineage_table

    return {r["fail_code"]: int(r["n"]) for r in
            lineage_table(spark, root).read().groupBy("fail_code")
            .agg(F.sum("fail_count").alias("n")).collect()}


class CrawlBackfill(Workload):
    """Backfill cycles: a few large WARC batches into a fresh table, then
    one curation and one WET export. Every cycle repeats the same work,
    so the run reports medians over cycles."""

    name = "crawl_backfill"

    def generate(self):
        self.n_cycles = units(self.run.seconds, 3)
        self.batches = []
        for i in range(BACKFILL_BATCHES):
            pdf = inputs.pages(self.base + i * BACKFILL_BATCH,
                               BACKFILL_BATCH)
            d = self.path("in", f"batch-{i}")
            inputs.write_pages_warc(pdf, d, BACKFILL_SEGMENTS)
            self.batches.append((d, pdf))
        self.tallies, self.committed_ok = inputs.inventory(
            pd.concat([pdf for _, pdf in self.batches]))

    def probe_pages(self):
        return self.batches[0][1]

    def _cycle(self, spark, root, step) -> list[float]:
        """One backfill into ``root``; ``step(name, fn, check)`` runs each
        op and returns ``(result, seconds)``. Returns the batch times."""
        expect = BACKFILL_BATCH * inputs.BLOCK_DISTINCT_URLS // 100
        batch_s = []
        for d, _ in self.batches:
            _, dt = step("run_extraction",
                         lambda d=d: _extract(spark, _read_warc(spark, d),
                                              root),
                         lambda r: r.get("inserted") == expect)
            batch_s.append(dt)
        step("curate_table", lambda: _curate(spark, root), None)
        self.exported, _ = step("export_wet_incremental",
                                lambda: _export(spark, root), None)
        return batch_s

    def warm(self, spark):
        return self.warm_passes(lambda k: self._cycle(
            spark, self.path("warm", str(k)), unchecked))

    def timed(self, spark, tag):
        cycles, batches = [], []
        t0 = time.perf_counter()
        for c in range(self.n_cycles):
            c0 = time.perf_counter()
            batches += self._cycle(spark, os.path.join(self.root(tag), str(c)),
                                   self.run.op)
            cycles.append(time.perf_counter() - c0)
        wall = time.perf_counter() - t0
        return {"wall": wall,
                "docs": self.n_cycles * BACKFILL_BATCHES * BACKFILL_BATCH,
                "cycles": cycles, "batches": batches}

    def table_root(self, tag):
        return os.path.join(self.root(tag), str(self.n_cycles - 1))

    def check(self, spark, tag):
        from pyspark.sql import functions as F

        from sanskrit_ocr_spark.extract.job import extracted_table
        from sanskrit_ocr_spark.kernels.page import extract_page

        # the tables of the last cycle (every cycle repeats the same work,
        # and each op already checked its own result)
        run, root = self.run, self.table_root(tag)
        ext = extracted_table(spark, root).read()
        r = ext.agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct("url").alias("u"),
                    F.sum((F.col("status") == "OK").cast("int"))
                    .alias("ok")).collect()[0]
        urls = set()
        for _, pdf in self.batches:
            urls.update(pdf["url"])
        run.expect("committed rows equal distinct input urls",
                   r["n"] == r["u"] == len(urls))
        tallies = _tallies(spark, root)
        run.expect("lineage tallies match the datagen inventory",
                   tallies == dict(self.tallies), tallies)
        # a fixed sample of batch 0: every 30th row from row 7 (block rows
        # ending in 7, so never the duplicate-url rows 98-99)
        pdf = self.batches[0][1]
        sample = pdf.iloc[[i for i in range(len(pdf)) if i % 30 == 7]]
        got = {row["url"]: row for row in
               ext.filter(F.col("url").isin(list(sample["url"])))
               .select("url", "text", "sentences", "n_graphemes", "status")
               .collect()}
        same = True
        for url, html in zip(sample["url"], sample["html"]):
            text, spans, n, status = extract_page(html)
            row = got.get(url)
            same &= (row is not None and row["text"] == text
                     and row["status"] == status
                     and row["n_graphemes"] == n
                     and [(s["start"], s["end"]) for s in row["sentences"]]
                     == [tuple(s) for s in spans])
        run.expect("sampled urls are byte-identical to extract_page", same)
        records = (self.exported or {}).get("records")
        run.expect("WET records equal the OK rows",
                   records == r["ok"] == self.committed_ok,
                   (records, r["ok"]))


class TopupRecrawl(Workload):
    """Small top-up, recrawl and resubmit batches against a large table,
    each cycle followed by incremental curation and WET export."""

    name = "topup_recrawl"

    def generate(self):
        self.n_cycles = units(self.run.seconds, 1)
        self.base_pdf, self.recrawled = self._write_set(
            "main", self.base, TOPUP_BASE, self.n_cycles, TOPUP_BATCH,
            RECRAWL_BATCH)
        self._write_set("warm", self.base + 700_000, TOPUP_WARM_BASE, 1,
                        TOPUP_BATCH, RECRAWL_BATCH)

    def _write_set(self, name, start, n_base, n_cycles, n_top, n_recrawl):
        """Base pages plus per-cycle top-up and recrawl files. Each cycle
        recrawls the next slice of targets, so every url is recrawled at
        most once. Targets are plain-HTML rows whose text no other url
        shares: ``curate_table`` retracts a recrawled url's old text even
        while another url still carries it (its documented approximation),
        so a shared text would leave the corpus short of a full
        ``curate`` recompute by design."""
        base_pdf = inputs.pages(start, n_base)
        inputs.write_pages_parquet(base_pdf,
                                   self.path("in", f"{name}-base.parquet"))
        targets = inputs.unique_text_rows(base_pdf)
        if len(targets) < n_cycles * n_recrawl:
            raise ValueError("base table too small for the recrawl cycles")
        fresh = inputs.unique_text_rows(
            inputs.pages(start + 200_000, 2 * n_cycles * n_recrawl))
        recrawled = {}
        for c in range(n_cycles):
            top = inputs.pages(start + 100_000 + c * n_top, n_top)
            inputs.write_pages_parquet(
                top, self.path("in", f"{name}-top-{c}.parquet"))
            sl = slice(c * n_recrawl, (c + 1) * n_recrawl)
            rec = inputs.recrawl_pages(targets.iloc[sl], fresh.iloc[sl],
                                       timedelta(days=365, minutes=c))
            inputs.write_pages_parquet(
                rec, self.path("in", f"{name}-recrawl-{c}.parquet"))
            recrawled.update(zip(rec["url"], rec["warc_ts"]))
        return base_pdf, recrawled

    def probe_pages(self):
        return self.base_pdf.iloc[:BACKFILL_BATCH]

    def _read(self, spark, name):
        return spark.read.parquet(self.path("in", f"{name}.parquet"))

    def _base(self, spark, name, root):
        _extract(spark, self._read(spark, f"{name}-base"), root)
        _curate(spark, root)
        _export(spark, root)

    def _cycle(self, spark, name, root, c, step) -> tuple[float, float]:
        """Top-up, recrawl, idle resubmit, curate, export; ``step(name,
        fn, check)`` runs one of them and returns ``(result, seconds)``."""
        expect = TOPUP_BATCH * inputs.BLOCK_DISTINCT_URLS // 100
        t0 = time.perf_counter()
        _, top_s = step(
            "topup", lambda: _extract(
                spark, self._read(spark, f"{name}-top-{c}"), root),
            lambda r: r.get("inserted") == expect)
        step("recrawl",
             lambda: _extract(spark,
                              self._read(spark, f"{name}-recrawl-{c}"),
                              root, recrawl=True),
             lambda r: r.get("updated") == RECRAWL_BATCH)
        # the previous cycle's top-up; the first cycle resubmits the base
        # batch, which is just as fully committed
        prev = f"{name}-top-{c - 1}" if c else f"{name}-base"
        step("resubmit",
             lambda: _extract(spark, self._read(spark, prev), root),
             lambda r: r.get("inserted") == 0)
        self.curated, _ = step("curate_table", lambda: _curate(spark, root),
                               None)
        step("export_wet_incremental", lambda: _export(spark, root), None)
        return time.perf_counter() - t0, top_s

    def warm(self, spark):
        """One full-size cycle on a small side table. A single pass: each
        further one would cost as much as a timed cycle (the fixed
        per-commit cost dominates), which the run's budget cannot hold."""
        t0 = time.perf_counter()
        root = self.path("warm")
        _extract(spark, self._read(spark, "warm-base"), root)
        self._cycle(spark, "warm", root, 0, unchecked)
        return [time.perf_counter() - t0]

    def prepare(self, spark, tag):
        self._base(spark, "main", self.root(tag))

    def timed(self, spark, tag):
        root = self.root(tag)
        cycles, tops = [], []
        t0 = time.perf_counter()
        for c in range(self.n_cycles):
            cyc, top = self._cycle(spark, "main", root, c, self.run.op)
            cycles.append(cyc)
            tops.append(top)
        wall = time.perf_counter() - t0
        return {"wall": wall,
                "docs": self.n_cycles * (2 * TOPUP_BATCH + RECRAWL_BATCH),
                "cycles": cycles, "batches": tops}

    def check(self, spark, tag):
        from pyspark.sql import functions as F

        from sanskrit_ocr_spark.extract.curate import curate
        from sanskrit_ocr_spark.extract.job import extracted_table

        run, root = self.run, self.root(tag)
        ext = extracted_table(spark, root).read()
        got = {r["url"]: r["warc_ts"] for r in
               ext.filter(F.col("url").isin(list(self.recrawled)))
               .select("url", "warc_ts").collect()}
        want = {u: ts.to_pydatetime().replace(tzinfo=None)
                for u, ts in self.recrawled.items()}
        run.expect("recrawled urls carry the recrawl's warc_ts", got == want)
        full = curate(ext).count()
        total = (self.curated or {}).get("corpus_total")
        run.expect("corpus_total equals a full curate recompute",
                   total == full, (total, full))
        distinct = (TOPUP_BASE + self.n_cycles * TOPUP_BATCH) \
            * inputs.BLOCK_DISTINCT_URLS // 100
        run.expect("committed rows equal distinct input urls",
                   ext.count() == distinct)


class StreamLanding(Workload):
    """A pre-filled landing dir drained by ``start_ingest`` one
    micro-batch at a time, with incremental curation per batch."""

    name = "stream_landing"
    spans_layer = "streaming.ingest"

    def generate(self):
        import random

        rng = random.Random(self.seed)
        self.n_files = 4 if self.probe else \
            units(self.run.seconds, STREAM_FILES, least=2)
        self.landed = 0
        self.urls = set()
        prev = None
        for f in range(self.n_files):
            pdf = inputs.pages(self.base + 300_000 + f * STREAM_FILE_ROWS,
                               STREAM_FILE_ROWS)
            if prev is not None:
                # about 10% of each later file re-lands urls of the file
                # before it, with a newer crawl time
                k = STREAM_FILE_ROWS // 10
                picks = sorted(rng.sample(range(len(prev)), k))
                relanded = inputs.recrawl_pages(
                    prev.iloc[picks], pdf.iloc[-k:],
                    timedelta(days=30))
                pdf = pd.concat([pdf.iloc[:-k], relanded], ignore_index=True)
            inputs.write_pages_parquet(
                pdf, self.path("in", "landing", f"pages-{f:03d}.parquet"))
            self.landed += len(pdf)
            self.urls.update(pdf["url"])
            prev = pdf

    def probe_pages(self):
        return inputs.pages(self.base + 400_000, BACKFILL_BATCH)

    def _drain(self, spark, landing, root, per_trigger, stamps=None):
        from sanskrit_ocr_spark.streaming import ingest

        def stamp(batch_id):
            if stamps is not None:
                stamps.append(time.perf_counter())

        q = ingest.start_ingest(
            spark, landing, root, os.path.join(root, "_checkpoint"),
            max_files_per_trigger=per_trigger, available_now=True,
            curate_root=os.path.join(root, "corpus"),
            on_batch_committed=stamp)
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return q

    def warm(self, spark):
        return self.warm_passes(lambda k: self._drain(
            spark, self.path("in", "landing"), self.path("warm", str(k)),
            STREAM_FILES_PER_TRIGGER))

    def timed(self, spark, tag):
        run, root = self.run, self.root(tag)
        stamps: list[float] = []
        n_batches = -(-self.n_files // STREAM_FILES_PER_TRIGGER)
        t0 = time.perf_counter()
        self.query, _ = run.op("drain", lambda: self._drain(
            spark, self.path("in", "landing"), root,
            STREAM_FILES_PER_TRIGGER, stamps))
        wall = time.perf_counter() - t0
        # the ops are the micro-batches: the drain counted one of them, a
        # batch that never committed fails the check below
        run.attempted += n_batches - 1
        run.expect("every micro-batch committed", len(stamps) == n_batches)
        spacing = [b - a for a, b in zip([t0] + stamps, stamps)]
        return {"wall": wall, "docs": self.landed, "cycles": [wall],
                "batches": spacing or [wall]}

    def check(self, spark, tag):
        from pyspark.sql import functions as F

        from sanskrit_ocr_spark.extract.job import extracted_table, \
            lineage_table

        run, root = self.run, self.root(tag)
        r = extracted_table(spark, root).read().agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("u")).collect()[0]
        run.expect("no duplicate urls",
                   r["n"] == r["u"] == len(self.urls))
        lin = lineage_table(spark, root).read()
        processed = lin.agg(F.sum("fail_count")).collect()[0][0]
        docs = (lin.select("snapshot_id", "partition_hash", "doc_count")
                .distinct().agg(F.sum("doc_count")).collect()[0][0])
        run.expect("lineage doc_count equals the landed rows",
                   processed == docs == self.landed)


class NearDup(Workload):
    """Exact, MinHash-LSH and SimHash dedup over a documents table with
    planted duplicates."""

    name = "near_dup"
    spans_layer = "ops.dedup"

    def generate(self):
        import pyarrow.parquet as pq

        self.n_passes = 1 if self.probe else units(self.run.seconds, 2)
        self.pages_pdf = inputs.pages(
            self.base + 500_000, NEARDUP_PAGES // 3 if self.probe
            else NEARDUP_PAGES)
        docs, self.near_pairs = inputs.near_dup_documents(self.pages_pdf,
                                                          self.seed)
        self.n_docs = docs.num_rows
        self.sf = self.path("in", "nd")
        os.makedirs(self.sf, exist_ok=True)
        pq.write_table(docs, os.path.join(self.sf, "documents.parquet"))
        self.digests = []

    def probe_pages(self):
        return inputs.pages(self.base + 400_000, BACKFILL_BATCH)

    def _pass(self, spark, sf, times=None) -> dict:
        """One pass of the three operators, each forced to a digest."""
        from sanskrit_ocr_spark.ops import dedup

        ops = [("exact_hash", lambda: dedup.dedup_exact_hash(spark, sf)),
               ("minhash_lsh", lambda: dedup.dedup_minhash_lsh(
                   spark, sf, df_cap=NEARDUP_DF_CAP)),
               ("simhash", lambda: dedup.dedup_simhash(spark, sf))]
        out = {}
        for name, make in ops:
            def go(make=make, name=name):
                with self.run.span(f"ops.dedup.{name}", "ops.dedup"):
                    return digest(make())
            if times is None:
                out[name] = go()
            else:
                out[name], dt = self.run.op(name, go)
                times.setdefault(name, []).append(dt)
        return out

    def warm(self, spark):
        return self.warm_passes(
            lambda k: self.digests.append(self._pass(spark, self.sf)))

    def timed(self, spark, tag):
        times: dict[str, list[float]] = {}
        passes = []
        t0 = time.perf_counter()
        for _ in range(self.n_passes):
            p0 = time.perf_counter()
            self.digests.append(self._pass(spark, self.sf, times))
            passes.append(time.perf_counter() - p0)
        wall = time.perf_counter() - t0
        return {"wall": wall, "docs": self.n_docs * self.n_passes,
                "cycles": passes, "batches": times["minhash_lsh"]}

    def check(self, spark, tag):
        import duckdb

        from sanskrit_ocr_spark.ops import dedup

        run = self.run
        got = sorted(tuple(r) for r in
                     dedup.dedup_exact_hash(spark, self.sf).collect())
        con = duckdb.connect()
        try:
            con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.sf, 'documents.parquet')}')")
            want = sorted(tuple(r) for r in
                          con.sql(dedup.EXACT_SQL).fetchall())
        finally:
            con.close()
        run.expect("exact-hash output matches DuckDB EXACT_SQL", got == want)
        planted = set(self.near_pairs)
        mh = {(r["a_id"], r["b_id"]) for r in dedup.dedup_minhash_lsh(
            spark, self.sf, df_cap=NEARDUP_DF_CAP).collect()}
        sh = {(r["a_id"], r["b_id"])
              for r in dedup.dedup_simhash(spark, self.sf).collect()}
        dedup.release_caches()
        recall = {"minhash": len(planted & mh) / len(planted),
                  "simhash": len(planted & sh) / len(planted)}
        run.notes["near_dup_recall"] = recall
        run.expect(f"minhash finds planted near-dups at recall >= "
                   f"{MINHASH_RECALL}", recall["minhash"] >= MINHASH_RECALL)
        run.expect(f"simhash finds planted near-dups at recall >= "
                   f"{SIMHASH_RECALL}", recall["simhash"] >= SIMHASH_RECALL)
        run.expect("result hash identical across passes",
                   all(d == self.digests[0] for d in self.digests))


WORKLOADS = {w.name: w for w in (CrawlBackfill, TopupRecrawl, StreamLanding,
                                 NearDup)}

