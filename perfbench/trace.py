"""Span tracing for the traced benchmark run.

The tracer wraps the public functions of each layer from the outside (the
package is never edited): every call becomes a span with its name, layer,
start, end, parent span and the Spark jobs it launched. Jobs are counted
through a job group that the wrapper sets for the duration of the call
and reads back from ``statusTracker`` when the run ends; a span's own
jobs are those of its group, its total adds its children's.

Spans live in memory and are written out as JSON lines by ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"

# (module, attribute, layer): module-level functions, patched where their
# callers look them up (``job`` and ``ingest`` import ``extract_pages`` by
# name, so their copies are wrapped too)
FUNCTIONS = [
    ("sanskrit_ocr_spark.extract.job", "run_extraction", "extract.job"),
    ("sanskrit_ocr_spark.extract.job", "extract_pages", "extract.pipeline"),
    ("sanskrit_ocr_spark.extract.job", "lineage_rows", "extract.pipeline"),
    ("sanskrit_ocr_spark.streaming.ingest", "extract_pages",
     "extract.pipeline"),
    ("sanskrit_ocr_spark.streaming.ingest", "lineage_rows",
     "extract.pipeline"),
    ("sanskrit_ocr_spark.streaming.ingest", "start_ingest",
     "streaming.ingest"),
    ("sanskrit_ocr_spark.sources.warclite", "read_warc", "sources.warclite"),
    ("sanskrit_ocr_spark.sources.warclite", "write_wet", "sources.warclite"),
    ("sanskrit_ocr_spark.extract.curate", "curate_table", "extract.curate"),
    ("sanskrit_ocr_spark.extract.wet", "export_wet_incremental",
     "extract.wet"),
    ("sanskrit_ocr_spark.ops.dedup", "dedup_exact_hash", "ops.dedup"),
    ("sanskrit_ocr_spark.ops.dedup", "dedup_minhash_lsh", "ops.dedup"),
    ("sanskrit_ocr_spark.ops.dedup", "dedup_simhash", "ops.dedup"),
    ("sanskrit_ocr_spark.ops.dedup", "lsh_candidates", "ops.dedup"),
]

ICELITE_METHODS = ["merge_on_key", "merge_upsert_mor", "append",
                   "delete_keys", "commit_meta", "read", "read_changes"]

# spans whose return value is kept: summary dicts go into the span record,
# DataFrames into ``Tracer.frames`` (never dumped)
KEEP_RESULT = {"extract.curate.curate_table",
               "extract.wet.export_wet_incremental"}
KEEP_FRAME = {"ops.dedup.lsh_candidates", "tables.icelite.read_changes"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.root: dict | None = None
        self.frames: dict[str, list[tuple[dict, object]]] = {}

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> dict | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a callback thread (streaming foreachBatch) nests under whatever
        # the main thread is running at the time
        return self._main_stack[-1] if self._main_stack else self.root

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        with self._lock:
            sid = next(self._ids)
        parent = self._parent()
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-span-{sid}", **attrs}
        stack = self._stack()
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, rec["group"])
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def timed_root(self):
        """The span around the timed phase; every other span nests in it."""
        with self.span("timed", "run") as rec:
            self.root = rec
            yield rec

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if name in KEEP_RESULT:
                    rec["result"] = out
                elif name in KEEP_FRAME:
                    tracer.frames.setdefault(name, []).append((rec, out))
                return out
        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer in FUNCTIONS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, f"{layer}.{attr}", layer))
        from sanskrit_ocr_spark.tables.icelite import IceliteTable

        for attr in ICELITE_METHODS:
            fn = getattr(IceliteTable, attr)
            self._patched.append((IceliteTable, attr, fn))
            setattr(IceliteTable, attr,
                    self._wrap(fn, f"tables.icelite.{attr}",
                               "tables.icelite"))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    # -- results -----------------------------------------------------------
    def finish(self) -> None:
        """Resolve job counts (own and total) and self times."""
        tracker = self.sc.statusTracker()
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            s["own_jobs"] = len(tracker.getJobIdsForGroup(s["group"]))
            s["dur"] = s["end"] - s["start"]
            kids.setdefault(s["parent"], []).append(s)

        def total_jobs(s):
            return s["own_jobs"] + sum(total_jobs(c)
                                       for c in kids.get(s["id"], []))

        for s in self.spans:
            s["jobs"] = total_jobs(s)
            s["self"] = s["dur"] - covered(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                s["start"], s["end"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def parent_name(self, span: dict) -> str | None:
        for s in self.spans:
            if s["id"] == span["parent"]:
                return s["name"]
        return None

    def layer_self(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s["layer"] != "run":
                out[s["layer"]] = out.get(s["layer"], 0.0) + s["self"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, sort_keys=True) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
