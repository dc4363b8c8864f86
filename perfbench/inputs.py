"""Seeded input generation for the benchmark workloads.

Runs in the benchmark process before Spark starts, in pure Python: the
program under test only ever sees the files written here. Page rows come
from the package's deterministic page synthesizer (``pages_pandas``), whose
rows are seeded by ``doc_id``; the benchmark seed picks the ``doc_id``
ranges, so the same seed always gives the same files.

Every range starts on a multiple of 100, so each batch is made of whole
synthesizer blocks and its lineage inventory is known exactly (see
``inventory``).
"""

from __future__ import annotations

import os
import random
from collections import Counter
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from sanskrit_ocr_spark.datagen.pages import pages_pandas
from sanskrit_ocr_spark.sources.warclite import write_warc

# distinct urls per 100-row synthesizer block: rows 98-99 re-use the url
# of the block's row 0 and lose to it on warc_ts
BLOCK_DISTINCT_URLS = 98
# the synthesizer's fixed per-row outcomes (FIXTURES.md inventory); rows
# 67-68 are warped PDF layouts whose outcome depends on the drawn warp
FIXED_STATUS = {85: "EMPTY", 86: "EMPTY", 87: "EMPTY", 88: "DECODE_FAIL",
                89: "PARSE_FAIL"}

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

DOCS_ARROW = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def base_id(seed: int) -> int:
    """First doc_id of the seed's id space (a multiple of 100)."""
    return 1_000_000 + (seed % 997) * 200_000


def pages(start: int, n: int):
    """Rows ``doc_id in [start, start+n)`` with UTC-aware timestamps."""
    pdf = pages_pandas(start, n)
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    return pdf


def inventory(pdf) -> tuple[Counter, int]:
    """Expected lineage tallies of extracting ``pdf`` (every processed
    page) and the number of OK rows that survive MERGE-on-url. ``pdf`` is
    whole synthesizer blocks in order, so a row's position is its kind."""
    from sanskrit_ocr_spark.kernels.page import extract_page

    tallies: Counter = Counter()
    committed_ok = 0
    for i, html in enumerate(pdf["html"]):
        kind = i % 100
        if kind in (67, 68):
            status = extract_page(html)[3]
        else:
            status = FIXED_STATUS.get(kind, "OK")
        tallies[status] += 1
        committed_ok += status == "OK" and kind < 98
    return tallies, committed_ok


def write_pages_parquet(pdf, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=PAGES_ARROW,
                                        preserve_index=False), path)


def write_pages_warc(pdf, out_dir: str, segments: int) -> None:
    """Split ``pdf`` row-wise into ``segments`` WARC files (one read task
    each)."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(pdf)
    for s in range(segments):
        part = pdf.iloc[s * n // segments:(s + 1) * n // segments]
        write_warc(os.path.join(out_dir, f"seg-{s:03d}.warc.gz"),
                   [(u, ts.to_pydatetime().replace(tzinfo=None), h)
                    for u, ts, h in zip(part["url"], part["warc_ts"],
                                        part["html"])])


def recrawl_pages(committed, fresh, when: timedelta):
    """Re-crawl rows: the urls of ``committed`` with the html of
    ``fresh`` and a ``warc_ts`` moved ``when`` past the committed one."""
    out = fresh.reset_index(drop=True)
    out["url"] = committed["url"].to_list()
    out["warc_ts"] = (committed["warc_ts"] + when).reset_index(drop=True)
    return out


def unique_text_rows(pdf):
    """Plain-HTML rows (block rows 1-54) whose text no other row shares:
    block row 0 lends its text to rows 80-84 and its url to rows 98-99."""
    # the url carries the row's own doc_id on every row but 98-99
    kind = pdf["url"].str.rsplit("/", n=1).str[1].astype(int) % 100
    return pdf[(kind >= 1) & (kind <= 54)].reset_index(drop=True)


def near_dup_documents(pdf, seed: int):
    """``documents`` rows from the non-empty page texts, plus planted
    copies: every 20th document gets an exact duplicate and every 10th a
    one-word-edit near duplicate. Returns ``(docs, near_pairs)`` with the
    pairs as ``(original_id, planted_id)``."""
    rng = random.Random(seed)
    texts = [t for t in pdf["text"] if t and len(t.split()) >= 12]
    rows, near = [], []
    for i, text in enumerate(texts):
        rows.append((i, text))
    nxt = len(rows)
    for i, text in enumerate(texts):
        if i % 20 == 0:
            rows.append((nxt, text))
            nxt += 1
        if i % 10 == 5:
            words = text.split(" ")
            j = rng.randrange(1, len(words) - 1)
            words[j] = words[j] + "क"
            rows.append((nxt, " ".join(words)))
            near.append((i, nxt))
            nxt += 1
    docs = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["sa"] * len(rows), pa.string()),
        "source": pa.array(["crawl"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }, schema=DOCS_ARROW)
    return docs, near
