"""Seeded inputs for the benchmark workloads.

Every seed maps to its own disjoint company-index range of the synthetic
web in ``sources.webgen``, so each seed is a fresh web drawn from the same
distribution. Pages and seeds are generated on the driver from
``generate_company_pages``/``page_row`` and written with pyarrow, so the
engine (reading the parquet) and the pure-Python oracle (reading the same
rows) see byte-identical inputs.

``webgen`` reads ``SPARK_GRAFT_HOT_PCT`` at import time: the caller sets it
before importing this module.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from companycatalogcrawlerparser_spark.sources import webgen

# Company indices live in [INDEX_BASE, INDEX_BASE + SEED_SPACE * STRIDE):
# every index has the same digit count, so URL lengths (and with them the
# F11 80-character redirect rule) are distributed identically for every
# seed. Seeds that differ modulo SEED_SPACE get disjoint ranges.
INDEX_BASE = 100_000_000
STRIDE = 100_000
SEED_SPACE = 1000

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("status", pa.int32()),
        ("redirect_to", pa.string()),
    ]
)
SEEDS_ARROW = pa.schema(
    [
        ("company_id", pa.int64()),
        ("site_url", pa.string()),
        ("bad_url", pa.bool_()),
        ("email_processed", pa.bool_()),
        ("email_finded", pa.bool_()),
    ]
)
EMAILS_ARROW = pa.schema(
    [
        ("email_id", pa.int64()),
        ("email", pa.string()),
        ("bad_ignore_email", pa.bool_()),
    ]
)


def company_range(seed: int, n_companies: int) -> range:
    if not 0 < n_companies <= STRIDE - 16:
        raise ValueError(f"n_companies must be in (0, {STRIDE - 16}]")
    lo = INDEX_BASE + (seed % SEED_SPACE) * STRIDE
    return range(lo, lo + n_companies)


def _f9_extra_seeds(lo: int, hi: int) -> list:
    """``webgen.extra_bad_seeds`` (null / blank / social / flagged / duplicate
    / blacklisted site_urls), re-anchored on this range's first company so
    the duplicate rows duplicate a company that is in the corpus."""
    home0 = webgen.company_home(0)
    out = []
    for row in webgen.extra_bad_seeds(hi):
        row = dict(row)
        if row["site_url"] == home0:
            row["site_url"] = webgen.company_home(lo)
        out.append(row)
    return out


def crawl_inputs(seed: int, n_companies: int, filler_kb: int):
    """(pages_rows, seeds_rows) for one seed: pages of the seed's company
    range, its seeds plus the F9-prunable extras."""
    rng = company_range(seed, n_companies)
    pages, seeds, seen = [], [], set()
    for i in rng:
        ps, seed_row = webgen.generate_company_pages(i, filler_kb)
        for p in ps:
            if p["url"] not in seen:
                seen.add(p["url"])
                pages.append(webgen.page_row(p, with_text=False))
        seeds.append(seed_row)
    seeds.extend(_f9_extra_seeds(rng.start, rng.stop))
    return pages, seeds


def email_rows(seed: int, n_rows: int, dup_frac: float, bad_frac: float, fixup_frac: float):
    """The mailer's input table (email_id, email, bad_ignore_email). A
    ``dup_frac`` share of rows repeats an earlier address under a later id,
    a ``bad_frac`` share is bad-flagged, and a ``fixup_frac`` share needs
    the mailer's address fixups (``%40`` or ``nfo@``); with all three at 0
    the table is unique on email and never bad-flagged, as ``finalize()``
    writes it. Rows are shuffled so the scan order is not the id order."""
    r = random.Random(f"emails|{seed}")
    tag = seed % SEED_SPACE
    texts: list = []
    rows = []
    for email_id in range(1, n_rows + 1):
        if texts and r.random() < dup_frac:
            text = texts[r.randrange(len(texts))]
        else:
            k = len(texts)
            x = r.random()
            if x < fixup_frac / 2:
                text = f"user{tag}.{k}%40firm{k % 997}.example.ru"
            elif x < fixup_frac:
                text = f"nfo@firm{tag}x{k}.example.com"
            else:
                text = f"user{tag}.{k}@firm{k % 997}.example.ru"
            texts.append(text)
        rows.append({"email_id": email_id, "email": text, "bad_ignore_email": r.random() < bad_frac})
    r.shuffle(rows)
    return rows


def write_parquet(rows: list, schema: pa.Schema, path: str, n_files: int) -> None:
    """``rows`` as ``n_files`` parquet files under the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(rows)))
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step : (k + 1) * step]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def digest(*tables: list) -> str:
    """sha256 over every row of every table, in row order."""
    h = hashlib.sha256()
    for rows in tables:
        for row in rows:
            for key in sorted(row):
                v = row[key]
                h.update(key.encode())
                h.update(v if isinstance(v, bytes) else repr(v).encode())
            h.update(b"\n")
        h.update(b"\x00")
    return h.hexdigest()
