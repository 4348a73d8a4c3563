"""Output checks against pure-Python models, run outside the timed region.

Crawl: the engine's collected outputs are compared with ``refsem.crawler``
run over the same generated rows (the same comparisons the crawl-equality
tests make). Mailer: every sent batch is compared with a Python model of
``plans.mailer.next_batch`` + ``send_groups``.

Every check returns a list of mismatch descriptions; empty means correct.
"""

from __future__ import annotations

import bisect

from companycatalogcrawlerparser_spark.refsem import crawler as OC
from companycatalogcrawlerparser_spark.refsem.predicates import finalize_emails
from companycatalogcrawlerparser_spark.refsem.strings import canonicalize_url

CRAWL_OUTPUTS = ("trace", "email_pairs", "emails", "company_email", "flags", "url_seen")


def _norm_trace(entries) -> dict:
    """company_id -> [(priority, url, action)] in (priority, seq) order —
    the per-company fetch order the crawl pins (raw seq values are not)."""
    by_company: dict = {}
    for cid, prio, seq, url, action in entries:
        by_company.setdefault(cid, []).append((prio, seq, url, action))
    return {
        cid: [(p, u, a) for p, _s, u, a in sorted(v, key=lambda t: (t[0], t[1]))]
        for cid, v in by_company.items()
    }


class CrawlExpectation:
    """Oracle crawl of one input set, reduced to the compared shapes."""

    def __init__(self, pages_rows: list, seeds_rows: list):
        corpus = {
            p["url"]: OC.PageRec(
                html=p["html"].decode("utf-8") if p["html"] else None,
                status=p["status"],
                location=p["redirect_to"],
            )
            for p in pages_rows
        }
        res = OC.crawl(corpus, seeds_rows)
        self.trace = _norm_trace(res.trace)
        self.email_pairs = set(finalize_emails(res.email_bag))
        emails, links = OC.dedup_emails_global(finalize_emails(res.email_bag))
        self.emails = set(emails)
        id2email = {v: k for k, v in emails.items()}
        self.links = {(cid, id2email[eid]) for cid, eid in links}
        self.flags = res.flags
        self.crawled = {cid for cid, *_ in res.trace}
        seen = {("G", canonicalize_url(u)) for u in res.seen_seeds}
        for cid, urls in res.seen_extractor.items():
            seen |= {(str(cid), canonicalize_url(u)) for u in urls}
        self.url_seen = seen
        self.pages_fetched = sum(1 for e in res.trace if e[4] == "fetched")
        self.urls_dequeued = len(res.trace)

    def compare(self, got: dict) -> list:
        """``got``: output name -> list of Row-like mappings (collected)."""
        bad = []
        trace = _norm_trace(
            (r["company_id"], r["priority"], r["seq"], r["url"], r["action"])
            for r in got["trace"]
        )
        if trace != self.trace:
            diff = sorted(c for c in set(trace) | set(self.trace) if trace.get(c) != self.trace.get(c))
            bad.append(f"trace differs for {len(diff)} companies (first {diff[:3]})")
        pairs = {(r["company_id"], r["email"]) for r in got["email_pairs"]}
        if pairs != self.email_pairs:
            bad.append(
                f"email pairs: {len(self.email_pairs - pairs)} missing, "
                f"{len(pairs - self.email_pairs)} extra"
            )
        texts = [r["email"] for r in got["emails"]]
        if len(texts) != len(set(texts)):
            bad.append("emails table is not unique on text")
        if set(texts) != self.emails:
            bad.append(
                f"K5 emails: {len(self.emails - set(texts))} missing, "
                f"{len(set(texts) - self.emails)} extra"
            )
        id2email = {r["email_id"]: r["email"] for r in got["emails"]}
        links = {(r["company_id"], id2email.get(r["email_id"])) for r in got["company_email"]}
        if links != self.links:
            bad.append("company_email junction differs")
        flags = {
            r["company_id"]: (r["bad_url"], r["email_processed"], r["email_finded"])
            for r in got["flags"]
        }
        wrong = [c for c, f in flags.items() if self.flags.get(c) != f]
        if wrong or not self.crawled <= set(flags):
            bad.append(f"flags differ for {len(wrong)} companies")
        seen = {(r["scope"], r["canonical_url"]) for r in got["url_seen"]}
        if seen != self.url_seen:
            bad.append(
                f"url_seen: {len(self.url_seen - seen)} missing, "
                f"{len(seen - self.url_seen)} extra"
            )
        return bad


def send_address(email: str) -> str:
    """X12 address fixups, as ``functions.emails.mailer_fixups`` defines them."""
    if email.startswith("nfo@"):
        return email.replace("nfo@", "info@")
    return email.replace("%40", "@")


class MailerModel:
    """next_batch: keep the minimum-id row per email text, then rows with
    id above the watermark that are not bad-flagged, first ``batch_size`` by
    id; send_groups: the first ``take`` rows in ``chunk_size`` chunks."""

    def __init__(self, rows, batch_size: int, take: int, chunk_size: int):
        """``rows``: (email_id, email, bad_ignore_email) tuples."""
        first: dict = {}
        for email_id, email, bad in rows:
            cur = first.get(email)
            if cur is None or email_id < cur[0]:
                first[email] = (email_id, bad)
        eligible = sorted((email_id, email) for email, (email_id, bad) in first.items() if not bad)
        self._ids = [i for i, _ in eligible]
        self._eligible = eligible
        self.batch_size = batch_size
        self.take = take
        self.chunk_size = chunk_size

    def batch(self, watermark: int) -> list:
        k = bisect.bisect_right(self._ids, watermark)
        return [
            (eid, email, send_address(email))
            for eid, email in self._eligible[k : k + self.batch_size]
        ]

    def sent(self, watermark: int) -> list:
        return [
            (eid, email, addr, n // self.chunk_size, n % self.chunk_size)
            for n, (eid, email, addr) in enumerate(self.batch(watermark)[: self.take])
        ]

    def compare_sent(self, watermark: int, got: list) -> list:
        rows = sorted(
            (r["email_id"], r["email"], r["send_address"], r["chunk_id"], r["slot"]) for r in got
        )
        want = self.sent(watermark)
        if rows == want:
            return []
        return [
            f"batch after watermark {watermark}: {len(set(want) - set(rows))} rows missing, "
            f"{len(set(rows) - set(want))} extra"
        ]

    def compare_batch(self, watermark: int, got: list) -> list:
        rows = sorted((r["email_id"], r["email"], r["send_address"]) for r in got)
        if rows == self.batch(watermark):
            return []
        return [f"full next_batch after watermark {watermark} differs from the model"]
