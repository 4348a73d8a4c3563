"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 perfbench/selftest.py

Checks that inputs are a pure function of the seed, that different seeds
give disjoint webs, that a planted output defect is counted as a failed
operation, and that the metric names the benchmark prints are exactly the
ones BENCHMARK.json declares.
"""

from __future__ import annotations

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
os.environ.setdefault("SPARK_GRAFT_HOT_PCT", "50")
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

N = 60


def perfect_outputs(exp: oracle.CrawlExpectation) -> dict:
    """Engine-shaped output rows that match ``exp`` exactly."""
    ids = {e: k + 1 for k, e in enumerate(sorted(exp.emails))}
    return {
        "trace": [
            {"company_id": cid, "priority": p, "seq": k, "url": u, "action": a}
            for cid, entries in exp.trace.items()
            for k, (p, u, a) in enumerate(entries)
        ],
        "email_pairs": [{"company_id": c, "email": e} for c, e in exp.email_pairs],
        "emails": [{"email_id": i, "email": e} for e, i in ids.items()],
        "company_email": [{"company_id": c, "email_id": ids[e]} for c, e in exp.links],
        "flags": [
            {"company_id": c, "bad_url": f[0], "email_processed": f[1], "email_finded": f[2]}
            for c, f in exp.flags.items()
            if c in exp.crawled
        ],
        "url_seen": [{"scope": s, "canonical_url": u} for s, u in exp.url_seen],
    }


class InputTests(unittest.TestCase):
    def test_same_seed_same_digest(self):
        a = inputs.crawl_inputs(7, N, 0)
        b = inputs.crawl_inputs(7, N, 0)
        self.assertEqual(inputs.digest(*a), inputs.digest(*b))
        e1 = inputs.email_rows(7, 500, 0.1, 0.05, 0.02)
        e2 = inputs.email_rows(7, 500, 0.1, 0.05, 0.02)
        self.assertEqual(inputs.digest(e1), inputs.digest(e2))
        self.assertNotEqual(inputs.digest(e1), inputs.digest(inputs.email_rows(8, 500, 0.1, 0.05, 0.02)))

    def test_different_seeds_disjoint_webs(self):
        pages1, seeds1 = inputs.crawl_inputs(1, N, 0)
        pages2, seeds2 = inputs.crawl_inputs(2, N, 0)
        self.assertFalse({p["url"] for p in pages1} & {p["url"] for p in pages2})
        self.assertFalse({s["company_id"] for s in seeds1} & {s["company_id"] for s in seeds2})
        self.assertNotEqual(inputs.digest(pages1, seeds1), inputs.digest(pages2, seeds2))

    def test_extra_seeds_duplicate_a_company_in_range(self):
        pages, seeds = inputs.crawl_inputs(3, N, 0)
        first = seeds[0]["site_url"]
        self.assertEqual(sum(s["site_url"] == first for s in seeds), 3)


class PlantedDefectTests(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.exp = oracle.CrawlExpectation(*inputs.crawl_inputs(5, N, 0))

    def test_perfect_outputs_pass(self):
        tally = run.Tally()
        self.assertTrue(tally.record(self.exp.compare(perfect_outputs(self.exp))))
        self.assertEqual((tally.attempted, tally.failed), (1, 0))

    def test_dropped_email_is_a_failed_operation(self):
        got = perfect_outputs(self.exp)
        got["email_pairs"] = got["email_pairs"][1:]
        tally = run.Tally()
        tally.record(self.exp.compare(perfect_outputs(self.exp)))
        tally.record(self.exp.compare(got))
        self.assertEqual((tally.attempted, tally.failed), (2, 1))
        line = json.loads(run.result_line(tally, {k: 1.0 for k in run.END_TO_END}, run.END_TO_END))
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (False, 2, 1))

    def test_dropped_mailer_row_is_a_failed_operation(self):
        rows = inputs.email_rows(5, 2000, 0.1, 0.05, 0.02)
        model = oracle.MailerModel(
            [(r["email_id"], r["email"], r["bad_ignore_email"]) for r in rows], 1000, 60, 10
        )
        sent = [
            {"email_id": i, "email": e, "send_address": a, "chunk_id": c, "slot": s}
            for i, e, a, c, s in model.sent(100)
        ]
        tally = run.Tally()
        self.assertTrue(tally.record(model.compare_sent(100, sent)))
        self.assertFalse(tally.record(model.compare_sent(100, sent[1:])))
        self.assertEqual((tally.attempted, tally.failed), (2, 1))

    def test_mailer_model_keeps_min_id_per_text(self):
        rows = [
            (7, "dup@x.ru", False),
            (2, "dup@x.ru", False),
            (3, "bad@x.ru", True),
            (4, "nfo@x.ru", False),
        ]
        model = oracle.MailerModel(rows, 10, 10, 10)
        self.assertEqual(model.batch(0), [(2, "dup@x.ru", "dup@x.ru"), (4, "nfo@x.ru", "info@x.ru")])
        self.assertEqual(model.batch(2), [(4, "nfo@x.ru", "info@x.ru")])


class MetricNameTests(unittest.TestCase):
    def test_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(per_layer, run.per_layer_units())
        self.assertEqual({w["name"] for w in spec["workloads"]} - set(run.WORKLOADS), set())


if __name__ == "__main__":
    unittest.main()
