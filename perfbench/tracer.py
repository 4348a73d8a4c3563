"""Per-layer spans for the traced run, recorded from outside the program.

Spark is lazy, so a span around a DataFrame-returning call would only time
plan construction. The tracer therefore replaces each listed entry point
(module attribute or class method) with a wrapper that calls it, forces the
result inside the span with ``localCheckpoint(eager=True)`` and hands the
checkpointed frame back to the caller. A layer's span thus covers the
execution of its own operators over already-materialised inputs. Counts
(rows in/out, bytes, ...) are taken after the span closes, in a separate
job group, and their time is excluded from every span.

Each span carries (name, start, end, parent, run id). Its jobs are tagged
with ``setJobGroup``; jobs started from helper threads (which do not
inherit the group) are claimed by the span that was open when they ran.
Stage and task counts, failed tasks included, come from ``statusTracker()``.
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PKG = "companycatalogcrawlerparser_spark"
BLOOM_BITS_PER_KEY = importlib.import_module(f"{PKG}.operators.urlseen").BLOOM_BITS_PER_KEY

# aggregation across a layer's spans: ratios are (numerator, denominator)
# pairs summed before dividing; these take the maximum; the rest are summed
MAX_METRICS = {"max_host_rows", "max_partition_rows", "partition_skew"}


@dataclass
class Span:
    name: str
    span_id: str
    parent: Optional[str]
    run_id: str
    start: float
    end: float = 0.0
    tasks: int = 0
    tasks_failed: int = 0
    counts: dict = field(default_factory=dict)
    excluded_s: float = 0.0  # counting time spent while this span was open

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Layer:
    name: str  # <module>.<function> relative to the package
    targets: tuple  # (module path or "module:Class", attribute) pairs to patch
    metrics: tuple  # count metrics this layer reports besides busy_s/tasks
    counter: Optional[Callable] = None  # (args, kwargs, forced result) -> counts


def _force(x):
    if isinstance(x, DataFrame):
        return x.localCheckpoint(eager=True)
    if isinstance(x, dict):
        return {k: _force(v) for k, v in x.items()}
    return x


def _dir_stats(path: str) -> tuple:
    files = size = 0
    for cur, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(cur, n))
    return files, size


# -- counters ---------------------------------------------------------------


def _rows_out(args, kwargs, out):
    return {"rows_out": out.count()}


def _fetch_join(args, kwargs, out):
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("fetch_ok").cast("long")).alias("ok"),
        F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("html"),
    ).first()
    n, ok = agg["n"], agg["ok"] or 0
    return {
        "rows_in": args[0].count(),
        "fetched": ok,
        "errors": n - ok,
        "html_mb": (agg["html"] or 0) / 2**20,
        "ok_frac": (ok, n),
    }


def _extract(args, kwargs, out):
    agg = out.agg(
        F.sum(F.col("has_html").cast("long")).alias("pages"),
        F.sum(F.size("hrefs") + F.size("anchor_urls") + F.size("emails")).alias("tokens"),
    ).first()
    return {"pages": agg["pages"] or 0, "tokens": agg["tokens"] or 0}


def _admit(args, kwargs, out):
    n_in, n_out = args[0].count(), out.count()
    return {"rows_in": n_in, "rows_out": n_out, "admit_frac": (n_out, n_in)}


def _schedule(args, kwargs, out):
    hosts = out.groupBy("host").agg(F.count("*").alias("n")).agg(
        F.count("*").alias("hosts"), F.sum("n").alias("rows"), F.max("n").alias("top")
    ).first()
    parts = out.groupBy(F.spark_partition_id().alias("p")).count().agg(F.max("count")).first()[0]
    rows, n_parts = hosts["rows"] or 0, out.rdd.getNumPartitions()
    return {
        "rows": rows,
        "hosts": hosts["hosts"],
        "max_host_rows": hosts["top"] or 0,
        "max_partition_rows": parts or 0,
        "partition_skew": (parts or 0) * n_parts / rows if rows else 0.0,
    }


def _filter_bytes(useen) -> int:
    if useen._blooms is not None:
        return sum(len(v[0]) for v in useen._blooms.values())
    if useen._blooms_df is not None:
        return useen._blooms_df.agg(F.sum(F.length("bloom"))).first()[0] or 0
    return 0


def _filter_unseen(args, kwargs, out):
    useen, cand = args[0], args[1]
    seen = args[2] if len(args) > 2 else kwargs["seen"]
    return {
        "rows_in": cand.count(),
        "rows_out": out.count(),
        "keys": seen.count(),
        "filter_bytes": _filter_bytes(useen),
    }


def _bloom_table(args, kwargs, out):
    seen = args[1]
    agg = out.agg(F.count("*"), F.sum(F.length("bloom"))).first()
    return {
        "rows_in": seen.count(),
        "rows_out": agg[0],
        "keys": seen.select("seen_key").distinct().count(),
        "filter_bytes": agg[1] or 0,
    }


def _set_blooms(args, kwargs, out):
    useen, blooms = args[0], args[1]
    installed = useen._blooms or {}
    return {
        "rows_in": blooms.count(),
        "rows_out": len(installed),
        # key capacity of the installed filters (the table stores bits, not keys)
        "keys": sum(m for _data, m, _kind in installed.values()) // BLOOM_BITS_PER_KEY,
        "filter_bytes": _filter_bytes(useen),
    }


def _commit(args, kwargs, out):
    store, round_id = args[0], args[1]
    files, size = _dir_stats(os.path.join(store.root, "data", f"round={round_id}"))
    rows = sum(store.spark.read.parquet(t["path"]).count() for t in out["tables"].values())
    return {"rows": rows, "files": files, "bytes": size}


def _read(args, kwargs, out):
    store, round_id, table = args[0], args[1], args[2]
    files, size = _dir_stats(store.manifest(round_id)["tables"][table]["path"])
    return {"rows": out.count(), "files": files, "bytes": size}


def _finalize(args, kwargs, out):
    store = args[1]
    pairs, emails = out["email_pairs"].count(), out["emails"].count()
    return {
        "rows_out": pairs,
        "bag_rows": store.read_union("bag").count(),
        "emails": emails,
        "email_dedup_frac": (pairs - emails, pairs),
    }


def _redirects(args, kwargs, out):
    return {"chains": out.count()}


P = PKG
LAYERS = (
    Layer("sources.pages.fetch_join",
          ((f"{P}.plans.crawl", "fetch_join"), (f"{P}.sources.pages", "fetch_join")),
          ("rows_in", "fetched", "errors", "html_mb", "ok_frac"), _fetch_join),
    Layer("sources.pages.redirect_map",
          ((f"{P}.plans.crawl", "redirect_map"), (f"{P}.sources.pages", "redirect_map")),
          ("chains",), _redirects),
    Layer("operators.extract.extract_tokens_native",
          ((f"{P}.operators.extract", "extract_tokens_native"),), ("pages", "tokens"), _extract),
    *(
        Layer(f"operators.extract.{fn}", ((f"{P}.operators.extract", fn),), ("rows_out",), _rows_out)
        for fn in ("mailto_emails", "regex_emails", "contact_anchor_links", "href_candidates")
    ),
    Layer("functions.admission.admit_frontier",
          ((f"{P}.functions.admission", "admit_frontier"),),
          ("rows_in", "rows_out", "admit_frac"), _admit),
    *(
        Layer(f"operators.frontier.{fn}", ((f"{P}.operators.frontier", fn),),
              ("rows", "hosts", "max_host_rows", "max_partition_rows", "partition_skew"), _schedule)
        for fn in ("schedule", "salted")
    ),
    *(
        Layer(f"operators.urlseen.UrlSeen.{fn}", ((f"{P}.operators.urlseen:UrlSeen", fn),),
              ("rows_in", "rows_out", "keys", "filter_bytes"), counter)
        for fn, counter in (
            ("filter_unseen", _filter_unseen), ("bloom_table", _bloom_table), ("set_blooms", _set_blooms)
        )
    ),
    Layer("operators.robots.robots_rules", ((f"{P}.operators.robots", "robots_rules"),), ()),
    Layer("storage.snapshots.SnapshotStore.commit",
          ((f"{P}.storage.snapshots:SnapshotStore", "commit"),), ("rows", "files", "bytes"), _commit),
    Layer("storage.snapshots.SnapshotStore.read",
          ((f"{P}.storage.snapshots:SnapshotStore", "read"),), ("rows", "files", "bytes"), _read),
    Layer("plans.crawl.select_companies", ((f"{P}.plans.crawl", "select_companies"),),
          ("rows_out",), _rows_out),
    Layer("plans.crawl.finalize", ((f"{P}.plans.crawl", "finalize"),),
          ("rows_out", "bag_rows", "emails", "email_dedup_frac"), _finalize),
    Layer("operators.merge.assign_dense_ids", ((f"{P}.operators.merge", "assign_dense_ids"),), ()),
    Layer("operators.merge.high_water_mark",
          ((f"{P}.operators.merge", "high_water_mark"), (f"{P}.plans.mailer", "high_water_mark")), ()),
    *(
        Layer(f"plans.mailer.{fn}", ((f"{P}.plans.mailer", fn),), ("rows_out",), _rows_out)
        for fn in ("next_batch", "send_groups", "commit_batch")
    ),
)
ROOT_LAYER = "plans.crawl.run_crawl"
ROOT_TARGETS = ((f"{P}.plans.crawl", "run_crawl"),)
SESSION_LAYER = "session.get_spark"
OVERHEAD_METRICS = ("trace.overhead_s", "trace.traced_wall_s", "trace.untraced_wall_s")


def metric_names() -> list:
    """Every per-layer metric the traced run reports, in output order."""
    names = []
    for layer in LAYERS:
        names += [f"{layer.name}.{m}" for m in ("busy_s", *layer.metrics, "tasks", "tasks_failed")]
    names += [f"{ROOT_LAYER}.{m}" for m in ("busy_s", "self_s", "tasks", "tasks_failed")]
    names.append(f"{SESSION_LAYER}.busy_s")
    names += list(OVERHEAD_METRICS)
    return names


def _resolve(target: str):
    module, _, cls = target.partition(":")
    obj = importlib.import_module(module)
    return getattr(obj, cls) if cls else obj


class Tracer:
    """Install with :meth:`installed`; spans stay in memory in ``spans``."""

    COUNT_GROUP = "perfbench-count"

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list = []
        self._next_id = 0
        self._stack: list = []
        self._counting = False
        self._status = self.sc.statusTracker()
        self._settle()
        self._claimed = set(self._status.getJobIdsForGroup())
        self._stages = set()

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        span = Span(name, f"perfbench-{self.run_id}-{self._next_id}",
                    parent.span_id if parent else None, self.run_id, time.perf_counter())
        self._stack.append(span)
        self.sc.setJobGroup(span.span_id, name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._claim_jobs(span)
            self.spans.append(span)

    def _set_group(self, span: Optional[Span]) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    def _settle(self) -> None:
        """Wait until the listener bus has processed every event posted so
        far, so the status tracker's job and task counts are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _claim_jobs(self, span: Span) -> None:
        self._settle()
        jobs = set(self._status.getJobIdsForGroup(span.span_id))
        # helper threads (parallel writers/checkpoints) do not inherit the
        # job group: their jobs belong to the span open while they ran
        helper = set(self._status.getJobIdsForGroup()) - self._claimed
        self._claimed |= helper
        for jid in jobs | helper:
            info = self._status.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._stages:
                    continue
                st = self._status.getStageInfo(sid)
                if st is not None:
                    self._stages.add(sid)
                    span.tasks += st.numCompletedTasks
                    span.tasks_failed += st.numFailedTasks

    @contextmanager
    def _count_phase(self):
        """Counts run outside every span: their time is excluded from the
        open spans and their jobs carry their own group."""
        t0 = time.perf_counter()
        self._counting = True
        self.sc.setJobGroup(self.COUNT_GROUP, "perfbench counters")
        try:
            yield
        finally:
            self._counting = False
            self._set_group(self._stack[-1] if self._stack else None)
            dt = time.perf_counter() - t0
            for open_span in self._stack:
                open_span.excluded_s += dt

    # -- patching -------------------------------------------------------------

    def _wrap(self, name: str, fn, counter, force: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._counting or threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            with tracer.span(name) as span:
                out = fn(*args, **kwargs)
                if force:
                    out = _force(out)
            if counter is not None:
                with tracer._count_phase():
                    span.counts = counter(args, kwargs, out)
            return out

        return traced

    @contextmanager
    def installed(self):
        """Patch every layer entry point for the duration of the block."""
        saved = []
        # the root's result is finalize()'s, already forced in its own span
        specs = [(layer.name, layer.targets, layer.counter, True) for layer in LAYERS]
        specs.append((ROOT_LAYER, ROOT_TARGETS, None, False))
        try:
            for name, targets, counter, force in specs:
                for target, attr in targets:
                    owner = _resolve(target)
                    fn = owner.__dict__[attr]
                    saved.append((owner, attr, fn))
                    setattr(owner, attr, self._wrap(name, fn, counter, force))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    # -- results ----------------------------------------------------------------

    def self_time(self, span: Span) -> float:
        """Span duration minus counting time and the time its direct
        children cover."""
        children = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in children:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        child_excluded = sum(c.excluded_s for c in self.spans if c.parent == span.span_id)
        return span.duration - covered - (span.excluded_s - child_excluded)

    def layer_metrics(self) -> dict:
        """Per-layer metrics aggregated over all spans of each layer; a
        layer the workload never called reports zeros."""
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.name == layer.name]
            out[f"{layer.name}.busy_s"] = sum(self.self_time(s) for s in spans)
            for m in layer.metrics:
                vals = [s.counts[m] for s in spans if m in s.counts]
                if m in MAX_METRICS:
                    out[f"{layer.name}.{m}"] = max(vals, default=0)
                elif vals and isinstance(vals[0], tuple):
                    num, den = sum(v[0] for v in vals), sum(v[1] for v in vals)
                    out[f"{layer.name}.{m}"] = num / den if den else 0.0
                else:
                    out[f"{layer.name}.{m}"] = sum(vals)
            out[f"{layer.name}.tasks"] = sum(s.tasks for s in spans)
            out[f"{layer.name}.tasks_failed"] = sum(s.tasks_failed for s in spans)
        roots = [s for s in self.spans if s.name == ROOT_LAYER]
        out[f"{ROOT_LAYER}.busy_s"] = sum(s.duration - s.excluded_s for s in roots)
        out[f"{ROOT_LAYER}.self_s"] = sum(self.self_time(s) for s in roots)
        out[f"{ROOT_LAYER}.tasks"] = sum(s.tasks for s in roots)
        out[f"{ROOT_LAYER}.tasks_failed"] = sum(s.tasks_failed for s in roots)
        return out

    def records(self) -> list:
        return [
            {
                "name": s.name, "span_id": s.span_id, "parent": s.parent, "run_id": s.run_id,
                "start": s.start, "end": s.end, "self_s": self.self_time(s),
                "tasks": s.tasks, "tasks_failed": s.tasks_failed,
                "counts": {k: list(v) if isinstance(v, tuple) else v for k, v in s.counts.items()},
            }
            for s in self.spans
        ]
