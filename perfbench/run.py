"""Crawl-engine benchmark: one command, seeded inputs, oracle-checked outputs.

    python3 perfbench/run.py --workload crawl-light --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, starts a local Spark session sized to this machine, runs a
warm-up pass, then repeats the workload's operation while another one
fits in ``--seconds`` (at least once), checks every operation's output against a
pure-Python model outside the timed region, and prints a readable report
followed by one JSON line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced operation on the same inputs and reports the
per-layer metrics (see ``tracer.py``) plus the tracing overhead. All files
the run writes stay under ``.perfbench_work/`` in the checkout. See
``perfbench/NOTES.md`` for why each workload exists and what it measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# driver heap for local mode: every input here fits in well under 1 GB, and
# the machine is shared, so the session's 48 GB default is replaced
DRIVER_MEMORY = "2g"
TEMPLATE = "perfbench.msg"


@dataclass(frozen=True)
class CrawlSpec:
    n_companies: int
    filler_kb: int
    hot_pct: int
    kind: str = "crawl"


@dataclass(frozen=True)
class MailerSpec:
    n_rows: int
    dup_frac: float
    bad_frac: float
    fixup_frac: float
    batch_size: int = 1000
    take: int = 60
    chunk_size: int = 10
    warmup_batches: int = 3
    traced_batches: int = 6
    kind: str = "mailer"


WORKLOADS = {
    # one crawl of a small web: mostly Spark's fixed per-job and per-stage
    # cost (see NOTES.md); half of the companies on one hot host
    "crawl-light": CrawlSpec(n_companies=800, filler_kb=0, hot_pct=50),
    # byte work: fewer companies, 48 KiB pages, no hot host (not in
    # BENCHMARK.json: a third workload does not fit the run budget)
    "crawl-heavy": CrawlSpec(n_companies=200, filler_kb=48, hot_pct=0),
    # latency-bound small jobs over the mailer's input table; the shares of
    # repeated, bad-flagged and fixup addresses are assumptions that make
    # each branch of next_batch do checked work (see NOTES.md)
    "mailer-drain": MailerSpec(n_rows=200_000, dup_frac=0.1, bad_frac=0.05, fixup_frac=0.02),
    # the same table with every address unique, clean and never bad-flagged,
    # as finalize() writes it; runnable by hand to show the shares above do
    # not move the mailer's figures
    "mailer-drain-unique": MailerSpec(n_rows=200_000, dup_frac=0.0, bad_frac=0.0, fixup_frac=0.0),
}
# seconds between two samples of the process tree's memory: one sample
# costs about 30 ms of CPU (mostly the kernel walking the JVM's page
# tables for smaps_rollup); every 0.1 s it would take a fifth of a core
RSS_INTERVAL_S = 1.0
END_TO_END = {
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


# -- process-tree memory -------------------------------------------------------


def _ppids() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root_pid: int, parents: dict | None = None) -> set:
    children: dict = {}
    for pid, ppid in (parents or _ppids()).items():
        children.setdefault(ppid, []).append(pid)
    out, stack = set(), [root_pid]
    while stack:
        for child in children.get(stack.pop(), ()):
            if child not in out:
                out.add(child)
                stack.append(child)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_pss(root_pid: int) -> dict:
    """pid -> (command name, PSS bytes) for ``root_pid`` and its
    descendants. PSS counts shared pages once across the tree: forked
    Python workers share most of their pages with the daemon they fork
    from, so summing plain RSS would count those pages once per worker.
    A JVM child that has not yet exec'd (posix_spawn's vfork window) shares
    the JVM's address space outright and is skipped, or the JVM would be
    counted twice."""
    parents = _ppids()
    out = {}
    for pid in descendants(root_pid, parents) | {root_pid}:
        exe = _exe(pid)
        if os.path.basename(exe) == "java" and _exe(parents.get(pid, 0)) == exe:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = (comm, int(line.split()[1]) * 1024)
                        break
        except (OSError, IndexError, ValueError):
            pass
    return out


class RssSampler:
    """Samples the process tree's memory every ``interval`` seconds;
    ``peak`` is the largest total, ``peak_by_comm`` its breakdown, and
    ``cpu_s`` the CPU time (user and system) the sampling thread used."""

    def __init__(self, interval: float = RSS_INTERVAL_S):
        self.interval = interval
        self.peak = 0
        self.peak_by_comm: dict = {}
        self.samples = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = tree_pss(os.getpid())
        total = sum(b for _c, b in procs.values())
        if total > self.peak:
            by_comm: dict = {}
            for comm, b in procs.values():
                n, mb = by_comm.get(comm, (0, 0.0))
                by_comm[comm] = (n + 1, mb + b / 2**20)
            self.peak, self.peak_by_comm = total, by_comm

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self.samples += 1
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- session -----------------------------------------------------------------------


def configure_env(spec, run_dir: str) -> int:
    """Environment the session and its Python workers inherit; must run
    before pyspark or webgen is imported. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM (launcher and driver): temp files inside the checkout,
        # no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    if spec.kind == "crawl":
        # webgen reads it at import time, in this process and in workers
        env["SPARK_GRAFT_HOT_PCT"] = str(spec.hot_pct)
    os.environ.update(env)
    return cores


def start_session(cores: int, run_dir: str):
    from companycatalogcrawlerparser_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this run
    started (Python workers are reparented when the JVM exits, so they are
    polled by pid)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        alive = started
        while alive and time.monotonic() < deadline:
            alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
            if alive:
                time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# -- results -------------------------------------------------------------------------


@dataclass
class Tally:
    """Operation accounting: an operation fails when it raises or its
    output mismatches the model."""

    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def record(self, mismatches: list) -> bool:
        self.attempted += 1
        if mismatches:
            self.failed += 1
            self.problems.extend(mismatches[:3])
        return not mismatches


def result_line(tally: Tally, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": tally.failed == 0 and tally.attempted > 0,
            "attempted": max(1, tally.attempted),
            "failed": tally.failed if tally.attempted else 1,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    )


def per_layer_units() -> dict:
    from tracer import metric_names

    def unit(name: str) -> str:
        m = name.rsplit(".", 1)[1]
        if m.endswith("_s"):
            return "s"
        if m == "html_mb":
            return "MiB"
        if m in ("filter_bytes", "bytes"):
            return "bytes"
        if m.endswith("_frac") or m == "partition_skew":
            return "ratio"
        return "count"

    return {n: unit(n) for n in metric_names()}


def another_fits(t_begin: float, n_done: int, seconds: float) -> bool:
    """Whether one more operation, as long as the mean so far (checks
    included), still ends within ``seconds`` of ``t_begin``. True before
    the first, so a run measures at least one operation and otherwise
    never runs past ``seconds``."""
    elapsed = time.perf_counter() - t_begin
    return n_done == 0 or elapsed * (n_done + 1) / n_done <= seconds


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))] if s else 0.0


# -- crawl workload --------------------------------------------------------------------


def crawl_workload(spark, spec: CrawlSpec, args, cores: int, run_dir: str, report: list, tally: Tally):
    import inputs
    import oracle
    from companycatalogcrawlerparser_spark.plans import crawl as crawl_mod
    from companycatalogcrawlerparser_spark.sources import webgen

    pages_rows, seeds_rows = inputs.crawl_inputs(args.seed, spec.n_companies, spec.filler_kb)
    inputs.write_parquet(pages_rows, inputs.PAGES_ARROW, os.path.join(run_dir, "pages"), cores)
    inputs.write_parquet(seeds_rows, inputs.SEEDS_ARROW, os.path.join(run_dir, "seeds"), 1)
    pages = spark.read.schema(webgen.PAGES_SCHEMA).parquet(os.path.join(run_dir, "pages"))
    seeds = spark.read.schema(webgen.SEEDS_SCHEMA).parquet(os.path.join(run_dir, "seeds"))
    cfg = crawl_mod.CrawlConfig(num_partitions=cores, collect_counters=False)
    n_ops = [0]

    def crawl_once() -> tuple:
        """(wall seconds, collected outputs) of one crawl through finalize."""
        out_dir = os.path.join(run_dir, f"crawl-{n_ops[0]}")
        n_ops[0] += 1
        t0 = time.perf_counter()
        res = crawl_mod.run_crawl(spark, pages, seeds, out_dir, cfg)
        got = {k: res[k].collect() for k in oracle.CRAWL_OUTPUTS}
        wall = time.perf_counter() - t0
        shutil.rmtree(out_dir, ignore_errors=True)
        return wall, got

    crawl_once()  # warm-up: JIT, codegen and Python workers
    setup_s = time.perf_counter() - T_START

    expected = oracle.CrawlExpectation(pages_rows, seeds_rows)
    report.append(
        f"inputs sha256:{inputs.digest(pages_rows, seeds_rows)} pages={len(pages_rows)} "
        f"seeds={len(seeds_rows)} companies={spec.n_companies} filler_kb={spec.filler_kb} "
        f"hot_pct={spec.hot_pct} expected_pages={expected.pages_fetched} "
        f"expected_urls={expected.urls_dequeued}"
    )
    del pages_rows, seeds_rows  # the expectation keeps what the checks need

    def timed_op():
        try:
            wall, got = crawl_once()
        except Exception:
            traceback.print_exc()
            tally.record(["crawl raised"])
            return None
        ok = tally.record(expected.compare(got))
        return wall if ok else None

    if args.trace:
        from tracer import Tracer

        untraced = timed_op()
        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        with tracer.installed():
            traced = timed_op()
        return setup_s, tracer, untraced, traced

    walls = []
    t_begin = time.perf_counter()
    while another_fits(t_begin, tally.attempted, args.seconds):
        wall = timed_op()
        if wall is not None:
            walls.append(wall)
    pages_per_s = expected.pages_fetched * len(walls) / sum(walls) if walls else 0.0
    urls_per_s = expected.urls_dequeued * len(walls) / sum(walls) if walls else 0.0
    report.append(f"pages_per_s {pages_per_s:.4f} 1/s (n={len(walls)} crawls, {expected.pages_fetched} pages each)")
    report.append(f"urls_per_s {urls_per_s:.4f} 1/s (n={len(walls)} crawls, {expected.urls_dequeued} urls each)")
    report.append(f"crawl_walls_s {[round(w, 3) for w in walls]}")
    return setup_s, {
        "items_per_s": pages_per_s,
        "op_p50_ms": 1000 * statistics.median(walls) if walls else 0.0,
    }


# -- mailer workload -------------------------------------------------------------------


def mailer_workload(spark, spec: MailerSpec, args, cores: int, run_dir: str, report: list, tally: Tally):
    import inputs
    import oracle
    import pyarrow as pa
    import pyarrow.parquet as pq
    from companycatalogcrawlerparser_spark.plans import mailer

    emails_path = os.path.join(run_dir, "emails")
    rows = inputs.email_rows(args.seed, spec.n_rows, spec.dup_frac, spec.bad_frac, spec.fixup_frac)
    inputs.write_parquet(rows, inputs.EMAILS_ARROW, emails_path, cores)
    input_line = (
        f"inputs sha256:{inputs.digest(rows)} rows={len(rows)} dup_frac={spec.dup_frac} "
        f"bad_frac={spec.bad_frac} fixup_frac={spec.fixup_frac} batch={spec.batch_size} "
        f"take={spec.take} chunk={spec.chunk_size}"
    )
    del rows  # the model is built from the parquet, after set-up
    emails = spark.read.parquet(emails_path)
    state_schema = pa.schema([("email_file_name", pa.string()), ("last_id", pa.int64())])
    state_root = os.path.join(run_dir, "state")
    inputs.write_parquet([], state_schema, os.path.join(state_root, "v0"), 1)
    versions = [0]

    def batch_once(state, watermark: int) -> tuple:
        """One closed-loop batch: next_batch -> send_groups -> collect ->
        commit at the highest sent id -> durable state write -> re-read.
        Returns (wall, sent rows, new state, new watermark)."""
        versions[0] += 1
        path = os.path.join(state_root, f"v{versions[0]}")
        t0 = time.perf_counter()
        batch = mailer.next_batch(emails, state, TEMPLATE, batch_size=spec.batch_size)
        sent = mailer.send_groups(batch, take=spec.take, chunk_size=spec.chunk_size).collect()
        last = max((r["email_id"] for r in sent), default=watermark)
        mailer.commit_batch(state, spark, TEMPLATE, last).write.parquet(path)
        new_state = spark.read.parquet(path)
        return time.perf_counter() - t0, sent, new_state, last

    state, wm = spark.read.parquet(os.path.join(state_root, "v0")), 0
    for _ in range(spec.warmup_batches):
        _wall, _sent, state, wm = batch_once(state, wm)
    setup_s = time.perf_counter() - T_START
    report.append(input_line)
    table = pq.read_table(emails_path, columns=["email_id", "email", "bad_ignore_email"])
    model = oracle.MailerModel(
        zip(*(table.column(c).to_pylist() for c in table.column_names)),
        spec.batch_size, spec.take, spec.chunk_size,
    )
    del table

    def timed_batches(n_min: int, seconds: float, state, wm) -> tuple:
        """At least ``n_min`` batches, and more while another fits in
        ``seconds``; returns (walls of correct batches, emails they sent,
        state, wm)."""
        walls, n_sent, n_done = [], 0, 0
        t_begin = time.perf_counter()
        while n_done < n_min or another_fits(t_begin, n_done, seconds):
            n_done += 1
            before = wm
            try:
                wall, sent, state, wm = batch_once(state, wm)
            except Exception:
                traceback.print_exc()
                tally.record(["batch raised"])
                break
            if tally.record(model.compare_sent(before, sent)):
                walls.append(wall)
                n_sent += len(sent)
        return walls, n_sent, state, wm

    if args.trace:
        from tracer import Tracer

        start_state, start_wm = state, wm
        t0 = time.perf_counter()
        timed_batches(spec.traced_batches, 0, start_state, start_wm)
        untraced = time.perf_counter() - t0
        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        with tracer.installed():
            t0 = time.perf_counter()
            timed_batches(spec.traced_batches, 0, start_state, start_wm)
            traced = time.perf_counter() - t0
        return setup_s, tracer, untraced, traced

    walls, n_sent, state, wm = timed_batches(1, args.seconds, state, wm)
    # one full batch at the final watermark, checked row for row
    full = mailer.next_batch(emails, state, TEMPLATE, batch_size=spec.batch_size).collect()
    tally.record(model.compare_batch(wm, full))
    p50 = 1000 * statistics.median(walls) if walls else 0.0
    p90 = 1000 * percentile(walls, 90)
    report.append(f"batch_p50_ms {p50:.3f} ms (n={len(walls)} batches)")
    report.append(f"batch_walls_s {[round(w, 3) for w in walls]}")
    report.append(
        f"batch_p90_ms {p90:.3f} ms (n={len(walls)} batches; "
        f"{'at least' if len(walls) >= 100 else 'fewer than'} 10 samples beyond p90)"
    )
    return setup_s, {
        "items_per_s": n_sent / sum(walls) if walls else 0.0,
        "op_p50_ms": p50,
    }


# -- main -------------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    import companycatalogcrawlerparser_spark.session  # noqa: F401  (fails without the program)

    spec = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = configure_env(spec, run_dir)

    report = [f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} cores={cores} driver_memory={DRIVER_MEMORY}"]
    tally = Tally()
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(cores, run_dir)
            session_s = time.perf_counter() - t0
            try:
                run = crawl_workload if spec.kind == "crawl" else mailer_workload
                out = run(spark, spec, args, cores, run_dir, report, tally)
            finally:
                stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        setup_s, tracer, untraced, traced = out
        metrics = tracer.layer_metrics()
        metrics["session.get_spark.busy_s"] = session_s
        metrics["trace.untraced_wall_s"] = untraced or 0.0
        metrics["trace.traced_wall_s"] = traced or 0.0
        metrics["trace.overhead_s"] = (traced or 0.0) - (untraced or 0.0)
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.records(), f, indent=1)
        report.append(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        units = per_layer_units()
    else:
        setup_s, metrics = out
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = rss.peak / 2**20
        units = END_TO_END
    report.append(f"setup_s {setup_s:.4f} s (session {session_s:.4f} s)")
    breakdown = ", ".join(f"{c} x{n} {mb:.0f}" for c, (n, mb) in sorted(rss.peak_by_comm.items()))
    report.append(f"peak_rss_mb {rss.peak / 2**20:.2f} MB ({breakdown})")
    report.append(
        f"memory sampler: {rss.samples} samples every {rss.interval} s, "
        f"{rss.cpu_s:.3f} s CPU over {time.perf_counter() - T_START:.1f} s"
    )
    report.append(
        f"failed_frac {tally.failed / max(1, tally.attempted):.4f} "
        f"({tally.failed}/{tally.attempted} operations)"
    )
    for problem in tally.problems:
        report.append(f"MISMATCH {problem}")
    for k in units:
        report.append(f"{k} {metrics[k]:.6g} {units[k]}")
    print("\n".join(report))
    print(result_line(tally, metrics, units), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
