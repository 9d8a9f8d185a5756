"""Benchmark of the topical crawl engine, one workload per invocation.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 30 --trace 0

Run from the repository root.  It starts ``local[<nproc>]`` from this
single driver process with ``get_spark``'s default partitions, builds
the workload's inputs from ``--seed``, times the workload's calls into
the program's public functions, checks the outputs against the repo's
oracles, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's uncompressed event log, job groups and an ``icelite`` commit
timer, and reports the per-layer metrics instead.  The line before the
result is a ``{"report": ...}`` object with the sample counts, CPU
steal, the steal-immune counts and (traced) the per-round / per-query
breakdown.  Everything the run writes goes under ``.perfbench_out/`` in
the working directory and is removed at the end, apart from
``runs.jsonl``, the per-checkout run log; crawl tables live there too
(the flush policy is whatever that directory's file system does).

Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import eventlog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# crawl workload: generated seeds, uniform per-host budget
CRAWL_SEEDS = 2000
CRAWL_ROUNDS = 1
CRAWL_CONFIG = dict(budget_rows=[], default_budget=100, max_depth=4, use_bloom=True)

# registry workload: the bench.py headline list plus three heavier
# production-path entries (see README.md for the excluded ones)
REGISTRY_ENTRIES = [
    "pricing_summary",
    "revenue_by_nation",
    "window_rank_orders",
    "event_pairs_band_join",
    "tumbling_window_events",
    "session_window_events",
    "simhash_docs",
    "fingerprint_docs",
    "langid_quality_docs",
    "embedding_topk_cosine",
    "per_host_topk_schedule",
    "url_canonicalize",
    "percentiles_lineitem",
    "dup_components_docs",
    "simhash_neardup_pairs",
]
# table rows as a share of the 0.1 tier's (0.1 -> the 0.01 tier's sizes)
REGISTRY_SCALE = 0.1

PHASES = ["gate", "fetch_write", "trace", "fetch_verify", "corpus", "links",
          "seen", "frontier", "lineage"]
ICELITE_TABLES = ["frontier", "seen", "corpus", "trace", "lineage"]
SPARK_FIELDS = ["jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb"]
PY_FIELDS = ["sent_mb", "returned_mb", "run_s", "init_s"]

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
}


def _per_layer_units() -> dict[str, str]:
    u = {
        "session.import_s": "s",
        "session.start_s": "s",
        "session.worker_warm_s": "s",
        "session.inputs_s": "s",
        "round.init_s": "s",
        "round.wall_s": "s",
        "round.jobs": "count",
        "round.stages": "count",
        "round.tasks": "count",
        "round.driver_gap_s": "s",
    }
    u.update({f"phase.{p}_s": "s" for p in PHASES})
    u.update({"crawl.pages": "count", "crawl.trace_rows": "count",
              "crawl.seen_keys": "count"})
    u.update({f"py.{f}": ("MB" if f.endswith("mb") else "s") for f in PY_FIELDS})
    u.update({f"icelite.commit_s.{t}": "s" for t in ICELITE_TABLES})
    u.update({"icelite.commits": "count", "icelite.files_written": "count",
              "icelite.bytes_written_mb": "MB", "icelite.table_mb": "MB"})
    for f in SPARK_FIELDS:
        u[f"spark.{f}"] = (
            "count" if f in ("jobs", "stages", "tasks")
            else "MB" if f.endswith("mb") else "s"
        )
    u.update({"spark.jobs_grouped": "count", "spark.jobs_window": "count",
              "spark.jobs_unattributed": "count"})
    for q in REGISTRY_ENTRIES:
        u.update({f"q.{q}_s": "s", f"q.{q}.jobs": "count",
                  f"q.{q}.shuffle_mb": "MB", f"q.{q}.py_sent_mb": "MB"})
    u["mem.peak_rss_mb"] = "MB"
    u["cpu_steal_core_s"] = "s"
    u.update({f"traced.{m}": unit for m, unit in END_TO_END.items()})
    return u


PER_LAYER = _per_layer_units()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def steal_jiffies() -> int:
    """Hypervisor steal on the cores this process may run on, in
    jiffies (1/100 s of one core), as ``tools/scaling_run.py`` counts it."""
    aff = os.sched_getaffinity(0)
    total = 0
    with open("/proc/stat") as f:
        for ln in f:
            if ln.startswith("cpu") and not ln.startswith("cpu "):
                p = ln.split()
                if int(p[0][3:]) in aff:
                    total += int(p[8])
    return total


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over ``root_pid`` and its live
    descendants: the driver, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        total_kb += int(ln.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _warm_workers(batches):
    """mapInPandas body run once per core at set-up: imports the
    engine's UDF modules in each Python worker."""
    import topicalcrawler_spark.analysis.dedup  # noqa: F401
    import topicalcrawler_spark.functions  # noqa: F401
    import topicalcrawler_spark.operators.fetch  # noqa: F401

    yield from batches


class IceliteTimer:
    """Wraps ``icelite.commit`` / ``commit_files`` to time each commit
    and count the files and bytes it wrote.  Commits also run on the
    program's own worker threads, hence the lock."""

    def __init__(self):
        from topicalcrawler_spark import icelite

        self.mod = icelite
        self.orig = {n: getattr(icelite, n) for n in ("commit", "commit_files")}
        self.records: list[dict] = []
        self.lock = threading.Lock()
        for name, fn in self.orig.items():
            setattr(icelite, name, self._wrap(fn))

    def _wrap(self, fn):
        zero_copy = fn.__name__ == "commit_files"

        def timed(*args, **kw):
            table_dir = args[0] if zero_copy else args[1]
            t0 = time.monotonic()
            snap = fn(*args, **kw)
            dt = time.monotonic() - t0
            files = []
            if not zero_copy:  # commit_files registers files already on disk
                data_dir = self.mod.read_manifest(table_dir, snap)["data_dir"]
                files = [os.path.join(data_dir, f) for f in os.listdir(data_dir)
                         if f.endswith(".parquet")]
            with self.lock:
                self.records.append({
                    "table": os.path.basename(table_dir.rstrip("/")),
                    "s": dt,
                    "files": len(files),
                    "bytes": sum(os.path.getsize(f) for f in files),
                })
            return snap

        return timed

    def take(self) -> list[dict]:
        with self.lock:
            out, self.records = self.records, []
        return out


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / (1024 * 1024)


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.spans: list[eventlog.Span] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.setup_s = 0.0
        self.event_dir = os.path.join(run_dir, "eventlog")
        self.icelite = None

    # ---------------------------------------------------------------- calls

    def call(self, name: str, fn, *, op: bool = True):
        """Run one call into the program inside a span and job group.
        Returns (ok, value, seconds)."""
        sc = self.spark.sparkContext
        if self.args.trace:
            sc.setJobGroup(f"perfbench:{name}", name)
        start_ms = time.time() * 1000
        t0 = time.monotonic()
        ok, value = True, None
        try:
            value = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            ok = False
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:400])
        dt = time.monotonic() - t0
        self.spans.append(eventlog.Span(name, start_ms, time.time() * 1000))
        if self.args.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if op:
            self.attempted += 1
            self.failed += 0 if ok else 1
        return ok, value, dt

    # ---------------------------------------------------------------- set-up

    def setup(self, make_inputs) -> None:
        """One cold set-up, timed from process start: the Python imports,
        ``session.get_spark`` (JVM launch, session, package zip), the
        inputs, and one warm Python worker per core."""
        from topicalcrawler_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            })
        import_s = process_age_s()
        t0 = time.monotonic()
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus, extra_conf=conf)
        t1 = time.monotonic()
        make_inputs()
        t2 = time.monotonic()
        self.call("setup.warm", self._warm, op=False)
        self.setup_parts = {"import_s": import_s, "start_s": t1 - t0, "inputs_s": t2 - t1,
                            "worker_warm_s": time.monotonic() - t2}
        self.setup_s = process_age_s()

    def _warm(self):
        n = self.cpus
        self.spark.range(n * 64, numPartitions=n).mapInPandas(
            _warm_workers, schema="id long"
        ).write.format("noop").mode("overwrite").save()

    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    # ---------------------------------------------------------------- fold

    def fold(self):
        app_id = self.spark.sparkContext.applicationId
        self.close()
        return eventlog.fold(eventlog.read_events(self.event_dir, app_id), self.spans)


# ====================================================================== crawl


TRACE_COLS = ["trace_seq", "round", "url_canon", "host", "depth",
              "relevance_q", "discovery_seq", "status", "image_id"]


def _crawl_oracle(urls: list[str]) -> tuple[list[tuple], list[str]]:
    """The oracle crawler's trace and seen set on the same seeds and
    config (single-threaded, about a second; not part of the timing)."""
    from tests import oracle_crawler

    trace, seen = oracle_crawler.crawl(
        urls, CRAWL_ROUNDS,
        max_depth=CRAWL_CONFIG["max_depth"],
        default_budget=CRAWL_CONFIG["default_budget"],
        budget_rows=CRAWL_CONFIG["budget_rows"],
    )
    return [tuple(r[c] for c in TRACE_COLS) for r in trace], sorted(seen)


def more_units(units: list, unit_s: float, t_begin: float, seconds: float) -> bool:
    """Start another timed unit only if it is expected to end within
    ``seconds``; the first unit always runs."""
    return not units or time.monotonic() - t_begin + unit_s <= seconds


def run_crawl(b: Bench) -> dict:
    import datagen
    from topicalcrawler_spark.plans.round import (
        CrawlConfig, crawl_round, init_crawl, read_seen, read_trace,
    )

    seeds_path = os.path.join(b.run_dir, "inputs", "seeds.txt")
    urls: list[str] = []

    def make_inputs():
        os.makedirs(os.path.dirname(seeds_path), exist_ok=True)
        urls[:] = datagen.write_seeds(seeds_path, b.args.seed, CRAWL_SEEDS)

    b.setup(make_inputs)
    if b.args.trace:
        b.icelite = IceliteTimer()

    crawls = []
    steal0, t_begin = steal_jiffies(), time.monotonic()
    while more_units(crawls, crawls[-1]["wall_s"] if crawls else 0.0, t_begin,
                     b.args.seconds):
        c = len(crawls)
        cfg = CrawlConfig(root=os.path.join(b.run_dir, f"crawl{c}"), **CRAWL_CONFIG)
        t0 = time.monotonic()
        ok, _, init_s = b.call(f"c{c}.init", lambda: init_crawl(b.spark, cfg, seeds_path))
        commits = {"init": b.icelite.take() if b.icelite else []}
        rounds = []
        for r in range(1, CRAWL_ROUNDS + 1):
            if not ok:
                break
            ok, stats, dt = b.call(f"c{c}.round{r}", lambda r=r: crawl_round(b.spark, cfg, r))
            if ok:
                rounds.append({"round": r, "wall_s": dt, "stats": stats})
                commits[f"round{r}"] = b.icelite.take() if b.icelite else []
        wall = time.monotonic() - t0
        crawls.append({"cfg": cfg, "init_s": init_s, "rounds": rounds, "wall_s": wall,
                       "ok": ok, "commits": commits,
                       "pages": sum(x["stats"].get("n_fetched", 0) for x in rounds),
                       "table_mb": _dir_mb(cfg.root)})
    steal_s = (steal_jiffies() - steal0) / 100.0
    rss = tree_peak_rss_mb(os.getpid())

    # correctness: every crawl against the oracle on the same seeds/config
    otrace, oseen = _crawl_oracle(urls)
    counts = {}
    for c, cr in enumerate(crawls):
        def check(cfg=cr["cfg"]):
            trace = [tuple(r[k] for k in TRACE_COLS)
                     for r in read_trace(b.spark, cfg).select(*TRACE_COLS).collect()]
            seen = sorted(r["url_canon"] for r in read_seen(b.spark, cfg).select("url_canon").collect())
            return trace, seen
        ok, got, _ = b.call(f"c{c}.check", check)
        if ok:
            trace, seen = got
            if trace != otrace or seen != oseen:
                b.failed += 1
                b.errors.append(
                    f"crawl {c}: trace/seen differ from the oracle "
                    f"({len(trace)} vs {len(otrace)} trace rows, "
                    f"{len(seen)} vs {len(oseen)} seen keys)"
                )
            counts = {"pages": cr["pages"], "trace_rows": len(trace), "seen_keys": len(seen)}

    round_walls = [x["wall_s"] for cr in crawls for x in cr["rounds"]]
    e2e = {
        "setup_s": b.setup_s,
        "run_s": _median([cr["wall_s"] for cr in crawls]),
        "items_per_s": _median([cr["pages"] / cr["wall_s"] for cr in crawls]),
    }
    report = {
        "setup": b.setup_parts,
        "samples": {"crawls": len(crawls),
                    "rounds": len(round_walls)},
        "cpu_steal_core_s": steal_s,
        "peak_rss_mb": rss,
        "counts": counts,
        "crawls": [{"init_s": cr["init_s"], "wall_s": cr["wall_s"], "pages": cr["pages"],
                    "rounds": [{"round": x["round"], "wall_s": x["wall_s"],
                                "n_fetched": x["stats"].get("n_fetched"),
                                "phases": x["stats"].get("phases", {})}
                               for x in cr["rounds"]]}
                   for cr in crawls],
    }
    layers = None
    if b.args.trace:
        layers = _crawl_layers(b, crawls, counts, steal_s, rss, report)
    return {"e2e": e2e, "layers": layers, "report": report}


def _crawl_layers(b: Bench, crawls, counts, steal_s, rss, report) -> dict:
    folded = b.fold()
    m = _layers_common(b, folded, steal_s, rss)
    n = len(crawls)
    rounds = []
    for c, cr in enumerate(crawls):
        for x in cr["rounds"]:
            sm = folded.spans[f"c{c}.round{x['round']}"]
            rounds.append({
                "jobs": sm.jobs, "stages": sm.stages, "tasks": sm.tasks,
                "driver_gap_s": max(x["wall_s"] - sm.busy_s, 0.0),
                "phases": x["stats"].get("phases", {}),
                **{f"spark.{f}": getattr(sm, f) for f in SPARK_FIELDS},
                **{f"py.{f}": getattr(sm, f"py_{f}") for f in PY_FIELDS},
            })
    per_round = iter(rounds)
    for cr in report["crawls"]:
        for x in cr["rounds"]:
            x.update(next(per_round))
    m["round.init_s"] = _median([cr["init_s"] for cr in crawls])
    m["round.wall_s"] = _median([x["wall_s"] for cr in crawls for x in cr["rounds"]])
    for k in ("jobs", "stages", "tasks", "driver_gap_s"):
        m[f"round.{k}"] = _median([r[k] for r in rounds])
    for p in PHASES:
        m[f"phase.{p}_s"] = _median([r["phases"].get(p, 0.0) for r in rounds])
    m["crawl.pages"] = counts.get("pages", 0)
    m["crawl.trace_rows"] = counts.get("trace_rows", 0)
    m["crawl.seen_keys"] = counts.get("seen_keys", 0)

    timed = [f"c{c}.{s}" for c, cr in enumerate(crawls)
             for s in ["init"] + [f"round{x['round']}" for x in cr["rounds"]]]
    _spark_totals(m, folded, timed, n)
    commits = [rec for cr in crawls for recs in cr["commits"].values() for rec in recs]
    for t in ICELITE_TABLES:
        m[f"icelite.commit_s.{t}"] = sum(r["s"] for r in commits if r["table"] == t) / n
    m["icelite.commits"] = len(commits) / n
    m["icelite.files_written"] = sum(r["files"] for r in commits) / n
    m["icelite.bytes_written_mb"] = sum(r["bytes"] for r in commits) / n / (1024 * 1024)
    m["icelite.table_mb"] = _median([cr["table_mb"] for cr in crawls])
    counts.update({
        "jobs_per_round": [r["jobs"] for r in rounds],
        "shuffle_write_bytes": round(m["spark.shuffle_write_mb"] * 1024 * 1024),
        "py_sent_bytes": round(m["py.sent_mb"] * 1024 * 1024),
    })
    return m


# =================================================================== registry


def run_registry(b: Bench) -> dict:
    import datagen
    from topicalcrawler_spark.queries import REGISTRY

    table_dir = os.path.join(b.run_dir, "inputs", "tables")
    b.setup(lambda: datagen.write_tables(table_dir, b.args.seed, REGISTRY_SCALE))

    passes = []
    steal0, t_begin = steal_jiffies(), time.monotonic()
    while more_units(passes, passes[-1]["wall_s"] if passes else 0.0, t_begin,
                     b.args.seconds):
        p = len(passes)
        t0 = time.monotonic()
        results = {}
        for name in REGISTRY_ENTRIES:
            fn = REGISTRY[name].fn
            ok, rows, dt = b.call(f"p{p}.q.{name}",
                                  lambda fn=fn: _collect(fn(b.spark, table_dir)))
            results[name] = {"ok": ok, "s": dt, "cols_rows": rows}
        passes.append({"wall_s": time.monotonic() - t0, "results": results})
    steal_s = (steal_jiffies() - steal0) / 100.0
    rss = tree_peak_rss_mb(os.getpid())

    _check_registry(b, table_dir, passes)

    rows_per_pass = [
        sum(len(r["cols_rows"][1]) for r in ps["results"].values() if r["ok"])
        for ps in passes
    ]
    e2e = {
        "setup_s": b.setup_s,
        "run_s": _median([ps["wall_s"] for ps in passes]),
        "items_per_s": _median([n / ps["wall_s"] for n, ps in zip(rows_per_pass, passes)]),
    }
    report = {
        "setup": b.setup_parts,
        "samples": {"passes": len(passes),
                    "queries": sum(len(ps["results"]) for ps in passes)},
        "cpu_steal_core_s": steal_s,
        "peak_rss_mb": rss,
        "counts": {name: len(r["cols_rows"][1]) for name, r in passes[0]["results"].items()
                   if r["ok"]},
        "queries": {name: [ps["results"][name]["s"] for ps in passes]
                    for name in REGISTRY_ENTRIES},
    }
    layers = None
    if b.args.trace:
        folded = b.fold()
        m = _layers_common(b, folded, steal_s, rss)
        _spark_totals(m, folded, [f"p{p}.q.{q}" for p in range(len(passes))
                                  for q in REGISTRY_ENTRIES], len(passes))
        for q in REGISTRY_ENTRIES:
            sms = [folded.spans[f"p{p}.q.{q}"] for p in range(len(passes))]
            m[f"q.{q}_s"] = _median(report["queries"][q])
            m[f"q.{q}.jobs"] = _median([s.jobs for s in sms])
            m[f"q.{q}.shuffle_mb"] = _median([s.shuffle_write_mb for s in sms])
            m[f"q.{q}.py_sent_mb"] = _median([s.py_sent_mb for s in sms])
            report["counts"][f"{q}.jobs"] = sms[0].jobs
            report["counts"][f"{q}.py_sent_bytes"] = round(sms[0].py_sent_mb * 1024 * 1024)
            report.setdefault("per_query", {})[q] = {
                "jobs": sms[0].jobs, "stages": sms[0].stages, "tasks": sms[0].tasks,
                **{f"spark.{f}": getattr(sms[0], f) for f in SPARK_FIELDS},
                **{f"py.{f}": getattr(sms[0], f"py_{f}") for f in PY_FIELDS},
            }
        layers = m
    return {"e2e": e2e, "layers": layers, "report": report}


def _collect(df) -> tuple[list[str], list[tuple]]:
    """Materialise a query result on the driver, as an analyst reads it."""
    return df.columns, [tuple(r) for r in df.collect()]


def _check_registry(b: Bench, table_dir: str, passes) -> None:
    """Every result of every pass against its DuckDB ``oracle_sql()``,
    normalised as ``tools/check_oracle.py`` does."""
    import duckdb

    from tools.check_oracle import TABLES, to_rows
    from topicalcrawler_spark.queries import oracle_sql

    sqls = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    want = {}
    for name in REGISTRY_ENTRIES:
        b.attempted += 1
        try:
            res = con.sql(sqls[name])
            want[name] = to_rows(res.columns, res.fetchall())
        except Exception as e:
            b.failed += 1
            b.errors.append(f"oracle {name}: {type(e).__name__}: {e}"[:400])
    con.close()
    for p, ps in enumerate(passes):
        for name in REGISTRY_ENTRIES:
            r = ps["results"][name]
            if not r["ok"] or name not in want:
                continue
            b.attempted += 1
            try:
                got = to_rows(*r["cols_rows"])
            except Exception as e:
                got = (type(e).__name__, str(e))
            if got != want[name]:
                b.failed += 1
                b.errors.append(f"pass {p} {name}: result differs from oracle_sql()")


# ===================================================================== shared


def _layers_common(b: Bench, folded, steal_s: float, rss: float) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    m["mem.peak_rss_mb"] = rss
    for k, v in b.setup_parts.items():
        m[f"session.{k}"] = v
    m["spark.jobs_grouped"] = folded.n_grouped
    m["spark.jobs_window"] = folded.n_window
    m["spark.jobs_unattributed"] = len(folded.unattributed)
    b.attempted += 1  # every Spark job is attributed to a span
    if folded.unattributed:
        b.failed += 1
        b.errors.append(f"Spark jobs in no span: {sorted(folded.unattributed)}")
    m["cpu_steal_core_s"] = steal_s
    return m


def _spark_totals(m: dict, folded, span_names: list[str], n_units: int) -> None:
    """spark.* and py.* per timed unit (one crawl, one registry pass)."""
    sms = [folded.spans[s] for s in span_names if s in folded.spans]
    for f in SPARK_FIELDS:
        vals = [getattr(s, f) for s in sms]
        m[f"spark.{f}"] = max(vals, default=0.0) if f == "peak_exec_mem_mb" else sum(vals) / n_units
    for f in PY_FIELDS:
        m[f"py.{f}"] = sum(getattr(s, f"py_{f}") for s in sms) / n_units


def code_id() -> str:
    """Content hash of the program, its oracles and this benchmark: runs
    are compared only with runs of the same code."""
    files = [os.path.join(REPO, "tests", "oracle_crawler.py"),
             os.path.join(REPO, "tools", "check_oracle.py")]
    for d in ("topicalcrawler_spark", "perfbench"):
        for root, _, names in os.walk(os.path.join(REPO, d)):
            files += [os.path.join(root, f) for f in names if f.endswith(".py")]
    h = hashlib.blake2b(digest_size=8)
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _record(out_root: str, workload: str, seed: int, trace: int, res: dict) -> dict:
    """Append this run to the checkout's run log; flag steal-immune
    counts that differ from an earlier run of the same code and seed, and
    (for a traced run) give the tracing overhead against the untraced
    runs of the same code."""
    path = os.path.join(out_root, "runs.jsonl")
    code = code_id()
    prior = []
    if os.path.exists(path):
        with open(path) as f:
            prior = [json.loads(ln) for ln in f if ln.strip()]
    prior = [p for p in prior if p.get("code") == code and p["workload"] == workload]
    counts = res["report"].get("counts", {})
    flags = {}
    for p in prior:
        if p["seed"] == seed and p["counts"] and counts:
            for k, v in counts.items():
                if k in p["counts"] and p["counts"][k] != v:
                    flags[k] = [p["counts"][k], v]
    extra = {"code": code, "counts_differ_from_same_seed": flags}
    if trace:
        base = [p["e2e"] for p in prior if not p["trace"]]
        if base:
            extra["trace_overhead"] = {
                k: res["e2e"][k] - _median([e[k] for e in base]) for k in END_TO_END
            }
            extra["trace_overhead_base_runs"] = len(base)
    with open(path, "a") as f:
        f.write(json.dumps({"code": code, "workload": workload, "seed": seed,
                            "trace": trace, "counts": counts, "e2e": res["e2e"]}) + "\n")
    return extra


WORKLOADS = {"crawl": run_crawl, "registry": run_registry}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out_root = os.path.join(os.getcwd(), ".perfbench_out")
    run_dir = os.path.join(out_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    # every temporary file of the driver, the JVM and the Python workers
    # stays inside the working directory
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    sys.path.insert(0, REPO)

    bench = Bench(args, run_dir)
    try:
        res = WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    res["report"].update(_record(out_root, args.workload, args.seed, args.trace, res))
    res["report"].update({"workload": args.workload, "seed": args.seed,
                          "cpus": bench.cpus, "errors": bench.errors})
    if args.trace:
        for k, v in res["e2e"].items():
            res["layers"][f"traced.{k}"] = v
        metrics = {k: {"value": float(res["layers"][k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"report": res["report"]}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
