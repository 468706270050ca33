"""The two workloads. Each is a closed loop with one client: the next
request is sent only when the previous one has returned.

- adhoc: an analyst on the catalog. A pass runs bench.py's twelve
  headline ops plus the HEALPix region filter in a seeded order, each
  followed by three bounded sky fetches through
  ``api.DB.query(...).fetch(bounds=...)`` with fresh seeded footprints.
- event_ingest: an alert broker. A pass appends the catalog's events
  to a fresh table log in eight seeded batches (write, footer stats,
  commit), reads each new version back with manifest pruning, and
  compacts every four commits; a run warms up for ten seconds of
  passes, then times several. Traced runs also run the streaming sink
  and source ops once.

Every timed request executes a fresh Dataset (``df.alias``), so no
stage is served from an earlier request's shuffle output.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import time
from collections import defaultdict
from statistics import median

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import trace as tr

# set-ups per run; setup_s is their median, and the first also launches
# the JVM. An ingest set-up loads one table, so more of them are cheap.
SETUP_REPS = {"adhoc": 3, "event_ingest": 5}
FETCHES_PER_OP = 3
INGEST_BATCHES = 8
INGEST_WARMUP_S = 10.0
COMPACT_EVERY = 4
# the one op of plans.region; the twelve headline ops have none
REGION_OP = "filter_region_healpix"
STREAM_OPS = ["stream_table_log_sink", "stream_table_log_source"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

OP_LAYERS = [
    "operators", "streaming.ops", "llm.simsearch", "llm.textstats",
    "llm.dedup", "plans.spatial", "plans.sphere", "plans.region",
]
OP_COUNTERS = [
    "wall_s", "build_s", "jobs", "tasks", "cpu_s", "shuffle_bytes",
    "spill_bytes", "driver_s",
]
API_COUNTERS = ["plan_ms", "catalyst_ms", "exec_ms", "jobs", "tasks"]
TLOG_COUNTERS = [
    "write_ms", "stats_ms", "commit_ms", "read_plan_ms", "read_exec_ms",
    "compact_s", "files_kept_ratio", "files_per_version", "data_bytes",
    "log_bytes", "stream_batches", "stream_planning_ms",
    "stream_add_batch_ms", "stream_trigger_ms",
]
SETUP_LAYERS = ["session.start_s", "catalog.load_s", "registry.warm_s"]


def layer_metric_names() -> list[str]:
    """Every per-layer metric, named ``<module>.<counter>``."""
    return (
        [f"{l}.{c}" for l in OP_LAYERS for c in OP_COUNTERS]
        + [f"api.{c}" for c in API_COUNTERS]
        + [f"sources.table_log.{c}" for c in TLOG_COUNTERS]
        + SETUP_LAYERS
        + ["trace.pass_s"]
    )


def layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes")):
        if counter.endswith(suffix):
            return unit
    return "ratio" if counter in ("files_kept_ratio", "files_per_version") else "count"


def op_layer(op: str) -> str:
    """The module that registers ``op``; every operators.* module is
    one layer."""
    from lsd_spark.registry import QUERIES_RAW

    mod = QUERIES_RAW[op].__module__.removeprefix("lsd_spark.")
    return "operators" if mod.startswith("operators.") else mod


def sky_sql() -> str:
    from lsd_spark.plans.sphere import DEC_SPARK_SQL, RA_SPARK_SQL

    return f"SELECT event_id, {RA_SPARK_SQL} AS ra, {DEC_SPARK_SQL} AS dec FROM events"


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path) for f in files
    )


class StreamCounters(StreamingQueryListener):
    """Counts streaming progress events and sums their durations."""

    def __init__(self) -> None:
        self.batches = 0
        self.ms: dict[str, float] = defaultdict(float)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches += 1
        for k, v in event.progress.durationMs.items():
            self.ms[k] += v

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, dirs: dict[str, str]) -> None:
        self.workload = workload
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.traced = traced
        self.dirs = dirs
        self.work = os.path.join(dirs["work"], f"{workload}-{os.getpid()}")
        self.tracer = tr.Tracer()
        self.spark = None
        self.req = 0
        self.pass_no = -1
        self.requests: list[dict] = []     # kind, name, ms
        self.pass_walls: list[float] = []  # complete passes, run order
        self.pass_cpu: list[float] = []    # their CPU seconds, all processes
        self.failures: list[str] = []
        self.deferred: list = []           # (what, result, pin or region), checked after timing
        self.setup_reps: list[dict] = []
        # per_pass[pass][metric] -> summed value; per_call[metric] -> samples
        self.per_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.per_call: dict[str, list[float]] = defaultdict(list)
        self.report: dict[str, tuple[float, str]] = {}
        self.stream_s = 0.0

    # --- plumbing -------------------------------------------------------

    def _group(self, name: str) -> str:
        self.req += 1
        gid = f"perfbench-{self.req}"
        self.spark.sparkContext.setJobGroup(gid, name)
        return gid

    def _idle(self) -> None:
        self.spark.sparkContext.setJobGroup("perfbench-idle", "between requests")

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer, self.req) if self.traced else contextlib.nullcontext()

    def _counting(self) -> bool:
        """Whether per-layer counters are collected: traced runs, outside
        the warm-up (pass -1)."""
        return self.traced and self.pass_no >= 0

    def _record(self, kind: str, name: str, seconds: float) -> None:
        if self.pass_no < 0:
            return
        self.requests.append({"kind": kind, "name": name, "ms": seconds * 1e3})

    def _fail(self, msg: str) -> None:
        self.failures.append(msg)

    # --- set-up ---------------------------------------------------------

    def _tables(self) -> list[str]:
        from bench import WARM_TABLES

        return WARM_TABLES if self.workload == "adhoc" else ["events"]

    def _plan_ops(self) -> list[str]:
        from bench import HEADLINE

        return list(HEADLINE.values()) + [REGION_OP] if self.workload == "adhoc" else []

    def setup(self) -> float:
        """SETUP_REPS cold set-ups, each in a new SparkContext: session,
        operator registry, base tables loaded and persisted, plan cache
        filled for every cacheable op. Returns the median seconds; the
        first rep also pays the JVM launch."""
        from lsd_spark import catalog
        from lsd_spark.registry import QUERIES, UNCACHEABLE, clear_plan_cache, load_all
        from lsd_spark.session import get_spark

        sf_dir, tables = self.dirs["base"], self._tables()
        cores = os.environ["SPARK_GRAFT_CPUS"]  # set by run.contain
        total = []
        for _ in range(SETUP_REPS[self.workload]):
            if self.spark is not None:
                clear_plan_cache()
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            for t in tables:
                df = catalog.load(self.spark, sf_dir, t)
                df.persist()
                df.count()
            t2 = time.perf_counter()
            load_all()
            for op in self._plan_ops():
                if op not in UNCACHEABLE:
                    QUERIES[op](self.spark, sf_dir)
            t3 = time.perf_counter()
            total.append(t3 - t0)
            self.setup_reps.append({"session.start_s": t1 - t0,
                                    "catalog.load_s": t2 - t1,
                                    "registry.warm_s": t3 - t2})
        self.counters = tr.SparkCounters(self.spark)
        self._idle()
        return median(total)

    # --- requests -------------------------------------------------------

    def op_request(self, op: str, pin: dict) -> None:
        """Build ``op`` through the registry and collect it (Arrow) from
        a fresh Dataset."""
        from lsd_spark.registry import QUERIES

        layer = op_layer(op)
        gid = self._group(op)
        w0 = time.time()
        t0 = time.perf_counter()
        with self._span(op, layer):
            df = QUERIES[op](self.spark, self.dirs["base"])
            t1 = time.perf_counter()
            pdf = df.alias("perfbench").toPandas()
        t2 = time.perf_counter()
        w2 = time.time()
        self._idle()
        self._record("op", op, t2 - t0)
        self.deferred.append((op, pdf, pin))
        stale = self.counters.stale_stages(gid)
        if stale:
            self._fail(f"{op}: skipped stages {stale} reuse an earlier request's shuffle output")
        if self._counting():
            g = self.counters.group(gid)
            acc = self.per_pass[self.pass_no]
            acc[f"{layer}.wall_s"] += t2 - t0
            acc[f"{layer}.build_s"] += t1 - t0
            for c in ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes"):
                acc[f"{layer}.{c}"] += g[c]
            acc[f"{layer}.driver_s"] += tr.uncovered(w0, w2, g["intervals"])

    def fetch_request(self, db, region) -> None:
        gid = self._group("fetch")
        t0 = time.perf_counter()
        with self._span("fetch", "api"):
            df = db.query(sky_sql()).df(bounds=region)
            t1 = time.perf_counter()
            pdf = df.toPandas()
        t2 = time.perf_counter()
        self._idle()
        self._record("fetch", "fetch", t2 - t0)
        self.deferred.append(("fetch", pdf, region))
        if self._counting():
            g = self.counters.group(gid)
            for k, v in (("plan_ms", (t1 - t0) * 1e3), ("catalyst_ms", tr.catalyst_ms(df)),
                         ("exec_ms", (t2 - t1) * 1e3), ("jobs", g["jobs"]), ("tasks", g["tasks"])):
                self.per_call[f"api.{k}"].append(v)

    def random_region(self):
        from lsd_spark import bounds

        r = self.rng
        ra, dec = r.uniform(0.0, 360.0), r.uniform(-60.0, 60.0)
        ra2, dec2 = r.uniform(0.0, 340.0), r.uniform(-60.0, 45.0)
        return bounds.beam(ra, dec, r.uniform(4.0, 10.0)) | bounds.rectangle(
            ra2, ra2 + r.uniform(5.0, 15.0), dec2, dec2 + r.uniform(5.0, 15.0)
        )

    # --- workloads ------------------------------------------------------

    def adhoc_pass(self, pins) -> None:
        from bench import HEADLINE, RESET_BEFORE_RUN
        from lsd_spark.registry import drop_plans_matching

        ops = list(HEADLINE.items()) + [(REGION_OP, REGION_OP)]
        self.rng.shuffle(ops)
        for name, op in ops:
            for tag in RESET_BEFORE_RUN.get(name, []):
                drop_plans_matching(tag)
            self.op_request(op, pins[op])
            for _ in range(FETCHES_PER_OP):
                self.fetch_request(self.db, self.random_region())

    def ingest_pass(self, pins) -> None:
        from pyspark.sql import functions as F

        from lsd_spark import catalog
        from lsd_spark.sources import table_log as tl

        sf_dir = self.dirs["base"]
        events = catalog.load(self.spark, sf_dir, "events")
        ids, etypes = self.event_cols
        n = len(ids)
        nb = INGEST_BATCHES
        cuts = sorted(self.rng.sample(range(1, n // 50), nb - 1))
        edges = [0] + [c * 50 for c in cuts] + [n]
        table = os.path.join(self.work, f"ingest-{self.pass_no}-{self.req}")
        tl.init_table(table)
        rows_at: dict[int, int] = {}
        acc = self.per_pass[self.pass_no]
        for i in range(nb):
            lo, hi = edges[i], edges[i + 1]
            batch = events.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            self._group("append")
            t0 = time.perf_counter()
            with self._span("append", "sources.table_log"):
                files = tl.write_data_files(batch, table, f"b{i:03d}")
                t1 = time.perf_counter()
                stats = tl.parquet_file_stats(files, ["event_id"])
                t2 = time.perf_counter()
                v = tl.commit(table, files, "broker", stats=stats)
            t3 = time.perf_counter()
            rows_at[v] = hi
            qlo = self.rng.randrange(0, hi)
            qhi = min(hi, qlo + self.rng.randrange(100, 800))
            et = self.rng.choice(EVENT_TYPES)
            self._group("read")
            t4 = time.perf_counter()
            with self._span("read_after_write", "sources.table_log"):
                df = tl.read_version(self.spark, table, v, prune=("event_id", qlo, qhi - 1))
                t5 = time.perf_counter()
                got = df.where(
                    (F.col("event_id") >= qlo) & (F.col("event_id") < qhi)
                    & (F.col("event_type") == et)
                ).count()
            t6 = time.perf_counter()
            self._idle()
            want = int(np.sum((ids >= qlo) & (ids < qhi) & (etypes == et)))
            if got != want:
                self._fail(f"ingest read v{v} [{qlo},{qhi}) {et}: {got} != {want}")
            self._record("append", "append", t3 - t0)
            self._record("read", "read", t6 - t4)
            acc["rows"] += hi - lo
            if self._counting():
                for k, sec in (("write_ms", t1 - t0), ("stats_ms", t2 - t1),
                               ("commit_ms", t3 - t2), ("read_plan_ms", t5 - t4),
                               ("read_exec_ms", t6 - t5)):
                    self.per_call[f"sources.table_log.{k}"].append(sec * 1e3)
                kept, total = tl.manifest_pruned(table, v, "event_id", qlo, qhi - 1)
                self.per_call["sources.table_log.files_kept_ratio"].append(len(kept) / total)
                self.per_call["files_total"].append(total)
            if (i + 1) % COMPACT_EVERY == 0:
                self._group("compact")
                t0 = time.perf_counter()
                with self._span("compact", "sources.table_log"):
                    v = tl.compact(self.spark, table)
                t1 = time.perf_counter()
                self._idle()
                rows_at[v] = hi
                self._record("compact", "compact", t1 - t0)
                if self._counting():
                    self.per_call["sources.table_log.compact_s"].append(t1 - t0)
        latest = tl.latest_version(table)
        for v in range(1, latest + 1):
            got = sum(pq.ParquetFile(f).metadata.num_rows for f in tl.manifest(table, v))
            want = max(r for w, r in rows_at.items() if w <= v)
            if got != want:
                self._fail(f"ingest version {v}: {got} rows, expected {want}")
        user = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
        data = du(os.path.join(table, "data"))
        log = du(os.path.join(table, tl.LOG_DIR))
        acc["bytes_per_user_byte"] = (data + log) / user
        acc["sources.table_log.data_bytes"] = data
        acc["sources.table_log.log_bytes"] = log
        acc["sources.table_log.files_per_version"] = len(tl.manifest(table, latest)) / latest
        shutil.rmtree(table, ignore_errors=True)

    def stream_round(self, pins) -> None:
        """The streaming sink and source ops once, under a listener that
        sums their micro-batch progress (traced runs only)."""
        listener = StreamCounters()
        self.spark.streams.addListener(listener)
        t0 = time.perf_counter()
        for op in STREAM_OPS:
            self.op_request(op, pins[op])
        self.stream_s = time.perf_counter() - t0
        self.spark.streams.removeListener(listener)
        p = "sources.table_log."
        self.report[p + "stream_batches"] = (listener.batches, "count")
        for key, name in (("queryPlanning", "stream_planning_ms"),
                          ("addBatch", "stream_add_batch_ms"),
                          ("triggerExecution", "stream_trigger_ms")):
            self.report[p + name] = (listener.ms[key], "ms")

    # --- driver loop ------------------------------------------------------

    def measure(self, pins) -> None:
        from lsd_spark import api

        step = self.adhoc_pass if self.workload == "adhoc" else self.ingest_pass
        os.makedirs(self.work, exist_ok=True)
        if self.workload == "adhoc":
            self.db = api.DB(self.spark, self.dirs["base"],
                             warehouse=os.path.join(self.work, "warehouse"))
        if self.workload == "event_ingest":
            tab = pq.read_table(os.path.join(self.dirs["base"], "events.parquet"),
                                columns=["event_id", "event_type"])
            self.event_cols = (tab.column("event_id").to_numpy(),
                               np.asarray(tab.column("event_type").to_pylist()))
            # untimed warm-up passes: passes speed up by a third over the
            # first ten seconds while the JVM compiles the write and read
            # paths (adhoc has none: its pass is the session's first
            # contact with each op, as an analyst's is)
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < INGEST_WARMUP_S:
                self.ingest_pass(pins)
        sampler = tr.RssSampler()
        sampler.active.set()
        try:
            ticks = tr.cpu_ticks()
            start = time.perf_counter()
            # whole passes, started until the run's seconds have passed and
            # it has the requests the tail percentile needs
            while (time.perf_counter() - start < self.seconds
                   or len(self._latencies()) < tr.TAIL_MIN_SAMPLES):
                self.pass_no = len(self.pass_walls)
                t0, c0 = time.perf_counter(), tr.tree_cpu_s(os.getpid())
                with self._span(f"pass {self.pass_no}", "perfbench"):
                    step(pins)
                self.pass_walls.append(time.perf_counter() - t0)
                self.pass_cpu.append(tr.tree_cpu_s(os.getpid()) - c0)
            self.steal = tr.steal_share(ticks, tr.cpu_ticks())
            if self.workload == "event_ingest" and self.traced:
                self.stream_round(pins)
        finally:
            sampler.close()
        self.peak_rss, self.peak_parts = sampler.peak, sampler.parts

    def check(self) -> None:
        """Deferred result checks: pins for ops, DuckDB for fetches."""
        import duckdb

        from lsd_spark.plans.sphere import _sphere_points_sql

        with duckdb.connect() as con:
            con.sql(f"CREATE VIEW events AS SELECT * FROM "
                    f"'{os.path.join(self.dirs['base'], 'events.parquet')}'")
            for what, pdf, want in self.deferred:
                if what == "fetch":
                    ids = {r[0] for r in con.sql(
                        f"SELECT event_id FROM ({_sphere_points_sql(None)}) "
                        f"WHERE {want.refine_sql('ra', 'dec')}").fetchall()}
                    if list(pdf.columns) != ["event_id", "ra", "dec"] or set(pdf.event_id) != ids:
                        self._fail(f"fetch {want!r}: {len(pdf)} rows, DuckDB {len(ids)}")
                elif tr.result_pin(pdf) != want:
                    self._fail(f"{what}: {tr.result_pin(pdf)} != pinned {want}")

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to
        exit (closing its stdin ends it; its Python workers follow)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)

    # --- metrics ------------------------------------------------------------

    def _latencies(self) -> list[float]:
        """Latencies (ms) of the workload's primary request: a fetch
        (adhoc) or an append (event_ingest)."""
        primary = "fetch" if self.workload == "adhoc" else "append"
        return [r["ms"] for r in self.requests if r["kind"] == primary]

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (median(self.pass_cpu), "s"),
            "peak_python_rss_mb": (
                (self.peak_parts["python"] + self.peak_parts["workers"]) / 2**20, "MB"),
        }

    def by_name(self) -> dict[str, float]:
        names: dict[str, list[float]] = defaultdict(list)
        for r in self.requests:
            names[r["name"]].append(r["ms"])
        return {k: median(v) for k, v in names.items()}

    def extra_report(self) -> dict[str, tuple[float, str]]:
        """Figures printed beside the end-to-end set: wall-clock times,
        which follow the host's neighbours (see README), and
        workload-specific figures."""
        lat = self._latencies()
        p, tail = tr.tail_percentile(lat)  # measure() collects enough samples
        self.tail_note = f"p{p} of n={len(lat)}"
        out: dict[str, tuple[float, str]] = {
            "pass_s": (median(self.pass_walls), "s"),
            "request_p50_ms": (median(lat), "ms"),
            "request_tail_ms": (tail, "ms"),
        }
        attempted = max(1, len(self.requests))
        out["failed_frac"] = (len(self.failures) / attempted, "ratio")
        out["peak_rss_mb"] = (self.peak_rss / 2**20, "MB")
        if self.per_call.get("files_total"):
            out["sources.table_log.files_total"] = (median(self.per_call["files_total"]), "count")
        for part, peak in self.peak_parts.items():
            out[f"peak_rss_{part}_mb"] = (peak / 2**20, "MB")
        if self.workload == "event_ingest":
            reads = [r["ms"] for r in self.requests if r["kind"] == "read"]
            out["fresh_read_p50_ms"] = (median(reads), "ms")
            rows = [self.per_pass[k]["rows"] for k in range(len(self.pass_walls))]
            out["ingest_rows_per_s"] = (
                median([r / w for r, w in zip(rows, self.pass_walls)]), "rows/s")
            if self.traced:
                out["stream_s"] = (self.stream_s, "s")
            out["bytes_per_user_byte"] = (
                median([self.per_pass[k]["bytes_per_user_byte"]
                           for k in range(len(self.pass_walls))]), "ratio")
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer over the run (span minus
        child spans). The ``perfbench`` layer is the benchmark's own
        time inside passes: result bookkeeping and counter reads."""
        out: dict[str, float] = defaultdict(float)
        for sid, sec in tr.self_times(self.tracer.spans).items():
            out[self.tracer.spans[sid].layer] += sec
        return dict(out)

    def dump_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([vars(s) for s in self.tracer.spans], fh)

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Every per-layer metric: medians of per-call samples, of
        per-pass sums, or of the set-ups; 0 for a layer with no calls."""
        passes = range(len(self.pass_walls))
        setup = {k: median([r[k] for r in self.setup_reps]) for k in SETUP_LAYERS}
        out: dict[str, tuple[float, str]] = {}
        for name in layer_metric_names():
            if name in self.per_call:
                val = median(self.per_call[name])
            elif name in self.report:
                val = self.report[name][0]
            elif name in setup:
                val = setup[name]
            elif name == "trace.pass_s":
                val = median(self.pass_walls)
            else:
                val = median([self.per_pass[k].get(name, 0.0) for k in passes])
            out[name] = (val, layer_unit(name))
        return out
