"""The benchmark's workloads: drip and analytics.

Each workload drives the public API of dat_archive_map_reduce_spark and
fills a ``Report``: attempted/failed op counts, the end-to-end metrics
every workload shares (``E2E``), the per-layer metrics of a traced run
(``PER_LAYER``), and detail lines naming metrics in the workload's own
terms.

An *op* is the workload's unit of user-visible work:

- drip: one step, from the start of ``append_changes`` to the first
  verifying read that returns the new values;
- analytics: one registry query, planned and collected to pandas.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import corpus as C
from perfbench import probes
from perfbench.maps import map_tags
from perfbench.tables import QUERY_NAMES
from perfbench.trace import Tracer

VIEWS = ("by_tag", "tag_count", "tag_sum")
# read ops of the serving path: (op, view), timed one at a time in traced runs
READ_OPS = (
    ("get", "tag_count"),
    ("list", "tag_count"),
    ("get_many", "tag_sum"),
    ("get_mapped", "by_tag"),
    ("list_mapped", "by_tag"),
)
ENGINE_OPS = ("backfill", "drip_step") + tuple(op for op, _v in READ_OPS)
WAIT_TIMEOUT_S = 30.0
# no op starts that would be expected to end later than this many seconds
# after set-up began: a run must finish within 180 s on a contended host
DEADLINE_S = 125.0

E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "cpu_s_per_op": "s",
}


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "sources.append_s": "s",
        "sources.append_rows_per_s": "1/s",
        "sources.latest_wins_s": "s",
        "watch.drain_s": "s",
        "watch.batches_per_drain": "count",
        "watch.commit_wait_s": "s",
        "watch.batches_per_step": "count",
        "map_reduce.run_map_rows_per_s": "1/s",
        "map_reduce.emits_per_file": "count",
        "map_reduce.reduce_s": "s",
        "catalog.bytes_written_per_step": "bytes",
        "catalog.files_written_per_step": "count",
        "catalog.snapshots": "count",
        "catalog.store_bytes_per_input_byte": "ratio",
        "catalog.reduced_scan_s": "s",
        "catalog.entries_scan_s": "s",
        "engine.entries_df_build_ms_cold": "ms",
        "engine.entries_df_build_ms_warm": "ms",
        "backfill.files_per_s": "1/s",
    }
    for op, _view in READ_OPS:
        units[f"engine.{op}_ms"] = "ms"
    for op in ENGINE_OPS:
        units[f"spark.jobs_per_op.{op}"] = "count"
        units[f"spark.stages_per_op.{op}"] = "count"
        units[f"spark.tasks_per_op.{op}"] = "count"
    for q in QUERY_NAMES:
        units[f"analytics.{q}_s"] = "s"
        units[f"spark.jobs_per_op.{q}"] = "count"
    units.update(
        {
            "jvm.gc_s": "s",
            "jvm.live_heap_mb": "MB",
            "jvm.rss_peak_mb": "MB",
            "python.rss_peak_mb": "MB",
            "host.steal_pct": "%",
            "trace.spans": "count",
            "trace.overhead_pct": "%",
        }
    )
    return units


PER_LAYER = _per_layer_units()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Report:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    # (name, value, unit, samples): the workload's metrics in its own terms
    detail: list[tuple[str, float, str, int]] = field(default_factory=list)

    def check(self, what: str, expected, actual) -> bool:
        self.attempted += 1
        if C.same(expected, actual):
            return True
        self.fail(f"{what}: expected {str(expected)[:200]} got {str(actual)[:200]}")
        return False

    def error(self, what: str) -> None:
        """An op that raised: attempted and failed."""
        self.attempted += 1
        self.fail(f"{what}: {traceback.format_exc(limit=3)}")

    def fail(self, message: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(message)


@dataclass
class Ctx:
    spark: object
    root: str
    tmp: str
    seed: int
    size: C.Size
    seconds: float
    trace: bool
    t_start: float  # perf_counter when the session start began
    session_s: float = 0.0  # package import and Spark session start
    corrupt: bool = False
    tracer: Tracer = field(init=False)
    jobs: probes.SparkJobs = field(init=False)
    jvm: probes.Jvm = field(init=False)
    report: Report = field(default_factory=Report)

    def __post_init__(self):
        self.tracer = Tracer(f"{self.seed}-{os.getpid()}", self.trace)
        self.jobs = probes.SparkJobs(self.spark)
        self.jvm = probes.Jvm(self.spark)

    def expect(self, value):
        """The expected value of a check; with ``corrupt`` set (the
        benchmark's own tests) the first one is deliberately wrong."""
        if self.corrupt:
            self.corrupt = False
            return {"corrupted": value}
        return value


class JobLog:
    """Spark job-id ranges per op kind, resolved to counts at the end."""

    def __init__(self, jobs: probes.SparkJobs):
        self.jobs = jobs
        self.ranges: dict[str, list[tuple[int, int]]] = {}

    def mark(self) -> int:
        return self.jobs.next_id()

    def add(self, op: str, first: int) -> None:
        self.ranges.setdefault(op, []).append((first, self.jobs.next_id()))

    def into(self, layer: dict) -> None:
        for op, ranges in self.ranges.items():
            per = [self.jobs.resolve(a, b) for a, b in ranges]
            for kind in ("jobs", "stages", "tasks"):
                name = f"spark.{kind}_per_op.{op}"
                if name in PER_LAYER:
                    layer[name] = median([p[kind] for p in per])


class Window:
    """The measured phase: wall time, process-tree CPU time, the host's
    steal share and JVM GC time between ``start()`` and ``stop()``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def start(self) -> "Window":
        self.t0 = time.perf_counter()
        self.cpu0 = probes.tree_cpu_s(os.getpid())
        self.steal0 = probes.host_steal_share()
        self.gc0 = self.ctx.jvm.gc_s()
        return self

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def may_start(self, expected_s: float) -> bool:
        """Whether an op expected to take ``expected_s`` ends before the
        run's deadline."""
        return time.perf_counter() + expected_s < self.ctx.t_start + DEADLINE_S

    def stop(self, ops: int, lat: list[float]) -> None:
        wall = self.elapsed()
        steal1 = probes.host_steal_share()
        ctx = self.ctx
        ctx.report.e2e.update(
            ops_per_s=ops / wall,
            op_p50_ms=median(lat) * 1e3,
            cpu_s_per_op=(probes.tree_cpu_s(os.getpid()) - self.cpu0) / max(1, ops),
        )
        ctx.report.layer["jvm.gc_s"] = ctx.jvm.gc_s() - self.gc0
        ctx.report.layer["host.steal_pct"] = (
            100.0 * (steal1[0] - self.steal0[0]) / max(1, steal1[1] - self.steal0[1])
        )


# ---------------------------------------------------------------------
# drip
# ---------------------------------------------------------------------


def define_views(db) -> None:
    db.define("by_tag", path=C.PATH_GLOB, map=map_tags)
    db.define("tag_count", path=C.PATH_GLOB, map=map_tags, reduce="count")
    db.define("tag_sum", path=C.PATH_GLOB, map=map_tags, reduce="sum", value_type="long")


class Engine:
    """A fresh warehouse with the three views, its model, and the
    listeners the drip loop waits on."""

    def __init__(self, ctx: Ctx, joblog: JobLog, corpus: C.Corpus):
        from dat_archive_map_reduce_spark import MapReduce

        self.ctx = ctx
        self.joblog = joblog
        self.corpus = corpus
        self.model = C.ViewModel()
        self.warehouse = os.path.join(ctx.tmp, "warehouse")
        self.db = MapReduce(ctx.spark, self.warehouse)
        define_views(self.db)
        self.cv = threading.Condition()
        self._updated: dict[str, int] = {}
        self.batches = 0
        self.input_bytes = 0
        self.append_s: list[float] = []
        self.append_rows = 0
        self.db.on("indexes-updated", self._on_updated)

    def _on_updated(self, origin: str, version: int) -> None:
        with self.cv:
            self._updated[origin] = max(version, self._updated.get(origin, 0))
            self.cv.notify_all()

    def on_batch(self, _batch_id: int, _n_origins: int) -> None:
        with self.cv:
            self.batches += 1

    def wait_versions(self, targets: dict[str, int]) -> bool:
        with self.cv:
            return self.cv.wait_for(
                lambda: all(self._updated.get(o, 0) >= v for o, v in targets.items()),
                timeout=WAIT_TIMEOUT_S,
            )

    def append(self, rows: list[dict], on: bool = True) -> None:
        t = time.perf_counter()
        with self.ctx.tracer.span("sources.append_changes", on=on):
            self.db.append_changes(C.engine_rows(rows))
        self.append_s.append(time.perf_counter() - t)
        self.append_rows += len(rows)
        self.input_bytes += sum(len(r["content"]) for r in rows if r["content"])
        self.model.apply(rows)

    def backfill(self, rows: list[dict]) -> float:
        """Append the base corpus ``rows`` and drain them with an
        availableNow watch; returns files/s. Ends with a checked get_many
        sample."""
        from dat_archive_map_reduce_spark.streaming.watch import watch

        ctx, rep = self.ctx, self.ctx.report
        first = self.joblog.mark()
        t = time.perf_counter()
        with ctx.tracer.span("backfill"):
            self.append(rows)
            t_drain = time.perf_counter()
            with ctx.tracer.span("watch.drain"):
                watch(self.db, on_batch=self.on_batch).awaitTermination()
            self.drain_s = time.perf_counter() - t_drain
        elapsed = time.perf_counter() - t
        self.joblog.add("backfill", first)
        self.batches_per_drain = self.batches
        keys = sorted({self.corpus.draw_tag() for _ in range(16)})
        for view in VIEWS:
            try:
                got = self.db.get_many(view, keys)
            except Exception:
                rep.error(f"backfill get_many {view}")
                continue
            rep.check(f"backfill get_many {view}", ctx.expect(self.model.get_many(view, keys)), got)
        return len(rows) / elapsed

    def read_op(self, op: str, view: str, rnd: random.Random) -> None:
        """One checked serving read with Zipf-drawn keys."""
        db, model, rep = self.db, self.model, self.ctx.report
        key = self.corpus.draw_tag(rnd)
        limit = 50 if op == "list_mapped" else 20
        if op in ("get", "get_mapped"):
            call, want = (lambda: db.get(view, key)), (lambda: model.get(view, key))
        elif op in ("list", "list_mapped"):
            call = lambda: db.list(view, gte=key, limit=limit)  # noqa: E731
            want = lambda: model.list(view, gte=key, limit=limit)  # noqa: E731
        else:
            keys = [key] + [self.corpus.draw_tag(rnd) for _ in range(15)]
            call, want = (lambda: db.get_many(view, keys)), (lambda: model.get_many(view, keys))
        try:
            got = call()
        except Exception:
            rep.error(f"{op} {view}")
            return
        rep.check(f"{op} {view} {key}", want(), got)

    def verify_all(self) -> None:
        """Full-state check: every view listed end to end."""
        rep = self.ctx.report
        for view in VIEWS:
            try:
                got = self.db.list(view)
            except Exception:
                rep.error(f"full list {view}")
                continue
            rep.check(f"full list {view}", self.model.list(view), got)

    def storage(self) -> tuple[int, int]:
        return probes.tree_usage(self.warehouse)

    def layer_probes(self, layer: dict) -> None:
        """Traced runs only, after the stream stopped: time each lazy
        layer by forcing it with count(), and each read op alone."""
        from pyspark.sql import functions as F

        from dat_archive_map_reduce_spark import MapReduce
        from dat_archive_map_reduce_spark.operators.map_reduce import reduce_entries, run_map
        from dat_archive_map_reduce_spark.sources.files import glob_filter, latest_wins

        tr, db = self.ctx.tracer, self.db
        key_types = db.views["by_tag"].key_types()

        def timed(name, fn):
            t = time.perf_counter()
            with tr.span(name):
                out = fn()
            return out, time.perf_counter() - t

        files = latest_wins(glob_filter(db.changelog.read(), C.PATH_GLOB))
        _, layer["sources.latest_wins_s"] = timed("sources.latest_wins", files.count)
        puts = files.filter(F.col("type") == "put")
        n_files = puts.count()
        entries = run_map(puts, map_tags, key_types)
        n_entries, run_map_s = timed("map_reduce.run_map", entries.count)
        layer["map_reduce.run_map_rows_per_s"] = n_entries / run_map_s
        layer["map_reduce.emits_per_file"] = n_entries / max(1, n_files)
        _, layer["map_reduce.reduce_s"] = timed(
            "map_reduce.reduce_entries", reduce_entries(entries, "count", key_types).count
        )
        _, layer["catalog.reduced_scan_s"] = timed(
            "catalog.reduced_scan", db.reduced_df("tag_count").count
        )
        _, layer["catalog.entries_scan_s"] = timed(
            "catalog.entries_scan", db.entries_df("by_tag").count
        )
        # a second engine on the same warehouse starts with an empty plan cache
        fresh = MapReduce(self.ctx.spark, self.warehouse)
        define_views(fresh)
        _, cold = timed("engine.entries_df", lambda: fresh.entries_df("by_tag"))
        _, warm = timed("engine.entries_df", lambda: fresh.entries_df("by_tag"))
        layer["engine.entries_df_build_ms_cold"] = cold * 1e3
        layer["engine.entries_df_build_ms_warm"] = warm * 1e3
        # each serving read alone, so its job ids are its own
        rnd = random.Random(self.ctx.seed + 11)
        for op, view in READ_OPS:
            times = []
            for _ in range(3):
                first = self.joblog.mark()
                t = time.perf_counter()
                with tr.span(f"engine.{op}"):
                    self.read_op(op, view, rnd)
                times.append(time.perf_counter() - t)
                self.joblog.add(op, first)
            layer[f"engine.{op}_ms"] = median(times) * 1e3


def _touched_tags(model: C.ViewModel, rows: list[dict]) -> list[str]:
    """Tags a step changes: the old tags of every touched file plus the
    new tags of its puts."""
    out: set[str] = set()
    for r in rows:
        out.update(model.tags_of(r["origin"] + r["pathname"]))
        out.update(r.get("_tags", []))
    return sorted(out)


def run_drip(ctx: Ctx) -> None:
    """Backfill a fresh warehouse, then run the continuous watch stream
    and a closed loop of one client: each step appends re-tagged puts and
    one delete to two origins, waits for their indexes-updated events and
    checks every view against the model."""
    rep, tr = ctx.report, ctx.tracer
    joblog = JobLog(ctx.jobs)
    # the inputs are made outside set-up: setup_s is the program's alone
    corpus = C.Corpus(ctx.seed, ctx.size)
    base = corpus.base_rows()
    t_setup = time.perf_counter()
    eng = Engine(ctx, joblog, corpus)
    fps = eng.backfill(base)
    setup_s = ctx.session_s + time.perf_counter() - t_setup
    lat: list[float] = []
    lat_traced: list[float] = []
    commit_wait: list[float] = []
    batches_per_step: list[int] = []
    written: list[tuple[int, int]] = []

    def step(i: int) -> bool:
        """One drip step; False when the stream stopped delivering."""
        rows = eng.corpus.drip_rows()
        targets = {r["origin"]: r["version"] for r in rows}
        touched = _touched_tags(eng.model, rows)
        # traced runs trace every other step; the rest measure the overhead
        traced = ctx.trace and i % 2 == 1
        before = eng.storage() if ctx.trace else None
        first = joblog.mark()
        with eng.cv:
            b0 = eng.batches
        t0 = time.perf_counter()
        with tr.span("drip_step", on=traced):
            eng.append(rows, on=traced)
            t_app = time.perf_counter()
            with tr.span("watch.indexes_updated_wait", on=traced):
                ok = eng.wait_versions(targets)
            t_vis = time.perf_counter()
            if not ok:
                rep.attempted += 1
                rep.fail(f"drip step {i}: no indexes-updated within {WAIT_TIMEOUT_S:.0f}s")
                return False
            try:
                with tr.span("engine.get_many", on=traced):
                    got = eng.db.get_many("tag_count", touched)
            except Exception:
                rep.error(f"drip step {i} get_many tag_count")
                return True
            t_read = time.perf_counter()
        want = ctx.expect(eng.model.get_many("tag_count", touched))
        if rep.check(f"drip step {i} tag_count", want, got):
            (lat_traced if traced else lat).append(t_read - t0)
            commit_wait.append(t_vis - t_app)
        with eng.cv:
            batches_per_step.append(eng.batches - b0)
        for view in ("tag_sum", "by_tag"):
            try:
                got = eng.db.get_many(view, touched)
            except Exception:
                rep.error(f"drip step {i} get_many {view}")
                continue
            rep.check(f"drip step {i} {view}", eng.model.get_many(view, touched), got)
        joblog.add("drip_step", first)
        if ctx.trace:
            after = eng.storage()
            written.append((after[0] - before[0], after[1] - before[1]))
        return True

    query = eng.db.watch_views(on_batch=eng.on_batch)
    try:
        window = Window(ctx).start()
        steps, last = 0, 0.0
        while steps < ctx.size.min_steps or window.elapsed() < ctx.seconds:
            if steps and not window.may_start(last):
                break
            t = time.perf_counter()
            delivered = step(steps)
            last = time.perf_counter() - t
            steps += 1
            if not delivered:
                break
        window.stop(steps, lat)
        eng.verify_all()
    finally:
        query.stop()
    store = eng.storage()[0] / eng.input_bytes
    rep.e2e["setup_s"] = setup_s
    rep.detail += [
        ("backfill_files_per_s", fps, "1/s", 1),
        ("drip_visible_p50_s", median(lat), "s", len(lat)),
        ("store_bytes_per_input_byte", store, "ratio", 1),
    ]
    if ctx.trace:
        layer = rep.layer
        layer["jvm.live_heap_mb"] = ctx.jvm.live_heap_mb()
        layer["sources.append_s"] = median(eng.append_s)
        layer["sources.append_rows_per_s"] = eng.append_rows / sum(eng.append_s)
        layer["watch.drain_s"] = eng.drain_s
        layer["watch.batches_per_drain"] = eng.batches_per_drain
        layer["watch.commit_wait_s"] = median(commit_wait)
        layer["watch.batches_per_step"] = median(batches_per_step)
        layer["backfill.files_per_s"] = fps
        layer["catalog.bytes_written_per_step"] = median([w[0] for w in written])
        layer["catalog.files_written_per_step"] = median([w[1] for w in written])
        layer["catalog.snapshots"] = probes.snapshot_dirs(eng.warehouse)
        layer["catalog.store_bytes_per_input_byte"] = store
        if lat and lat_traced:
            layer["trace.overhead_pct"] = (median(lat_traced) / median(lat) - 1) * 100
        eng.layer_probes(layer)
        joblog.into(layer)


# ---------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------


def _collect(query, spark, data: str):
    return query(spark, data).toPandas()


def run_analytics(ctx: Ctx) -> None:
    """Generate the tables and hash the DuckDB oracle's answers, warm up,
    then run closed-loop passes of the registry queries. Every result is
    kept and hash-checked against the oracle after the measured phase,
    so neither set-up nor the measured phase pays for the checks."""
    from dat_archive_map_reduce_spark.queries import QUERIES
    from perfbench import tables

    rep, tr = ctx.report, ctx.tracer
    data = os.path.join(ctx.tmp, "tables")
    tables.generate(data, ctx.seed, ctx.size.table_scale)
    oracle = tables.Oracle(ctx.root, data)
    t_setup = time.perf_counter()
    joblog = JobLog(ctx.jobs)
    per_query: dict[str, list[float]] = {q: [] for q in QUERY_NAMES}
    pass_s: list[float] = []
    traced_pass_s: list[float] = []
    # (label, query, pandas result), checked once the measured phase ended
    results: list[tuple[str, str, object]] = []

    def one_pass(p: int) -> float:
        """Pass 0 is set-up; traced runs trace every other measured pass
        and the rest measure the overhead."""
        measured = p > 0
        traced = ctx.trace and measured and p % 2 == 0
        total = 0.0
        for q in QUERY_NAMES:
            first = joblog.mark()
            t = time.perf_counter()
            try:
                with tr.span(f"analytics.{q}", on=traced):
                    pdf = _collect(QUERIES[q], ctx.spark, data)
            except Exception:
                rep.error(f"analytics pass {p} {q}")
                continue
            dt = time.perf_counter() - t
            total += dt
            results.append((f"analytics pass {p} {q}", q, pdf))
            if measured:
                joblog.add(q, first)
                per_query[q].append(dt)
        if measured:
            (traced_pass_s if traced else pass_s).append(total)
        return total

    # warm-up: one concurrent round pays plan compilation, JIT and Python
    # worker start on every core at once; the sequential pass after it
    # still runs about a sixth slower than later passes, so it is set-up too
    threads = ctx.spark.sparkContext.defaultParallelism
    with ThreadPoolExecutor(max_workers=threads) as pool:
        for q, fut in [(q, pool.submit(_collect, QUERIES[q], ctx.spark, data)) for q in QUERY_NAMES]:
            try:
                results.append((f"analytics warm-up {q}", q, fut.result()))
            except Exception:
                rep.error(f"analytics warm-up {q}")
    one_pass(0)
    rep.e2e["setup_s"] = ctx.session_s + time.perf_counter() - t_setup
    window = Window(ctx).start()
    passes, last = 0, 0.0
    min_passes = 2 if ctx.trace else 1
    # whole passes only: start one while it is expected to end in time
    while passes < min_passes or window.elapsed() + last <= ctx.seconds:
        if passes and not window.may_start(last):
            break
        last = one_pass(passes + 1)
        passes += 1
    window.stop(len(QUERY_NAMES) * passes, [x for v in per_query.values() for x in v])
    for label, q, pdf in results:
        rep.check(label, ctx.expect(oracle.expected[q]), oracle.signature(pdf))
    results.clear()
    rep.detail.append(("analytics_s", median(pass_s), "s", len(pass_s)))
    if ctx.trace:
        layer = rep.layer
        layer["jvm.live_heap_mb"] = ctx.jvm.live_heap_mb()
        for q in QUERY_NAMES:
            layer[f"analytics.{q}_s"] = median(per_query[q])
        if pass_s and traced_pass_s:
            layer["trace.overhead_pct"] = (median(traced_pass_s) / median(pass_s) - 1) * 100
        joblog.into(layer)


WORKLOADS = {"drip": run_drip, "analytics": run_analytics}
