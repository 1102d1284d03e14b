"""The closed-loop workloads: one client, one operation at a time, on
``local[nproc]``.

Each workload sets up (inputs generated from the seed, then an untimed
warm-up), runs its operation until the timed walls add up to the run
length, and checks every operation's output outside the timed walls.
In a traced run, operations alternate between untraced and traced, so
the run measures its own tracing overhead.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from cpu import CpuMeter
from feed import Feed, Transport, month_end, month_start
from spans import Tracer, jvm_pid, patched, proc_io
from truth import check_ids, check_silver, rowset, valid_ids

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
API_URL = "http://feed.invalid/fdsnws/event/1/query"
CLOCK = time.perf_counter

# ingest_backfill: one year through run_etl. The events are an
# aftershock swarm inside one week of September; the month request
# answers 503, so the pipeline retries the month week by week, and the
# swarm's week is served in two pages (400 + a short 200). The other 11
# months are empty. Each page and each landing costs about a second of
# Spark jobs, so this is the smallest year that pages and falls back.
BACKFILL_YEAR = 2021
BACKFILL_LIMIT = 400
BACKFILL_SWARM = (9, 600, (9, 14))  # (month, events, (first day, last day))
# untimed run_etl calls before timing: after one, the next still took
# 6.5-11 s; after two, its work CPU still fell by about 4% an operation
BACKFILL_WARM_OPS = 3

# catalog_headline: headline catalog entries over generated sf0.01 tables.
CATALOG_SF = 0.01
CATALOG_ENTRIES = (
    "a1_count_year_filter",
    "a3_fact_yearly",
    "a4_fact_monthly",
    "s6_projection",
    "q1_pricing_summary",
    "q3_top_orders",
    "dedup_exact_fingerprint",
    "text_token_stats",
    "asof_join_last_error",
    "curation_corpus_pipeline",
)

# plain passes after the checked one: over the first few the work CPU of
# a pass falls by about 5% a pass, after them by a percent or two
CATALOG_WARM_PASSES = 4

WARMUP = "warmup"


@dataclass
class Section:
    """What a timed section took: wall seconds, and for an untraced
    section the engine's work and JIT CPU seconds (cpu.py)."""

    wall: float = 0.0
    cpu: float = 0.0
    jit: float = 0.0


@dataclass
class Outcome:
    """What a workload run measured."""

    setup: dict[str, float] = field(default_factory=dict)
    walls: list[float] = field(default_factory=list)  # untraced ops
    traced_walls: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)  # untraced ops
    jit: list[float] = field(default_factory=list)  # untraced ops
    step_cpu: dict[str, list[float]] = field(default_factory=dict)  # untraced ops
    rows: list[float] = field(default_factory=list)  # rows per untraced op
    bytes_per_row: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)


def disk_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet files) of every regular file under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        # spark=None builds a workload that can only aggregate spans
        self.tracer = Tracer(spark and spark.sparkContext)
        self.out = Outcome()
        self.pid = spark and jvm_pid(spark)
        self.cpu = spark and CpuMeter(self.pid)
        self.check_s = self.check_cpu = 0.0  # output checks, wall and CPU
        self.transport: Transport | None = None
        self.roots = []  # top-level spans of traced ops
        self.wchar: list[int] = []  # JVM bytes written, per traced op
        self.landed: list[tuple[int, int]] = []  # bronze (bytes, files), per traced op
        self.rest = {"calls": 0, "useful": 0, "5xx": 0}  # over traced ops

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def op(self, i, traced: bool) -> Section:
        """One operation; returns its timed section."""
        raise NotImplementedError

    def run(self) -> Outcome:
        """Set up, then time operations; ``out.setup`` holds the wall
        and the work CPU of input generation and of the warm-up, less
        the warm-up's output checks."""
        t, c = CLOCK(), self.cpu.read()[0]
        self.prepare()
        self.out.setup["gen_s"] = CLOCK() - t
        self.out.setup["gen_cpu_s"] = self.cpu.read()[0] - c
        t, c = CLOCK(), self.cpu.read()[0]
        self.warmup()
        self.out.setup["warmup_s"] = CLOCK() - t - self.check_s
        self.out.setup["warmup_cpu_s"] = self.cpu.read()[0] - c - self.check_cpu
        timed, i = 0.0, 0
        # traced runs go untraced, traced, untraced, ...: the untraced
        # neighbours of a traced op cancel the warm-up trend in the
        # overhead ratio
        while timed < self.seconds or (self.trace and i < 3):
            traced = self.trace and i % 2 == 1
            sec = self.op(i, traced)
            if traced:
                self.out.traced_walls.append(sec.wall)
            else:
                self.out.walls.append(sec.wall)
                self.out.cpu.append(sec.cpu)
                self.out.jit.append(sec.jit)
            timed += sec.wall
            i += 1
        if self.trace:
            self.out.layer.update(self.layers())
        return self.out

    @contextlib.contextmanager
    def checking(self):
        """An output check: its wall and CPU are added up, so that the
        set-up can leave them out."""
        t, c = CLOCK(), self.cpu.read()[0]
        try:
            yield
        finally:
            self.check_s += CLOCK() - t
            self.check_cpu += self.cpu.read()[0] - c

    @contextlib.contextmanager
    def timed(self, i, traced: bool):
        """The timed section of operation ``i``; yields a :class:`Section`
        that holds its measurements when the section ends. A traced
        section is one top-level span with the layer functions patched."""
        sec = Section()
        if not traced:
            cpu, jit = self.cpu.read()
            t = CLOCK()
            yield sec
            sec.wall = CLOCK() - t
            cpu2, jit2 = self.cpu.read()
            sec.cpu, sec.jit = cpu2 - cpu, jit2 - jit
            return
        tr = self.transport
        before = (proc_io(self.pid, "wchar"),) + (
            (tr.calls, tr.pages_with_features, tr.status_5xx) if tr else (0, 0, 0)
        )
        with patched(self.tracer), self.tracer.span("op", f"op-{i}") as root:
            yield sec
        sec.wall = root.duration
        self.roots.append(root)
        self.wchar.append(proc_io(self.pid, "wchar") - before[0])
        if tr:
            self.rest["calls"] += tr.calls - before[1]
            self.rest["useful"] += tr.pages_with_features - before[2]
            self.rest["5xx"] += tr.status_5xx - before[3]

    def guarded(self, what: str, fn, n: int = 1):
        """Run ``fn``; an exception counts as ``n`` failed operations."""
        try:
            return fn()
        except Exception:  # the loop keeps running so the failure is reported
            self.out.fail(f"{what}: {traceback.format_exc(limit=4)}", n)
            return None

    def read_ids(self, path: str) -> list[str]:
        from usgs_earthquake_data_pipeline_spark import sinks

        df = sinks.read_partitioned_table(self.spark, path)
        return [r[0] for r in df.select("id").collect()]

    def silver_problems(self, yearly: str, monthly: str, features) -> list[str]:
        from usgs_earthquake_data_pipeline_spark import sinks

        read = sinks.read_partitioned_table
        return check_silver(
            read(self.spark, yearly).collect(), read(self.spark, monthly).collect(), features
        )

    def record_landing(self, bronze: str, rows: int, i, traced: bool) -> None:
        size, files = disk_usage(bronze)
        self.out.bytes_per_row = size / rows
        if traced:
            self.landed.append((size, files))
        elif i != WARMUP:
            self.out.rows.append(rows)

    # --- per-layer metrics, per traced operation --------------------------

    def layers(self) -> dict[str, float]:
        tr, roots, n = self.tracer, self.roots, len(self.roots)

        def per_op(name: str) -> dict:
            return {k: v / n for k, v in tr.totals(name, roots).items()}

        m: dict[str, float] = {}
        rest = per_op("sources.rest.fetch_earthquake_data_limit_offset")
        m["sources.rest.calls"] = rest["calls"]
        m["sources.rest.busy_s"] = rest["busy_s"]
        m["sources.rest.status_5xx"] = self.rest["5xx"] / n
        calls = self.rest["calls"]
        m["sources.rest.useful_ratio"] = self.rest["useful"] / calls if calls else 0.0
        geo = per_op("sources.geojson.events_from_geojson_strings")
        m["sources.geojson.calls"] = geo["calls"]
        m["sources.geojson.busy_s"] = geo["busy_s"]
        save = per_op("sinks.save_partitioned_table")
        for k in ("calls", "busy_s", "jobs", "tasks"):
            m[f"sinks.save_partitioned_table.{k}"] = save[k]
        m["sinks.read_partitioned_table.busy_s"] = per_op("sinks.read_partitioned_table")["busy_s"]
        size = sum(b for b, _ in self.landed)
        m["sinks.bronze_files"] = sum(f for _, f in self.landed) / n if self.landed else 0.0
        m["sinks.write_amplification"] = sum(self.wchar) / size if size else 0.0
        silver = per_op("operators.silver.build_silver_layer")
        m["operators.silver.build_silver_layer.busy_s"] = silver["busy_s"]
        m["operators.silver.build_silver_layer.jobs"] = silver["jobs"]
        ing = per_op("pipeline.ingest_window_paged")
        for k in ("calls", "busy_s", "self_s"):
            m[f"pipeline.ingest_window_paged.{k}"] = ing[k]
        # a window that raised was retried week by week (or skipped)
        m["pipeline.week_fallbacks"] = sum(
            1 for r in roots for s in tr.subtree(r)
            if s.name == "pipeline.ingest_window_paged" and s.error
        ) / n
        for entry in CATALOG_ENTRIES:
            t = per_op(f"plans.{entry}")
            m[f"plans.{entry}.busy_s"] = t["busy_s"]
            m[f"plans.{entry}.jobs"] = t["jobs"]
        ops = per_op("op")
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            m[f"spark.{k}"] = ops[k]
        m["bench.op_wall_p50_s"] = statistics.median(self.out.walls)
        m["jvm.jit_cpu_s"] = statistics.median(self.out.jit)
        m["trace.overhead_ratio"] = (
            statistics.median(self.out.traced_walls) / statistics.median(self.out.walls)
        )
        m["trace.coverage_ratio"] = sum(r.duration for r in roots) / sum(self.out.traced_walls)
        m["bench.timed_ops"] = len(self.out.walls) + len(self.out.traced_walls)
        return m


class IngestBackfill(Workload):
    name = "ingest_backfill"

    def prepare(self) -> None:
        feed = Feed(self.seed)
        month, n, days = BACKFILL_SWARM
        feed.add_month(BACKFILL_YEAR, month, n, days)
        swarm = (month_start(BACKFILL_YEAR, month), month_end(BACKFILL_YEAR, month))
        self.transport = Transport(feed, {swarm})
        self.features = feed.all_features()
        self.expected = valid_ids(self.features)

    def warmup(self) -> None:
        for _ in range(BACKFILL_WARM_OPS):
            self.op(WARMUP, False)

    def op(self, i, traced: bool) -> float:
        from usgs_earthquake_data_pipeline_spark import pipeline

        base = os.path.join(self.work, f"backfill-{i}")
        bronze, yearly, monthly = (os.path.join(base, t) for t in ("bronze", "yearly", "monthly"))
        windows = len(pipeline.month_windows(BACKFILL_YEAR, BACKFILL_YEAR))
        self.out.attempted += windows
        with self.timed(i, traced) as sec:
            stats = self.guarded(
                f"run_etl {i}",
                lambda: pipeline.run_etl(
                    self.spark, BACKFILL_YEAR, BACKFILL_YEAR, bronze, yearly, monthly,
                    api_url=API_URL, limit=BACKFILL_LIMIT, http_get=self.transport,
                ),
                windows,
            )
        with self.checking():
            if stats is not None:
                problems = [f"failed window {w}" for w in stats.failed_windows]
                problems += check_ids(self.read_ids(bronze), self.expected)
                problems += self.silver_problems(yearly, monthly, self.features)
                if problems:
                    self.out.fail(f"backfill op {i}: {problems}", max(1, len(stats.failed_windows)))
                self.record_landing(bronze, len(self.expected), i, traced)
                if not traced and i != WARMUP:
                    self.out.step_cpu.setdefault("run_etl", []).append(sec.cpu)
            shutil.rmtree(base, ignore_errors=True)
        return sec


class CatalogHeadline(Workload):
    name = "catalog_headline"

    def prepare(self) -> None:
        spec = importlib.util.spec_from_file_location(
            "gen_testdata", os.path.join(ROOT, "tools", "gen_testdata.py")
        )
        gen = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gen)
        self.sf_dir = os.path.join(self.work, f"sf{CATALOG_SF}")
        with contextlib.redirect_stdout(io.StringIO()):
            gen.generate(CATALOG_SF, self.sf_dir, seed=self.seed)
        import pyarrow.parquet as pq

        size = rows = 0
        for f in os.listdir(self.sf_dir):
            path = os.path.join(self.sf_dir, f)
            size += os.path.getsize(path)
            rows += pq.ParquetFile(path).metadata.num_rows
        self.out.bytes_per_row = size / rows

    def warmup(self) -> None:
        """Pass 1 collects every entry and checks it against its DuckDB
        oracle (the comparison is not set-up time); then come plain
        passes, because the JIT is still far from done."""
        import duckdb

        from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG

        with self.checking():
            con = duckdb.connect()
            for f in sorted(os.listdir(self.sf_dir)):
                path = os.path.join(self.sf_dir, f)
                con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{path}'")
        self.expected_rows = {}
        for name in CATALOG_ENTRIES:
            entry = CATALOG[name]
            self.out.attempted += 1
            df = self.guarded(name, lambda: entry.spark_fn(self.spark, self.sf_dir))
            rows = None if df is None else self.guarded(name, df.collect)
            if rows is None:
                continue
            with self.checking():
                duck = con.sql(entry.oracle)
                want = rowset(list(duck.columns), duck.fetchall())
                if rowset(list(df.columns), rows) != want:
                    self.out.fail(f"{name}: rows differ from the DuckDB oracle")
                self.expected_rows[name] = len(want[1])
        con.close()
        for _ in range(CATALOG_WARM_PASSES):
            self.op(WARMUP, False)

    def op(self, i, traced: bool) -> Section:
        from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG

        counts, cpus = {}, {}
        with self.timed(i, traced) as sec:
            for name in CATALOG_ENTRIES:
                entry = CATALOG[name]
                span = self.tracer.span(f"plans.{name}") if traced else contextlib.nullcontext()
                cpu = self.cpu.read()[0]
                with span:
                    counts[name] = self.guarded(
                        name, lambda: entry.spark_fn(self.spark, self.sf_dir).count()
                    )
                cpus[name] = self.cpu.read()[0] - cpu
        self.out.attempted += len(CATALOG_ENTRIES)
        for name, n in counts.items():
            if n is not None and n != self.expected_rows.get(name):
                self.out.fail(f"{name}: count {n} != oracle {self.expected_rows.get(name)}")
            if not traced and i != WARMUP:
                self.out.step_cpu.setdefault(name, []).append(cpus[name])
        if not traced and i != WARMUP:
            self.out.rows.append(sum(n or 0 for n in counts.values()))
        return sec


WORKLOADS = {w.name: w for w in (IngestBackfill, CatalogHeadline)}
