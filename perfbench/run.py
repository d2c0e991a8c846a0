#!/usr/bin/env python3
"""The weather engine's benchmark: one closed-loop client, three workloads.

    python3 perfbench/run.py --workload etl_tick --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads:

- ``etl_backfill`` — ``run_batch_pipeline`` over a generated JSONL file
  of five-minute fetches x cities (the ``etl --fixture`` path), into a
  fresh table per op; one op = one whole replay of the file.
- ``etl_tick`` — back-to-back calls of the ``make_batch_processor``
  per-trigger body (the ``etl --live`` path) with a canned fetcher over
  the reference's 12 cities, into a table seeded with two years of
  history; one op = one tick.
- ``query_mix`` — whole passes over 9 read-only ops forced through the
  ``noop`` sink: four ad-hoc SQL queries over a seeded weather table via
  the ``sql`` CLI path, and five registry queries; one op = one query.

Inputs come from ``--seed`` and are made before timing starts. The run
warms up, times ops for ``--seconds``, then checks outputs against
DuckDB. With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` it wraps the program's public functions, enables Spark's
event log, traces every other pass (an untraced pass in between gives
the overhead), and prints the per-layer metrics.
The last stdout line is the result JSON; the line before it describes
the host and the run.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import datetime  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "openweathermapapi_etl_spark"
sys.path.insert(0, ROOT)

from perfbench import check, eventlog, gen  # noqa: E402
from perfbench.trace import Tracer, clipped, install, self_time, union_length  # noqa: E402

WORKLOADS = ("etl_backfill", "etl_tick", "query_mix")

# Sizes, chosen so one run with set-up and checks stays well under a
# minute on 4 cores.
BACKFILL_ROUNDS, BACKFILL_CITIES = 3, 600
BACKFILL_WARMUP_CITIES, BACKFILL_WARMUP_REPLAYS = 60, 3
TICK_HISTORY_DAYS, TICK_WARMUP, TICK_MAX = 730, 2, 400
MIX_HISTORY_DAYS = 90
MIX_CUSTOMERS, MIX_DOCS = 1500, 400

#: Registry queries in the mix: joins and aggregation, windows, exact
#: dedup and text operators. The heavier ones (set-similarity, vector
#: search, the c06 clustering loops) are left out so that a run with its
#: checks stays under a minute.
REGISTRY_MIX = [
    "flagship_q3",
    "b16_groupby_agg",
    "b23_ranking_windows",
    "c01_exact_dedup",
    "c04_boilerplate_strip",
]

#: Ad-hoc SQL over the ``weather`` view, written so Spark SQL and DuckDB
#: read it the same way. ``{day}`` is a date inside the seeded history.
WEATHER_SQL = {
    "weather_scan_all": "SELECT * FROM weather",
    "weather_daily_rollup": (
        "SELECT City_Name, CAST(Time AS DATE) AS day, COUNT(*) AS n_obs, "
        "MIN(Temperature) AS min_temp, MAX(Temperature) AS max_temp, "
        "CAST(SUM(CAST(Temperature AS DECIMAL(18, 2))) AS DOUBLE) AS sum_temp "
        "FROM weather GROUP BY City_Name, CAST(Time AS DATE)"
    ),
    "weather_city_day": (
        "SELECT * FROM weather WHERE City_Name = 'Rotterdam' "
        "AND Time >= TIMESTAMP '{day} 00:00:00' "
        "AND Time < TIMESTAMP '{day} 00:00:00' + INTERVAL 1 DAY ORDER BY Time"
    ),
    "weather_latest_per_city": (
        "SELECT w.City_Name, w.Time, w.Weather_Description, w.Temperature "
        "FROM weather w JOIN (SELECT City_Name, MAX(Time) AS Time FROM weather "
        "GROUP BY City_Name) m ON w.City_Name = m.City_Name AND w.Time = m.Time"
    ),
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "table_mb": "MB",
}

#: Per-layer metrics. Span times are given as shares of the op's wall
#: time, so a layer a workload does not call reads 0 as a ratio, never
#: as a constant time; the absolute times are the ones every op has.
PER_LAYER = (
    [
        "spark.jobs",
        "spark.stages",
        "spark.tasks",
        "spark.driver_only_s",
        "spark.stage_s",
        "spark.executor_run_s",
        "spark.executor_cpu_s",
        "spark.gc_share",
        "spark.input_mb",
        "spark.output_mb",
        "spark.shuffle_write_mb",
        "spark.spill_mb",
        "sources.read_json.calls",
        "sources.json_scans_per_batch",
        "pipeline.batches",
        "pipeline.transform_raw.share",
        "pipeline.run_batch_pipeline.self_share",
        "merge.upsert.share",
        "merge.upsert.self_share",
        "merge.keyed_upsert.share",
        "merge.overwrite.calls",
        "merge.overwrite.share",
        "merge.overwrite.driver_share",
        "merge.rows_written_per_doc",
        "merge.read.s",
        "merge.table_files",
        "streaming.process_batch.share",
        "streaming.fetch.share",
        "session.get_session_s",
    ]
    + [f"sql.{n}.read_share" for n in WEATHER_SQL]
    + [f"plans.{q}.build_share" for q in REGISTRY_MIX]
    + ["trace.overhead", "trace.spans_per_op"]
)


def per_layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("share") or last in ("overhead", "rows_written_per_doc"):
        return "ratio"
    if last.endswith("_mb"):
        return "MB"
    return "s" if last == "s" or last.endswith("_s") else "count"


@dataclass
class Op:
    op_id: str
    name: str
    start: float
    end: float
    docs: int
    ok: bool
    traced: bool
    table_files: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, as
    ``(percentile, value)`` by nearest rank; never below the median.
    With fewer than 21 samples that is the upper median."""
    v = sorted(values)
    n = len(v)
    k = max(n - 11, n // 2)
    return 100.0 * (k + 1) / n, v[k]


# -- host and Spark process -------------------------------------------------


def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024}


def configure_spark_env(work: str, host: dict, trace: bool) -> None:
    """Size the session for this host and keep its files in ``work``.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = f"{min(3072, host['ram_mb'] // 4)}m"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["nproc"]),
        SPARK_DRIVER_MEM=mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # A fixed heap from the start: no heap growth while timing.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{events}",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def _jvm():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw else None


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the driver JVM."""
    proc = _jvm()
    return _vm_hwm_mb(os.getpid()) + (_vm_hwm_mb(proc.pid) if proc else 0.0)


def stop_spark() -> None:
    """Stop the session, end the JVM and its Python workers, and wait."""
    if "pyspark" not in sys.modules:
        return
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = _jvm()
    if proc is None or proc.poll() is not None:
        return
    workers = _children(proc.pid)
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def dir_mb(path: str) -> float:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
    return total / (1024 * 1024)


# -- the program, loaded from the checkout ----------------------------------


class Program:
    """The engine's modules, imported after the Spark env is set."""

    def __init__(self) -> None:
        import importlib

        self.session = importlib.import_module(f"{PKG}.session")
        self.weather = importlib.import_module(f"{PKG}.pipeline.weather")
        self.source = importlib.import_module(f"{PKG}.streaming.source")
        self.merge = importlib.import_module(f"{PKG}.operators.merge")
        self.schemas = importlib.import_module(f"{PKG}.schemas")

    def table(self, root: str):
        return self.merge.VersionedParquetTable(root)

    def seed_table(self, spark, history_path: str, root: str) -> None:
        """Seed through the calls the batch body makes: transform_raw ->
        distinct -> VersionedParquetTable(root).upsert."""
        raw = spark.read.schema(self.schemas.WEATHER_RAW).parquet(history_path)
        staged = self.weather.transform_raw(raw).distinct()
        self.table(root).upsert(spark, staged, keys=self.schemas.WEATHER_KEYS)

    def export(self, spark, root: str):
        """The committed table, read through the public API, as Arrow."""
        return check.naive_timestamps(self.table(root).read(spark).toArrow())

    def table_files(self, root: str) -> int:
        version = self.table(root).current_version()
        d = os.path.join(root, f"v={version}")
        return sum(fn.endswith(".parquet") for _dp, _dn, fns in os.walk(d) for fn in fns)


def force(df) -> None:
    """Evaluate every output column (``count()`` would let Catalyst prune)."""
    df.write.format("noop").mode("overwrite").save()


def table_matches(con, arrow_table, expected_sql: str) -> bool:
    con.register("got_table", arrow_table)
    got = (
        "SELECT epoch_ms(Time) // 1000 AS t, City_Name, Weather_Description, "
        "Temperature FROM got_table"
    )
    return check.same_rows(con, got, expected_sql)


# -- workloads ----------------------------------------------------------------


class Workload:
    """``setup`` makes inputs and warms up; ``op(k)`` returns the k-th
    timed op as ``(name, fn, docs)``; ``verify`` checks outputs and
    returns ``(checks attempted, checks failed)``."""

    whole_passes = 1  # the timed loop stops only at a multiple of this

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.prog: Program = ctx.prog
        self.spark = ctx.spark
        self.work = ctx.work
        self.seed = ctx.seed

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def write_history(self, days: int, name: str = "history.parquet") -> str:
        import pyarrow.parquet as pq

        path = self.path("in", name)
        pq.write_table(gen.history_table(self.seed, days), path)
        return path


class EtlBackfill(Workload):
    def setup(self) -> None:
        self.lines = gen.backfill_docs(self.seed, BACKFILL_ROUNDS, BACKFILL_CITIES)
        self.jsonl = self.path("in", "docs.jsonl")
        with open(self.jsonl, "w") as fh:
            fh.write("\n".join(self.lines) + "\n")
        self.roots: dict[str, str] = {}
        # Small replays with the same batches warm the JVM and codegen.
        warm = self.path("in", "warmup.jsonl")
        with open(warm, "w") as fh:
            lines = gen.backfill_docs(self.seed, BACKFILL_ROUNDS, BACKFILL_WARMUP_CITIES)
            fh.write("\n".join(lines) + "\n")
        for i in range(BACKFILL_WARMUP_REPLAYS):
            self.ctx.untimed("warmup", lambda i=i: self.replay(warm, self.path("warm", f"t{i}")))

    def replay(self, jsonl: str, root: str) -> None:
        self.prog.weather.run_batch_pipeline(self.spark, jsonl, root)

    def op(self, k: int):
        root = self.path("tables", f"t{k}")
        self.roots[f"op{k}"] = root
        return "etl_backfill", lambda: self.replay(self.jsonl, root), len(self.lines)

    def table_root(self, op: Op) -> str:
        return self.roots[op.op_id]

    def verify(self, ops: list[Op]) -> tuple[int, int]:
        import duckdb

        con = duckdb.connect()
        raw = check.raw_batches([(0, [json.loads(ln) for ln in self.lines])])
        con.register("raw_docs", raw)
        expected = check.expected_weather("raw_docs")
        failed = 0
        for op in ops:
            if op.ok and not table_matches(con, self.prog.export(self.spark, self.roots[op.op_id]), expected):
                failed += 1
        return len(ops), failed

    def table_mb(self, ops: list[Op]) -> float:
        return dir_mb(self.roots[ops[-1].op_id])


class EtlTick(Workload):
    def setup(self) -> None:
        self.docs = gen.tick_docs(self.seed, TICK_MAX)
        self.tick = 0
        tracer = self.ctx.tracer

        def fetch(city: str) -> dict:
            with tracer.span("streaming.fetch") if tracer else contextlib.nullcontext():
                return self.docs[self.tick][city]

        def processor(root: str):
            return self.prog.source.make_batch_processor(
                self.spark, fetch, self.prog.table(root), self.prog.source.DEFAULT_CITIES
            )

        # Warm the seed and tick paths on a two-day table first: cheap
        # ticks that compile the same plans the timed ticks run.
        warm_history = self.write_history(2, "warm_history.parquet")
        warm_root = self.path("tables", "warm")
        self.ctx.untimed("warmup", lambda: self.prog.seed_table(self.spark, warm_history, warm_root))
        warm = processor(warm_root)
        for i in range(TICK_WARMUP):
            self.tick = i
            self.ctx.untimed("warmup", lambda i=i: warm(None, i))
        self.history = self.write_history(TICK_HISTORY_DAYS)
        self.root = self.path("tables", "weather")
        self.ctx.untimed(
            "seed", lambda: self.prog.seed_table(self.spark, self.history, self.root)
        )
        self.process = processor(self.root)
        self.done: list[int] = []

    first = TICK_WARMUP  # index of the first timed tick

    def run_tick(self, i: int) -> None:
        self.tick = i
        self.process(None, i)
        self.done.append(i)

    def op(self, k: int):
        i = self.first + k
        if i >= TICK_MAX:
            raise RuntimeError("tick budget exhausted; raise TICK_MAX")
        return "etl_tick", lambda: self.run_tick(i), len(self.docs[i])

    def table_root(self, op: Op) -> str:
        return self.root

    def verify(self, ops: list[Op]) -> tuple[int, int]:
        import duckdb

        con = duckdb.connect()
        ticks = check.raw_batches([(i, list(self.docs[i].values())) for i in self.done])
        con.register("tick_docs", ticks)
        raw = (
            f"(SELECT *, -1 AS batch FROM read_parquet('{self.history}') "
            "UNION ALL SELECT * FROM tick_docs)"
        )
        ok = table_matches(con, self.prog.export(self.spark, self.root), check.expected_weather(raw))
        return len(ops), 0 if ok else len(ops)

    def table_mb(self, ops: list[Op]) -> float:
        return dir_mb(self.root)


class QueryMix(Workload):
    whole_passes = len(WEATHER_SQL) + len(REGISTRY_MIX)

    def setup(self) -> None:
        import importlib

        self.plans = importlib.import_module(f"{PKG}.plans")
        self.sf = os.path.join(self.work, "sf")
        self.tables = gen.registry_tables(self.seed, MIX_CUSTOMERS, MIX_DOCS)
        gen.write_registry_tables(self.tables, self.sf)
        self.history = self.write_history(MIX_HISTORY_DAYS)
        self.root = self.path("tables", "weather")
        self.ctx.untimed(
            "seed", lambda: self.prog.seed_table(self.spark, self.history, self.root)
        )
        day = datetime.date(2023, 6, 1) + datetime.timedelta(days=self.seed % 120)
        self.sql = {n: q.format(day=day.isoformat()) for n, q in WEATHER_SQL.items()}
        self.names = [f"sql.{n}" for n in WEATHER_SQL] + [f"plans.{q}" for q in REGISTRY_MIX]
        # The untimed check pass doubles as the warm-up: every op's plan
        # is built and run once before timing.
        with self.ctx.phase("check"):
            self.check_failures = self.check_pass()

    def sql_frame(self, name: str):
        """The ``sql`` CLI path: read the table, register the view, query."""
        t = self.prog.table(self.root)
        if t.exists():
            t.read(self.spark).createOrReplaceTempView("weather")
        return self.spark.sql(self.sql[name])

    def frame(self, op_name: str):
        kind, name = op_name.split(".", 1)
        if kind == "sql":
            return self.sql_frame(name)
        return self.plans.QUERIES[name](self.spark, self.sf)

    def op(self, k: int):
        name = self.names[k % len(self.names)]
        return name, lambda: force(self.frame(name)), 0

    def table_root(self, op: Op) -> str:
        return self.root

    def check_pass(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            path = os.path.join(self.sf, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failures: list[str] = []
        weather = self.prog.export(self.spark, self.root)
        con.register("weather", weather)
        raw = f"(SELECT *, -1 AS batch FROM read_parquet('{self.history}'))"
        if not table_matches(con, weather, check.expected_weather(raw)):
            failures.append("seed_table")
        for name in self.names:
            kind, short = name.split(".", 1)
            try:
                with self.ctx.group("check"), self.ctx.phase(f"check.{name}"):
                    if kind == "sql":
                        got = check.naive_timestamps(self.frame(name).toArrow())
                        con.register("got_rows", got)
                        ok = check.same_rows(con, "SELECT * FROM got_rows", self.sql[short])
                    else:
                        got = self.frame(name).toPandas()
                        ok = check.same_frame(got, con.execute(self.plans.ORACLES[short]).df())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                failures.append(name)
        return failures

    def verify(self, ops: list[Op]) -> tuple[int, int]:
        bad = set(self.check_failures)
        return len(self.names) + 1, len(bad) + sum(op.name in bad for op in ops)

    def table_mb(self, ops: list[Op]) -> float:
        return dir_mb(self.root)


WORKLOAD_CLASSES = {"etl_backfill": EtlBackfill, "etl_tick": EtlTick, "query_mix": QueryMix}


# -- the run --------------------------------------------------------------------


class Context:
    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = Tracer() if self.trace else None
        self.prog: Program | None = None
        self.spark = None
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def group(self, group_id: str):
        if self.trace:
            self.spark.sparkContext.setJobGroup(group_id, group_id)
        yield

    @contextlib.contextmanager
    def phase(self, name: str):
        """Add the block's wall time to ``phases[name]`` (reported in the
        detail line, to show where set-up time goes)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def untimed(self, group_id: str, fn) -> None:
        with self.group(group_id), self.phase(group_id):
            fn()


def timed_loop(ctx: Context, wl: Workload, seconds: float) -> list[Op]:
    """Run whole passes until less than half a pass of ``seconds`` is
    left, so the measured time stays near ``seconds`` whatever a pass
    costs (a traced run makes at least one traced and one untraced)."""
    ops: list[Op] = []
    pass_start = time.perf_counter()
    deadline = pass_start + seconds
    k = 0
    while True:
        name, fn, docs = wl.op(k)
        op_id = f"op{k}"
        # Traced and untraced passes alternate, so each op name gets both.
        traced = ctx.trace and (k // wl.whole_passes) % 2 == 0
        if ctx.trace:
            ctx.spark.sparkContext.setJobGroup(op_id, name)
            ctx.tracer.op, ctx.tracer.enabled = op_id, traced
        start = time.time()
        t0 = time.perf_counter()
        ok = True
        try:
            fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        if ctx.trace:
            ctx.tracer.enabled = False
        op = Op(op_id, name, start, start + wall, docs, ok, traced)
        if traced:
            op.table_files = ctx.prog.table_files(wl.table_root(op))
        ops.append(op)
        k += 1
        passes, rest = divmod(k, wl.whole_passes)
        if rest == 0:
            now = time.perf_counter()
            if deadline - now < (now - pass_start) / 2 and passes >= 1 + ctx.trace:
                return ops
            pass_start = now


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(ops: list[Op], setup_s: float, wl: Workload, rss: float) -> tuple[dict, dict]:
    """Op latencies are taken per op name, then combined across names by
    geometric mean: on the ETL workloads (one name) that is the op's own
    median and tail; on ``query_mix`` every query weighs the same."""
    walls = {n: [op.wall for op in ops if op.name == n] for n in dict.fromkeys(op.name for op in ops)}
    tails = {n: tail_percentile(w) for n, w in walls.items()}
    docs = sum(op.docs for op in ops)
    busy = sum(op.wall for op in ops)
    values = {
        "setup_s": setup_s,
        "op_p50_s": geomean(statistics.median(w) for w in walls.values()),
        "op_tail_s": geomean(t for _pct, t in tails.values()),
        "table_mb": wl.table_mb(ops),
    }
    detail = {
        "ops": len(ops),
        "tail_percentile": round(min(pct for pct, _t in tails.values()), 2),
        "docs_per_s" if docs else "ops_per_s": (docs or len(ops)) / busy,
        "peak_rss_mb": round(rss, 1),
        "op_walls_s": {n: [round(x, 3) for x in w] for n, w in walls.items()},
    }
    return values, detail


def per_layer(ctx: Context, ops: list[Op], groups: dict) -> dict:
    """Per-op layer numbers from spans and the event log; medians over
    the traced ops (over the ops of one name for per-query metrics)."""
    spans = ctx.tracer.spans
    rows: list[dict] = []
    for op in ops:
        if not op.traced:
            continue
        g = groups.get(op.op_id, eventlog.Group())
        stage_iv = [(s.start, s.end) for s in g.stages]
        row = {
            "spark.jobs": len(g.jobs),
            "spark.stages": len(g.stages),
            "spark.tasks": g.tasks,
            "spark.stage_s": union_length(stage_iv),
            "spark.driver_only_s": op.wall - union_length(clipped(stage_iv, op.start, op.end)),
            "spark.input_mb": g.input_bytes / eventlog.MB,
            "spark.output_mb": g.output_bytes / eventlog.MB,
            "spark.shuffle_write_mb": g.shuffle_write_bytes / eventlog.MB,
            "spark.executor_run_s": g.executor_run_s,
            "spark.executor_cpu_s": g.executor_cpu_s,
            "spark.gc_share": g.gc_s / g.executor_run_s if g.executor_run_s else 0,
            "spark.spill_mb": g.spill_bytes / eventlog.MB,
            "merge.table_files": op.table_files,
            "trace.spans_per_op": 0,
        }
        for sp in ctx.tracer.of_op(op.op_id):
            row["trace.spans_per_op"] += 1
            for key, v in ((".s", sp.duration), (".self_s", self_time(sp, spans)), (".calls", 1)):
                row[sp.name + key] = row.get(sp.name + key, 0) + v
            if sp.name == "merge.overwrite":
                jobs = clipped(g.jobs, sp.start, sp.end)
                row["merge.overwrite.driver_s"] = (
                    row.get("merge.overwrite.driver_s", 0) + sp.duration - union_length(jobs)
                )
        batches = row.get("merge.upsert.calls", 0)
        row["pipeline.batches"] = batches
        scans = sum(s.json_scan for s in g.stages)
        row["sources.json_scans_per_batch"] = scans / batches if batches else 0
        for key in list(row):
            for suffix, share in ((".s", ".share"), (".self_s", ".self_share"), (".driver_s", ".driver_share")):
                if key.endswith(suffix):
                    row[key[: -len(suffix)] + share] = row[key] / op.wall
        row["merge.rows_written_per_doc"] = g.output_records / op.docs if op.docs else 0
        if op.name.startswith("sql."):
            row[f"{op.name}.read_share"] = row.get("merge.read.share", 0)
        if op.name.startswith("plans."):
            row[f"{op.name}.build_share"] = row.get(f"{op.name}.build.share", 0)
        rows.append(row)
    out = {}
    for name in PER_LAYER:
        vals = [r[name] for r in rows if name in r]
        out[name] = statistics.median(vals) if vals else 0
    out["session.get_session_s"] = sum(
        s.duration for s in spans if s.name == "session.get_session" and s.op is None
    )
    out["trace.overhead"] = overhead(ops)
    return out


def overhead(ops: list[Op]) -> float:
    """Geometric mean over op names of median traced / untraced wall."""
    logs = []
    for name in {op.name for op in ops}:
        on = [op.wall for op in ops if op.name == name and op.traced]
        off = [op.wall for op in ops if op.name == name and not op.traced]
        if on and off:
            logs.append(math.log(statistics.median(on) / statistics.median(off)))
    return math.exp(statistics.fmean(logs)) if logs else 1.0


def run(args, work: str) -> tuple[dict, dict]:
    host = host_facts()
    configure_spark_env(work, host, bool(args.trace))
    ctx = Context(args, work)
    ctx.prog = Program()
    if ctx.tracer:
        install(ctx.tracer, REGISTRY_MIX if args.workload == "query_mix" else ())
        ctx.tracer.enabled = True
    with ctx.phase("session"):
        ctx.spark = ctx.prog.session.get_session("perfbench")
    if ctx.tracer:
        ctx.tracer.enabled = False
    wl = WORKLOAD_CLASSES[args.workload](ctx)
    with ctx.group("setup"):
        wl.setup()
    setup_s = time.time() - T_START
    ops = timed_loop(ctx, wl, args.seconds)
    with ctx.phase("verify"):
        checked, failed = wl.verify(ops)
    failed += sum(not op.ok for op in ops)
    rss = peak_rss_mb()
    values, detail = end_to_end(ops, setup_s, wl, rss)
    detail.update(host)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        spark=ctx.spark.version,
        java=ctx.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        driver_mem=os.environ["SPARK_DRIVER_MEM"],
        op_names=sorted({op.name for op in ops}),
        phases_s={k: round(v, 3) for k, v in ctx.phases.items()},
    )
    if ctx.trace:
        stop_spark()
        values = per_layer(ctx, ops, eventlog.parse_dir(os.path.join(work, "events")))
        units = {n: per_layer_unit(n) for n in PER_LAYER}
    else:
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(ops) + checked,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result, detail = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
