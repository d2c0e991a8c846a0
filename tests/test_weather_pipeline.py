"""Weather-domain tests (SURVEY.md §5.2 items 3-4): gold-input →
gold-output for the A3-A6 transform fine points, end-to-end pipeline
idempotence, and the canned-fetcher streaming source."""

from __future__ import annotations

import datetime
import json
import os
import random

import pytest
from pyspark.sql import functions as F

from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable
from openweathermapapi_etl_spark.pipeline.weather import (
    run_batch_pipeline,
    transform_raw,
)
from openweathermapapi_etl_spark.schemas import WEATHER_KEYS, WEATHER_RAW
from openweathermapapi_etl_spark.sources import read_json
from openweathermapapi_etl_spark.streaming.source import (
    http_microbatch_query,
    make_canned_fetcher,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "weather_raw.jsonl")


def make_raw(spark, docs):
    return spark.read.schema(WEATHER_RAW).json(
        spark.sparkContext.parallelize([json.dumps(d) for d in docs])
    )


DOC = {
    "dt": 1_690_000_000,  # 2023-07-22T04:26:40Z
    "timezone": 3600,
    "name": "Rotterdam",
    "weather": [
        {"id": 500, "main": "Rain", "description": "light rain", "icon": "10d"},
        {"id": 701, "main": "Mist", "description": "mist", "icon": "50d"},
    ],
    "main": {"temp": 18.5, "feels_like": 18.0, "humidity": 70},
}


def test_transform_naive_local_time(spark):
    """A5+A6: stored Time is naive local wall-clock = UTC + offset
    (ref weather-etl.py:126-128), not a zone conversion."""
    row = transform_raw(make_raw(spark, [DOC])).collect()[0]
    assert row.Time == datetime.datetime(2023, 7, 22, 5, 26, 40)  # UTC+1h
    assert row.City_Name == "Rotterdam"
    assert row.Temperature == 18.5


def test_transform_negative_offset(spark):
    doc = dict(DOC, timezone=-18000)
    row = transform_raw(make_raw(spark, [doc])).collect()[0]
    assert row.Time == datetime.datetime(2023, 7, 21, 23, 26, 40)  # UTC-5h


def test_transform_multi_element_array_join_order(spark):
    """A4: ', '-join in array order (ref weather-etl.py:130)."""
    row = transform_raw(make_raw(spark, [DOC])).collect()[0]
    assert row.Weather_Description == "light rain, mist"


def test_transform_empty_array(spark):
    doc = dict(DOC, weather=[])
    row = transform_raw(make_raw(spark, [doc])).collect()[0]
    assert row.Weather_Description == ""


def test_transform_missing_field_is_null_not_crash(spark):
    """Schema-first decode: a missing field is NULL (the reference's
    dict access would KeyError — SURVEY.md §1.3)."""
    doc = {k: v for k, v in DOC.items() if k != "main"}
    row = transform_raw(make_raw(spark, [doc])).collect()[0]
    assert row.Temperature is None


def test_pipeline_e2e_idempotent_rerun(spark, tmp_path):
    """§5.2 item 4: run the full pipeline twice → identical final table
    (A11 idempotence)."""
    t1 = run_batch_pipeline(spark, FIXTURE, str(tmp_path / "w1"))
    first = {tuple(r) for r in t1.read(spark).collect()}
    t2 = run_batch_pipeline(spark, FIXTURE, str(tmp_path / "w1"))
    second = {tuple(r) for r in t2.read(spark).collect()}
    assert first == second and len(first) > 0
    # PK holds (B22 over the weather table).
    dups = (
        t2.read(spark).groupBy("Time", "City_Name").count().filter("count > 1")
    ).collect()
    assert dups == []


def test_pipeline_null_dt_document_survives_replay(spark, tmp_path):
    """A document missing ``dt`` decodes as NULL under the schema-first
    contract (vs the reference's KeyError) — it must reach the table
    with a NULL Time, not silently vanish (a ``dt == None`` predicate
    never matches under three-valued logic, r12 review)."""
    no_dt = {k: v for k, v in DOC.items() if k != "dt"}
    no_dt["name"] = "NullDtCity"
    path = tmp_path / "docs_null_dt.jsonl"
    with open(path, "w") as fh:
        fh.write(json.dumps(DOC) + "\n")
        fh.write(json.dumps(no_dt) + "\n")
    table = run_batch_pipeline(spark, str(path), str(tmp_path / "wn"))
    rows = {
        (r["City_Name"], r["Time"] is None)
        for r in table.read(spark).collect()
    }
    assert ("NullDtCity", True) in rows, rows
    assert ("Rotterdam", False) in rows


def _replay_per_dt(spark, jsonl_path, table_root):
    """The oracle: the per-``dt`` replay ``run_batch_pipeline`` ran
    before it became one pass, kept verbatim — one reference cron run
    (one distinct ``dt``) at a time, each its own DISTINCT and upsert."""
    raw = read_json(spark, jsonl_path, WEATHER_RAW)
    table = VersionedParquetTable(table_root)
    batches = [r[0] for r in raw.select("dt").distinct().orderBy("dt").collect()]
    for dt in batches:
        pred = F.col("dt").isNull() if dt is None else F.col("dt") == dt
        batch = transform_raw(raw.filter(pred)).distinct()
        table.upsert(spark, batch, keys=WEATHER_KEYS)
    return table


_CITIES = {"Oslo": 3600, "Lima": -18000, "Pune": 19800}
_T0 = 1_700_000_000


def _random_docs(seed: int) -> list[dict]:
    """≤40 documents over 3 cities and 2-3 ``dt`` values an hour apart,
    with small value vocabularies so keys conflict. Every set holds
    exact duplicates, NULL and missing ``dt`` and ``timezone``, empty
    and missing ``weather`` arrays, and three cross-run collisions on
    one ``(Time, City_Name)`` key, each of which a wrong merge order
    gets wrong:

    - a DST collision (one city, two ``dt`` values whose offsets make
      ``dt + timezone`` equal) where the earlier run's row would win
      the tie-break;
    - the same row in two runs, with a lesser conflicting row in the
      later run (the DISTINCT must keep the runs apart);
    - a NULL-``dt`` row against a NULL-``timezone`` row of the same
      city: both have a NULL Time, and the run with a ``dt`` wins.
    """
    rng = random.Random(seed)
    dts = [_T0 + 3600 * k for k in range(rng.choice([2, 3]))]
    descs = ["rain", "mist", "clear sky", None]
    cities = sorted(_CITIES)

    def doc(name, dt, tz, temp, weather="random"):
        d = {"name": name, "main": {"temp": temp}}
        if dt != "missing":
            d["dt"] = dt
        if tz != "missing":
            d["timezone"] = tz
        if weather == "random":
            u = rng.random()
            if u < 0.1:
                weather = []
            elif u <= 0.9:
                weather = [
                    {"description": rng.choice(descs)}
                    for _ in range(rng.randint(1, 2))
                ]
            else:
                weather = None  # no weather array at all
        if weather is not None:
            d["weather"] = weather
        return d

    x, y, z = rng.sample(cities, 3)
    rain = [{"description": "rain"}]
    head = [
        doc(x, dts[0], _CITIES[x] + 3600, 21.0, rain),
        doc(x, dts[1], _CITIES[x], 20.0, rain),
        doc(y, dts[0], _CITIES[y] + 3600, 30.0, rain),
        doc(y, dts[1], _CITIES[y], 30.0, rain),
        doc(y, dts[1], _CITIES[y], 29.0, rain),
        doc(z, None, 0, 50.0, rain),
        doc(z, dts[0], None, 7.0, rain),
    ]
    docs = [
        doc(rng.choice(cities), "missing", 0, 6.0),
        doc(rng.choice(cities), rng.choice(dts), "missing", 8.0),
        doc(rng.choice(cities), rng.choice(dts), _CITIES[x], 9.0, []),
        doc(rng.choice(cities), rng.choice(dts), _CITIES[y], 9.5, None),
    ]
    while len(head) + len(docs) < rng.randint(20, 38):
        u = rng.random()
        if u < 0.15:
            docs.append(json.loads(json.dumps(rng.choice(docs))))  # exact dup
            continue
        name = rng.choice(cities)
        dt = rng.choice(dts + [None]) if u < 0.25 else rng.choice(dts)
        tz = None if rng.random() < 0.05 else _CITIES[name]
        docs.append(doc(name, dt, tz, rng.choice([10.0, 10.5, 11.0, None])))
    rng.shuffle(docs)
    return head + docs


def _rows(spark, table):
    return sorted(
        table.read(spark).collect(), key=lambda r: tuple(map(repr, r))
    )


@pytest.mark.parametrize("seed", range(12))
def test_one_pass_equals_per_dt_replay(spark, tmp_path, seed):
    """Structured Streaming's prefix-consistency rule for the backfill:
    the one-pass load and the sequential per-``dt`` replay of the same
    documents commit identical tables — including DST collisions, where
    the later ``dt`` must win, NULL ``dt`` and NULL ``timezone``. Every
    third set runs into a table that already holds rows, some of them
    under keys the file also carries."""
    docs = _random_docs(seed)
    path = tmp_path / "docs.jsonl"
    path.write_text("".join(json.dumps(d) + "\n" for d in docs))
    want_root, got_root = str(tmp_path / "want"), str(tmp_path / "got")
    if seed % 3 == 0:
        prior = [dict(d, main={"temp": -1.0}) for d in docs[:6:2]]
        prior.append(dict(DOC, name="Untouched"))
        staged = transform_raw(make_raw(spark, prior)).distinct()
        for root in (want_root, got_root):
            VersionedParquetTable(root).upsert(spark, staged, keys=WEATHER_KEYS)
    want = _rows(spark, _replay_per_dt(spark, str(path), want_root))
    got = _rows(spark, run_batch_pipeline(spark, str(path), got_root))
    assert got == want
    if seed % 3 == 0:
        assert "Untouched" in {r.City_Name for r in got}


def test_one_pass_job_count_and_commits_independent_of_dt_count(
    spark, tmp_path
):
    """The backfill is O(1) in the number of ``dt`` values: a file with
    one distinct ``dt`` and a file with six take the same number of
    Spark jobs, and each leaves a fresh table with exactly one commit."""
    sc = spark.sparkContext
    jobs, commits = [], []
    for n_dts in (1, 6):
        path = tmp_path / f"docs_{n_dts}.jsonl"
        path.write_text(
            "".join(
                json.dumps(dict(DOC, dt=DOC["dt"] + 300 * (i % n_dts), name=c))
                + "\n"
                for i, c in enumerate(["A", "B", "C"] * 6)
            )
        )
        root = tmp_path / f"t{n_dts}"
        group = f"one_pass_{n_dts}_{os.getpid()}"
        sc.setJobGroup(group, group)
        try:
            run_batch_pipeline(spark, str(path), str(root))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        commits.append(len((root / "_HISTORY.jsonl").read_text().splitlines()))
    assert jobs[0] == jobs[1] and jobs[0] > 0, jobs
    assert commits == [1, 1]


def test_streaming_http_source_canned(spark, tmp_path):
    """A1 via the rate-clock + injectable fetcher: one tick fetches all
    cities, transforms, and merges; a second tick upserts over it."""
    cities = ["CityA", "CityB"]
    doc_a = dict(DOC, name="CityA")
    doc_b = dict(DOC, name="CityB", main={"temp": 3.0, "feels_like": 1.0, "humidity": 50})
    fetcher = make_canned_fetcher(
        {"CityA": [doc_a, dict(doc_a, main={"temp": 21.0, "feels_like": 20.0, "humidity": 60})],
         "CityB": [doc_b, dict(doc_b)]}
    )
    root = str(tmp_path / "weather_stream")
    q = http_microbatch_query(
        spark, fetcher, root, cities=cities, interval="1 seconds"
    )
    try:
        table = VersionedParquetTable(root)
        import time

        deadline = time.time() + 60
        while time.time() < deadline and (table.current_version() or 0) < 2:
            time.sleep(0.5)
    finally:
        q.stop()
    assert (table.current_version() or 0) >= 2
    rows = {(r.City_Name, r.Temperature) for r in table.read(spark).collect()}
    # Same (dt, city) key across ticks → second fetch overwrote the first.
    assert ("CityA", 21.0) in rows and ("CityB", 3.0) in rows


def test_bronze_log_idempotent_on_batch_retry(spark, tmp_path):
    """A16 retry idempotence (round-3 fix): a failed micro-batch is
    re-entered by Spark with the SAME batch_id; the bronze zone writes
    mode=overwrite per batch dir, so the retry replaces rather than
    double-logs. Simulate the retry by invoking the batch processor
    twice with batch_id=0 and assert the bronze dir holds each city's
    document exactly once."""
    from openweathermapapi_etl_spark.streaming.source import make_batch_processor

    cities = ["CityA", "CityB"]
    docs = {
        "CityA": [dict(DOC, name="CityA"), dict(DOC, name="CityA")],
        "CityB": [dict(DOC, name="CityB"), dict(DOC, name="CityB")],
    }
    bronze = str(tmp_path / "bronze")
    table = VersionedParquetTable(str(tmp_path / "tbl"))
    process = make_batch_processor(
        spark, make_canned_fetcher(docs), table, cities, raw_log_root=bronze
    )
    process(None, 0)
    process(None, 0)  # the retry: same batch_id
    logged = spark.read.text(os.path.join(bronze, "batch=0"))
    assert logged.count() == len(cities)  # not 2x
    names = sorted(
        json.loads(r.value)["name"] for r in logged.collect()
    )
    assert names == ["CityA", "CityB"]
    # ...and the silver table stayed key-unique (M1 idempotence).
    dups = table.read(spark).groupBy("Time", "City_Name").count().filter(
        "count > 1"
    ).collect()
    assert dups == []


def test_processing_time_trigger_fires_on_real_clock(spark, tmp_path):
    """A12: the reference schedules on a real clock (cron */5,
    /root/reference/dags/weather-etl.py:46). Run the stream with a
    1-second ``processingTime`` trigger — NOT availableNow — let ≥2
    ticks fire on the wall clock, assert the batch count from the
    query's own progress log, and stop cleanly."""
    import time

    cities = ["CityA"]
    # Sized to outlast the worst case: 1s ticks for the full 60s poll
    # deadline on a loaded machine (round-4 advisor: a drained queue
    # kills the query mid-test with an opaque fetcher error instead of
    # a clear tick-count assertion).
    fetcher = make_canned_fetcher({"CityA": [dict(DOC, name="CityA")] * 120})
    root = str(tmp_path / "weather_clock")
    q = http_microbatch_query(
        spark, fetcher, root, cities=cities, interval="1 seconds"
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(q.recentProgress) < 3:
            time.sleep(0.5)
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination(30)
    batch_ids = {p["batchId"] for p in progress}
    assert len(batch_ids) >= 2, f"expected >=2 real-clock ticks, got {batch_ids}"
    assert not q.isActive  # clean stop
    assert VersionedParquetTable(root).current_version() >= 1


def test_failed_fetch_aborts_whole_batch(spark, tmp_path):
    """A7 atomicity: one city succeeds, the next raises — the batch
    must abort with NOTHING written (the reference commits once per
    run, after all cities: a failed HTTP call means no partial table,
    /root/reference/dags/weather-etl.py:119,143)."""
    import time

    cities = ["CityA", "CityBoom"]
    # CityA has a document; CityBoom's queue is empty → fetcher raises.
    fetcher = make_canned_fetcher({"CityA": [dict(DOC, name="CityA")]})
    root = str(tmp_path / "weather_atomic")
    q = http_microbatch_query(
        spark, fetcher, root, cities=cities, interval="1 seconds"
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and q.exception() is None:
            time.sleep(0.5)
        exc = q.exception()
    finally:
        q.stop()
    assert exc is not None  # the batch failed loudly (not A15 silence)
    # ...and atomically: no version was ever committed.
    assert VersionedParquetTable(root).current_version() is None


# ---------------------------------------------------------------------------
# A1 as a Spark-4 Python DataSource (streaming/http_datasource.py)
# ---------------------------------------------------------------------------


def _ds_stream(spark, canned: dict, cities: str):
    import json as _json

    from openweathermapapi_etl_spark.streaming.http_datasource import (
        WeatherHTTPDataSource,
    )

    spark.dataSource.register(WeatherHTTPDataSource)
    return (
        spark.readStream.format("weather_http")
        .option("cities", cities)
        .option("canned", _json.dumps(canned))
        .load()
    )


def test_http_datasource_emits_one_row_per_city_per_tick(spark):
    import json as _json
    import time

    canned = {c: [dict(DOC, name=c)] * 60 for c in ("CityA", "CityB")}
    stream = _ds_stream(spark, canned, "CityA,CityB")
    batches: list = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.collect())
        )
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and len(batches) < 2:
        time.sleep(0.5)
    assert q.exception() is None
    q.stop()
    q.awaitTermination()
    assert len(batches) >= 2
    first = sorted((r["city"], _json.loads(r["raw"])["name"]) for r in batches[0])
    assert first == [("CityA", "CityA"), ("CityB", "CityB")]


def test_http_datasource_failed_fetch_aborts_batch(spark):
    import time

    # CityBoom has NO canned responses: its fetch raises inside the
    # sweep, before any row is returned — the batch must abort with
    # ZERO rows committed (A7 atomicity through the DataSource API).
    canned = {"CityA": [dict(DOC, name="CityA")] * 5}
    stream = _ds_stream(spark, canned, "CityA,CityBoom")
    batches: list = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.collect())
        )
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and q.exception() is None:
        time.sleep(0.5)
    exc = q.exception()
    assert exc is not None and "CityBoom" in str(exc)
    assert batches == []  # nothing committed


def test_http_datasource_drives_full_pipeline_e2e(spark, tmp_path):
    """A1b end-to-end: the custom DataSource stream → parse raw JSON
    (WEATHER_RAW) → A3-A6 transform → A10 dedup → M1 merge into the
    versioned table — the whole reference DAG with the Spark-4-native
    source mounted at the front. Two ticks of identical canned docs
    must land exactly one row per city (idempotent merge), proving the
    DataSource flavor composes with the same downstream as the
    foreachBatch source."""
    import json as _json
    import time

    cities = ("Rotterdam", "Amsterdam")
    canned = {
        c: [dict(DOC, name=c)] * 60 for c in cities
    }
    stream = _ds_stream(spark, canned, ",".join(cities))
    table = VersionedParquetTable(str(tmp_path / "weather"))
    keys = ["City_Name", "Time"]

    from openweathermapapi_etl_spark.operators.merge import keyed_upsert

    def land(batch_df, _bid):
        rows = [r["raw"] for r in batch_df.collect()]
        raw = spark.read.schema(WEATHER_RAW).json(
            spark.sparkContext.parallelize(rows)
        )
        tidy = transform_raw(raw).dropDuplicates()
        cur = table.read(spark) if table.current_version() else None
        merged = keyed_upsert(cur, tidy, keys=keys) if cur is not None else tidy
        table.overwrite(merged)

    q = (
        stream.writeStream.foreachBatch(land)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and (table.current_version() or 0) < 2:
        time.sleep(0.5)
    assert q.exception() is None
    q.stop()
    q.awaitTermination()
    out = table.read(spark).collect()
    assert {r.City_Name for r in out} == set(cities)
    assert len(out) == 2  # identical ticks merged idempotently


# ---------------------------------------------------------------------------
# B64: Python DataSource SINK (sources/jsonl_datasource.py) — the writer
# half of the Spark 4 Python DataSource API, with the commit protocol
# (per-task commit messages -> driver commit/abort) proven both ways.
# ---------------------------------------------------------------------------


def _register_jsonl_sink(spark):
    from openweathermapapi_etl_spark.sources.jsonl_datasource import (
        JsonlDirDataSource,
    )

    try:
        spark.dataSource.register(JsonlDirDataSource)
    except Exception:
        pass  # already registered in this session


def test_jsonl_sink_commit_writes_manifest_and_roundtrips(spark, tmp_path):
    from openweathermapapi_etl_spark.sources.jsonl_datasource import (
        committed_files,
    )

    _register_jsonl_sink(spark)
    out = str(tmp_path / "sink")
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS doubled")
    df.repartition(4).write.format("jsonl_dir").option("path", out).mode(
        "append"
    ).save()
    files = committed_files(out)
    assert len(files) == 4
    # no stray temp files survive a successful commit
    assert not [f for f in os.listdir(out) if f.startswith("_tmp_")]
    back = spark.read.json(files)
    assert back.count() == 100
    assert {r.id * 2 for r in back.collect()} == {r.doubled for r in back.collect()}


def test_jsonl_sink_task_failure_aborts_whole_batch(spark, tmp_path):
    """One failing task must leave NO committed output (no manifest, no
    visible files) — the A7 all-or-nothing contract through the real
    executor/driver commit protocol."""
    import pyspark.errors

    from openweathermapapi_etl_spark.sources.jsonl_datasource import (
        committed_files,
    )

    _register_jsonl_sink(spark)
    out = str(tmp_path / "sink_fail")
    df = spark.range(0, 50).selectExpr("id", "CAST(id AS STRING) AS s")
    with pytest.raises(Exception):
        df.repartition(4).write.format("jsonl_dir").option("path", out).option(
            "fail_on_value", "37"
        ).mode("append").save()
    assert committed_files(out) == []
    assert not os.path.exists(os.path.join(out, "_COMMITTED"))


def test_jsonl_sink_append_accumulates_overwrite_replaces(spark, tmp_path):
    """The mode the sink's own docstring advertises: two append saves
    must ACCUMULATE (the old fixed part-NNNNN names + wholesale
    manifest replace silently destroyed the first batch — r11 review
    catch), and an overwrite save must replace everything and unlink
    the superseded files."""
    from openweathermapapi_etl_spark.sources.jsonl_datasource import (
        committed_files,
    )

    _register_jsonl_sink(spark)
    out = str(tmp_path / "sink_modes")

    def save(lo, hi, mode):
        spark.range(lo, hi).selectExpr("id").repartition(2).write.format(
            "jsonl_dir"
        ).option("path", out).mode(mode).save()

    save(0, 10, "append")
    save(10, 30, "append")
    files = committed_files(out)
    assert len(files) == 4  # 2 parts per commit, both commits visible
    assert {r.id for r in spark.read.json(files).collect()} == set(range(30))

    save(100, 105, "overwrite")
    files = committed_files(out)
    assert len(files) == 2
    assert {r.id for r in spark.read.json(files).collect()} == set(range(100, 105))
    # superseded data files were unlinked after the manifest swing
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert on_disk == {os.path.basename(f) for f in files}


def test_jsonl_sink_abort_cleans_failed_tasks_own_temp(spark, tmp_path):
    """abort() must remove the FAILED task's partial temp too — it
    never returned a commit message, so the old message-list loop
    left it on disk forever (r11 review catch)."""
    from openweathermapapi_etl_spark.sources.jsonl_datasource import (
        committed_files,
    )

    _register_jsonl_sink(spark)
    out = str(tmp_path / "sink_abort_tmp")
    df = spark.range(0, 50).selectExpr("id", "CAST(id AS STRING) AS s")
    with pytest.raises(Exception):
        df.repartition(4).write.format("jsonl_dir").option("path", out).option(
            "fail_on_value", "37"
        ).mode("append").save()
    assert committed_files(out) == []
    assert not [f for f in os.listdir(out) if f.startswith("_tmp_")], (
        "failed task's partial temp must be cleaned by abort()"
    )


def test_jsonl_sink_requires_path(spark):
    _register_jsonl_sink(spark)
    df = spark.range(3)
    with pytest.raises(Exception, match="path"):
        df.write.format("jsonl_dir").mode("append").save()


def _staged_writer(jd, out, n_rows=1):
    """A writer with one already-written temp file + its commit
    message, driving the driver-side commit() directly (no Spark job
    needed to exercise the manifest protocol)."""
    w = jd._JsonlDirWriter({"path": str(out)}, overwrite=False)
    tmp = f"_tmp_{w.commit_id}_unit.jsonl"
    (out / tmp).write_text('{"id": 0}\n' * n_rows)
    return w, jd._FileCommit(tmp_name=tmp, n_rows=n_rows)


def test_jsonl_sink_unreadable_manifest_refuses_commit(tmp_path):
    """ONLY a missing manifest means "no prior commits". A corrupt or
    unreadable one must ABORT the commit instead of being atomically
    replaced with just the new batch's files — the old `except
    (OSError, ValueError, KeyError): return []` silently dropped every
    previously committed file from readers (r12 advisor catch)."""
    from openweathermapapi_etl_spark.sources import jsonl_datasource as jd

    out = tmp_path / "sink_corrupt_manifest"
    out.mkdir()
    (out / jd.MANIFEST).write_text("{this is not json")
    w, msg = _staged_writer(jd, out)
    with pytest.raises(RuntimeError, match="unreadable sink manifest"):
        w.commit([msg])
    # the commit point never swung: the unreadable manifest survives
    # byte-for-byte for an operator to inspect, and no lock leaks
    assert (out / jd.MANIFEST).read_text() == "{this is not json"
    assert not (out / (jd.MANIFEST + ".lock")).exists()
    # the reader raises on it too (unreadable != empty)
    with pytest.raises(json.JSONDecodeError):
        jd.committed_files(str(out))


def test_jsonl_sink_concurrent_appends_all_survive(tmp_path):
    """The manifest merge is a read-modify-write; the per-path lock
    file must serialize concurrent append commits so the last one
    can't erase earlier commits' files from the manifest (r12 advisor
    catch — without the lock this test loses files nondeterministically)."""
    import threading

    from openweathermapapi_etl_spark.sources import jsonl_datasource as jd

    out = tmp_path / "sink_concurrent_append"
    out.mkdir()
    staged = [_staged_writer(jd, out) for _ in range(8)]
    barrier = threading.Barrier(len(staged))
    errs: list[Exception] = []

    def go(w, m):
        barrier.wait()
        try:
            w.commit([m])
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [
        threading.Thread(target=go, args=(w, m)) for w, m in staged
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert len(jd.committed_files(str(out))) == len(staged)
    assert not (out / (jd.MANIFEST + ".lock")).exists()


def test_jsonl_sink_stale_lock_fails_loudly(tmp_path, monkeypatch):
    """A lock left by a dead writer must surface as an error after the
    bounded retries — never a silent skip or an unlocked write."""
    from openweathermapapi_etl_spark.sources import jsonl_datasource as jd

    monkeypatch.setattr(jd.time, "sleep", lambda s: None)  # fast retries
    out = tmp_path / "sink_stale_lock"
    out.mkdir()
    (out / (jd.MANIFEST + ".lock")).write_text("")
    w, msg = _staged_writer(jd, out)
    with pytest.raises(RuntimeError, match="manifest lock held"):
        w.commit([msg])


def _ds_dist_stream(spark, canned: dict, cities: str):
    import json as _json

    from openweathermapapi_etl_spark.streaming.http_datasource import (
        WeatherHTTPDistDataSource,
    )

    spark.dataSource.register(WeatherHTTPDistDataSource)
    return (
        spark.readStream.format("weather_http_dist")
        .option("cities", cities)
        .option("canned", _json.dumps(canned))
        .load()
    )


def test_http_dist_datasource_executor_side_fetch_per_city(spark):
    import json as _json
    import time

    canned = {c: [dict(DOC, name=c)] * 60 for c in ("CityA", "CityB")}
    stream = _ds_dist_stream(spark, canned, "CityA,CityB")
    batches: list = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.collect())
        )
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and len(batches) < 2:
        time.sleep(0.5)
    assert q.exception() is None
    q.stop()
    q.awaitTermination()
    assert len(batches) >= 2
    first = sorted((r["city"], _json.loads(r["raw"])["name"]) for r in batches[0])
    assert first == [("CityA", "CityA"), ("CityB", "CityB")]


def test_http_dist_datasource_failing_city_task_aborts_batch(spark):
    import time

    canned = {"CityA": [dict(DOC, name="CityA")] * 5}  # CityBoom absent
    stream = _ds_dist_stream(spark, canned, "CityA,CityBoom")
    batches: list = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.collect())
        )
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 90
    while time.time() < deadline and q.exception() is None:
        time.sleep(0.5)
    exc = q.exception()
    q.stop()
    assert exc is not None and "CityBoom" in str(exc)
    assert batches == []  # task failure aborted the batch pre-commit


def test_http_dist_reader_resumes_offsets_across_restart(tmp_path):
    """Restart contract (r11 review catch): the engine restores its
    committed offset, but the dist reader's counter lived only in
    instance memory — a restarted query saw latestOffset()=1 against
    start=N and planned empty/stalled batches for N triggers. With the
    offset_state option the counter round-trips a driver-local file
    (written in commit()), so a fresh instance resumes PAST the
    restored offset. Unit-level: drive the reader protocol directly —
    default cities (pins the DEFAULT_CITIES NameError fix) and no
    network (canned)."""
    import json as _json

    from openweathermapapi_etl_spark.streaming.http_datasource import (
        WeatherHTTPDistStreamReader,
    )
    from openweathermapapi_etl_spark.streaming.source import DEFAULT_CITIES

    state = str(tmp_path / "offsets.json")
    canned = _json.dumps({c: [{}] * 50 for c in DEFAULT_CITIES})
    # Default-cities path: no 'cities' option (was a NameError).
    r1 = WeatherHTTPDistStreamReader({"canned": canned, "offset_state": state})
    assert r1.initialOffset() == {"batch": 0}
    end = None
    for _ in range(3):
        start, end = end or r1.initialOffset(), r1.latestOffset()
        parts = r1.partitions(start, end)
        assert len(parts) == len(DEFAULT_CITIES) * (end["batch"] - start["batch"])
        r1.commit(end)
    assert end == {"batch": 3}

    # "Restart": a fresh instance must resume at the committed offset,
    # so its next latestOffset EXCEEDS the engine-restored start.
    r2 = WeatherHTTPDistStreamReader({"canned": canned, "offset_state": state})
    nxt = r2.latestOffset()
    assert nxt == {"batch": 4}, "counter must resume from the state file"
    assert r2.partitions({"batch": 3}, nxt)  # non-empty follow-on batch

    # Without offset_state the reader stays fresh-query-correct.
    r3 = WeatherHTTPDistStreamReader({"canned": canned})
    assert r3.initialOffset() == {"batch": 0}


def _plan_nodes(node, above=()):
    """(node name, ancestor names) over a physical plan, descending
    through the adaptive wrapper and its query stages."""
    name = node.nodeName()
    yield name, above
    if name == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStage"):
        kids = [node.plan()]
    else:
        cs = node.children()
        kids = [cs.apply(i) for i in range(cs.size())]
    for kid in kids:
        yield from _plan_nodes(kid, above + (name,))


def test_tick_batch_is_local_relation_and_merge_never_shuffles_table(
    spark, tmp_path, monkeypatch
):
    """Plan-shape pin for the live tick: the batch make_batch_processor
    builds is a LocalRelation (known size), so the file-pruned upsert's
    key-file semi-join and its merge broadcast the batch and never put
    an exchange above the table scan. A list-built batch is a Python-RDD
    scan of unknown size and brings back a sort-merge join that
    shuffles the whole table."""
    from openweathermapapi_etl_spark.operators import merge
    from openweathermapapi_etl_spark.streaming.source import make_batch_processor

    monkeypatch.setattr(merge, "_FILE_PRUNE_MIN_BYTES", 0)
    cities = ["CityA", "CityB", "CityC"]
    table = VersionedParquetTable(str(tmp_path / "tbl"))
    history = [
        dict(DOC, name=c, dt=DOC["dt"] - 300 * i) for c in cities for i in range(20)
    ]
    table.upsert(
        spark, transform_raw(make_raw(spark, history)).distinct(), ["Time", "City_Name"]
    )
    # The tick re-sends CityA's latest observation (an existing key, so
    # a table file is touched and scanned) and two new ones.
    docs = {c: [dict(DOC, name=c, dt=DOC["dt"] + 300)] for c in cities[1:]}
    docs["CityA"] = [dict(DOC, name="CityA", main=dict(DOC["main"], temp=30.0))]
    seen: dict = {}
    orig_upsert = VersionedParquetTable.upsert
    orig_key_files = VersionedParquetTable._key_files
    orig_write = VersionedParquetTable._write

    def upsert(self, spark_, updates, *a, **kw):
        seen["batch"] = updates
        return orig_upsert(self, spark_, updates, *a, **kw)

    def key_files(old, updates, keys):
        seen["detect"] = orig_key_files(old, updates, keys)
        return seen["detect"]

    def write(self, df, target):
        seen["merge"] = df
        return orig_write(self, df, target)

    monkeypatch.setattr(VersionedParquetTable, "upsert", upsert)
    monkeypatch.setattr(VersionedParquetTable, "_key_files", staticmethod(key_files))
    monkeypatch.setattr(VersionedParquetTable, "_write", write)
    make_batch_processor(spark, make_canned_fetcher(docs), table, cities)(None, 0)

    analyzed = seen["batch"]._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in analyzed and "LogicalRDD" not in analyzed
    for frame in ("detect", "merge"):
        nodes = list(_plan_nodes(seen[frame]._jdf.queryExecution().executedPlan()))
        scans = [above for name, above in nodes if name.startswith("Scan parquet")]
        assert scans, f"{frame}: the table scan is missing"
        for above in scans:
            assert not [n for n in above if "Exchange" in n], (frame, above)
        joins = [name for name, _ in nodes if "Join" in name]
        assert joins and all(j.startswith("Broadcast") for j in joins), (frame, joins)
    out = table.read(spark)
    assert out.count() == len(history) + 2
    latest_a = out.filter(
        "City_Name = 'CityA' AND Time = TIMESTAMP '2023-07-22 05:26:40'"
    ).collect()
    assert [r.Temperature for r in latest_a] == [30.0]
