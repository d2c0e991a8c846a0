"""Tier A weather-domain queries — the reference's own pipeline,
hash-checked end-to-end against DuckDB oracles over the committed
JSONL fixture (tests/fixtures/weather_raw.jsonl).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.weather import run_batch_pipeline, transform_raw
from ..schemas import WEATHER_RAW
from ..sources import read_json
from ..session import prep as prep_only
from .registry import register
from .scalar_funcs import WEATHER_JSONL

_READ_JSON = f"""read_json('{WEATHER_JSONL}', format='newline_delimited', columns={{
      'dt': 'BIGINT', 'timezone': 'BIGINT', 'name': 'VARCHAR',
      'weather': 'STRUCT(id INTEGER, main VARCHAR, description VARCHAR, icon VARCHAR)[]',
      'main': 'STRUCT(temp DOUBLE, feels_like DOUBLE, humidity INTEGER)'}})"""

#: The A3-A6 transform chain in DuckDB terms. ``Time`` is naive local
#: wall-clock = UTC + offset (reference :126-128) — make_timestamp is
#: timezone-free, matching Spark's UTC-pinned session arithmetic.
_TRANSFORM = f"""
  SELECT make_timestamp(dt * 1000000) + to_seconds(timezone)  AS w_time,
         name                                                  AS City_Name,
         COALESCE(array_to_string(list_transform(weather, w -> w.description), ', '),
                  '')                                          AS Weather_Description,
         main.temp                                             AS Temperature,
         dt
  FROM {_READ_JSON}
"""


@register(
    "a03_weather_transform",
    oracle=f"""
    SELECT strftime(w_time, '%Y-%m-%d %H:%M:%S') AS Time_s,
           City_Name, Weather_Description, Temperature
    FROM ({_TRANSFORM})
    """,
)
def a03_weather_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4+A5+A6: the reference's per-row Python transform
    (/root/reference/dags/weather-etl.py:126-131) as pure column
    expressions — nested projection, array flatten + ', '-join in
    array order (incl. 0- and 3-element arrays), epoch→timestamp, and
    naive-local-time offset arithmetic (negative offsets included)."""
    prep_only(spark)
    raw = read_json(spark, WEATHER_JSONL, WEATHER_RAW)
    return transform_raw(raw).select(
        F.date_format("Time", "yyyy-MM-dd HH:mm:ss").alias("Time_s"),
        "City_Name",
        "Weather_Description",
        "Temperature",
    )


@register(
    "a10_weather_pipeline_e2e",
    oracle=f"""
    WITH tr AS ({_TRANSFORM}),
    dedup AS (SELECT DISTINCT * FROM tr),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY w_time, City_Name
               ORDER BY Weather_Description DESC NULLS LAST,
                        Temperature DESC NULLS LAST) AS rn
      FROM dedup)
    SELECT strftime(w_time, '%Y-%m-%d %H:%M:%S') AS Time_s,
           City_Name, Weather_Description, Temperature
    FROM ranked WHERE rn = 1
    """,
)
def a10_weather_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7-A11 end-to-end: the full reference pipeline — 4 dt-ordered
    cron runs through DISTINCT (A10) + M1 versioned upsert (A11), in one
    pass — against a pure-SQL oracle of the same semantics (exact-dup
    removal, then last-write-wins per (Time, City_Name)).

    Ordering each key's rows by dt makes one window equal the replay
    even when two runs collide on a key. The fixture has none, so the
    oracle needs no dt term; its in-run conflict pairs are the test.
    """
    prep_only(spark)
    # Per-process path: concurrent harnesses (pytest + parity checker)
    # must not share one upsert target.
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_weather_table_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    table = run_batch_pipeline(spark, WEATHER_JSONL, root)
    return table.read(spark).select(
        F.date_format("Time", "yyyy-MM-dd HH:mm:ss").alias("Time_s"),
        "City_Name",
        "Weather_Description",
        "Temperature",
    )


@register(
    "a11_weather_daily_rollup",
    oracle=f"""
    WITH tr AS ({_TRANSFORM}),
    dedup AS (SELECT DISTINCT * FROM tr),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY w_time, City_Name
               ORDER BY Weather_Description DESC NULLS LAST,
                        Temperature DESC NULLS LAST) AS rn
      FROM dedup),
    merged AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT City_Name,
           strftime(CAST(w_time AS DATE), '%Y-%m-%d') AS day_s,
           CAST(COUNT(*) AS BIGINT)  AS n_obs,
           MIN(Temperature)          AS t_min,
           MAX(Temperature)          AS t_max,
           CAST(SUM(CAST(Temperature AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(Temperature)    AS t_mean
    FROM merged
    GROUP BY City_Name, CAST(w_time AS DATE)
    """,
)
def a11_weather_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-tier downstream: the per-city DAILY ROLLUP — the ad-hoc
    analysis the reference's README points its merged Postgres table
    at (/root/reference/README.md: inspect `weather_data` in PGAdmin):
    observation count, min/max temperature, and the decimal-exact
    mean per (city, day), computed OVER THE PIPELINE'S OWN OUTPUT —
    the query re-runs the A7-A11 batch pipeline into a fresh
    versioned table and aggregates its read-back, so the rollup also
    regression-pins the merge semantics it consumes (a drift in
    last-write-wins changes these aggregates).

    Scale shape: one groupBy on (city, day) over the merged table —
    partition-prunable by day when the table is date-partitioned
    (M1p), partial aggregation map-side; the rollup output is
    city×day-sized, collectable anywhere."""
    prep_only(spark)
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_weather_rollup_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    table = run_batch_pipeline(spark, WEATHER_JSONL, root)
    return (
        table.read(spark)
        .groupBy(
            "City_Name",
            F.date_format(F.col("Time").cast("date"), "yyyy-MM-dd").alias(
                "day_s"
            ),
        )
        .agg(
            F.count("*").alias("n_obs"),
            F.min("Temperature").alias("t_min"),
            F.max("Temperature").alias("t_max"),
            (
                F.sum(F.col("Temperature").cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.count("Temperature")
            ).alias("t_mean"),
        )
    )
