"""The weather ETL (reference parity: /root/reference/dags/weather-etl.py).

The reference's whole DAG collapses to one declarative flow
(SURVEY.md §3.1 "Spark mapping"):

    raw JSON → transform (A3-A6) → DISTINCT (A10) → M1 upsert (A11)

``transform_raw`` is the A3-A6 chain as pure column expressions —
what the reference does row-at-a-time in Python (:126-131) runs here
as whole-stage-codegen'd JVM expressions over arbitrarily many
partitions. ``run_batch_pipeline`` loads a document set in one pass,
equal to replaying the reference's 5-minute cron runs in ``dt`` order.
Streaming flavor (one version per run) lives in ``streaming/``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import VersionedParquetTable, dedup_last_write_wins
from ..schemas import WEATHER_KEYS, WEATHER_RAW
from ..sources import read_json


def _transform_columns() -> list[Column]:
    """A3-A6 (see :func:`transform_raw`) as column expressions."""
    return [
        F.expr(
            "timestamp_seconds(dt) + make_interval(0, 0, 0, 0, 0, 0, timezone)"
        ).alias("Time"),
        F.col("name").alias("City_Name"),
        F.array_join(
            F.transform(F.col("weather"), lambda w: w["description"]), ", "
        ).alias("Weather_Description"),
        F.col("main.temp").alias("Temperature"),
    ]


def transform_raw(raw: DataFrame) -> DataFrame:
    """A3-A6: project/flatten/convert one batch of raw documents.

    - A5 epoch→timestamp: ``timestamp_seconds(dt)``  (ref :126)
    - A6 naive local time = UTC + offset-seconds      (ref :127-128)
      (raw interval add — deliberately NOT from_utc_timestamp with a
      named zone; the reference stores a fixed-offset wall clock)
    - A3 nested projection: ``main.temp``             (ref :131)
    - A4 array flatten + ", "-join in array order     (ref :130)
    """
    return raw.select(*_transform_columns())


def run_batch_pipeline(
    spark: SparkSession, jsonl_path: str, table_root: str
) -> VersionedParquetTable:
    """Load a document file into the table in one pass and one commit.

    Each distinct ``dt`` is one reference cron run, carried as ``__dt``
    so one ``distinct()`` is the per-run A10 dedup; last-write-wins on
    ``__dt`` (a later run wins, NULL loses, the upsert's tie-break
    inside a run) then equals sequential replay, also where a city's
    offset change makes two runs share a key. One M1 upsert (A11)
    commits; an empty file commits an empty version.
    """
    raw = read_json(spark, jsonl_path, WEATHER_RAW)
    runs = raw.select(*_transform_columns(), F.col("dt").alias("__dt")).distinct()
    latest = dedup_last_write_wins(runs, WEATHER_KEYS, order_col="__dt")
    table = VersionedParquetTable(table_root)
    table.upsert(
        spark, latest.drop("__dt"), keys=WEATHER_KEYS, updates_key_unique=True
    )
    return table
