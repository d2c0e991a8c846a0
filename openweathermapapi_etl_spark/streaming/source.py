"""A1 — the HTTP micro-batch source, Spark-first.

Spark has no built-in HTTP DataSource; at the reference's scale
(12 requests / 5 min, /root/reference/dags/weather-etl.py:101-119) a
custom DataSourceV2 is over-engineering. Instead: a ``rate`` stream is
the clock, and each tick's ``foreachBatch`` callback fetches the city
list driver-side, parallelizes the *processing* of responses as a
DataFrame, and merges via M1 — preserving the reference's semantics:

- batch atomicity: any failed fetch aborts the whole batch before the
  merge, nothing is written (ref :119 raises → :143 commit never runs);
- missing API key is a hard failure at start (A14, ref :106-108);
- idempotent merge per batch (A11).

The fetcher is injectable (tests use canned JSON documents; production
uses ``requests`` if present). A city list too large for the driver
loop belongs on A1c, the ``weather_http_dist`` DataSource
(streaming/http_datasource.py), which fetches one city per executor
task.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import VersionedParquetTable
from ..pipeline.weather import transform_raw
from ..schemas import WEATHER_KEYS, WEATHER_RAW

Fetcher = Callable[[str], dict]

#: The reference's city list (/root/reference/dags/weather-etl.py:101-103).
DEFAULT_CITIES = [
    "Papendrecht", "Dordrecht", "Sliedrecht", "Alblasserdam", "Zwijndrecht",
    "Hendrik-Ido-Ambacht", "Ridderkerk", "Rotterdam", "Barendrecht",
    "Amsterdam", "Breda,nl", "Tilburg",
]


def make_requests_fetcher(api_key: str | None = None) -> Fetcher:
    """Production fetcher: GET /data/2.5/weather?q={city}&units=metric.

    Hard failure on a missing key, like the reference (A14, :106-108).
    """
    key = api_key or os.getenv("OPENWEATHERMAP_API_KEY")
    if not key:
        raise RuntimeError("Missing OPENWEATHERMAP_API_KEY environment variable")
    try:
        import requests  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError("requests not installed; inject a fetcher") from exc

    def fetch(city: str) -> dict:
        resp = requests.get(
            "https://api.openweathermap.org/data/2.5/weather",
            params={"q": city, "appid": key, "units": "metric"},
            timeout=30,
        )
        resp.raise_for_status()  # failed city aborts the batch (A7)
        return resp.json()

    return fetch


def make_canned_fetcher(docs_by_city: dict[str, list[dict]]) -> Fetcher:
    """Test fetcher: pops pre-recorded documents per city query."""

    def fetch(city: str) -> dict:
        queue = docs_by_city.get(city)
        if not queue:
            raise RuntimeError(f"no canned response left for {city!r}")
        return queue.pop(0)

    return fetch


def make_batch_processor(
    spark: SparkSession,
    fetcher: Fetcher,
    table: VersionedParquetTable,
    city_list: list[str],
    raw_log_root: str | None = None,
) -> Callable:
    """The per-tick foreachBatch callback, exposed as a named builder so
    tests can invoke it directly with a repeated batch_id — Spark
    re-enters a failed micro-batch with the SAME id, and the bronze-log
    idempotence under that retry is pinned by
    tests/test_weather_pipeline.py::test_bronze_log_idempotent_on_batch_retry.
    """

    def process_batch(batch_df, batch_id: int) -> None:
        # One fetch per city, driver-side; any failure aborts the batch
        # before anything is written (all-or-nothing, A7).
        docs = [fetcher(city) for city in city_list]
        # Built from an Arrow table, the batch is a LocalRelation whose
        # size Catalyst knows, so the merge broadcasts it and never
        # shuffles the table; a list-built frame is a Python-RDD scan of
        # unknown size and gets a sort-merge join over the whole table.
        raw = spark.createDataFrame(
            pa.table({"value": pa.array([json.dumps(d) for d in docs], pa.string())})
        )
        # from_json with the explicit schema: the old createDataFrame→
        # .rdd→spark.read.json(RDD) round-trip re-ran the parallelize per
        # action through a deprecated overload (r11 review cleanup).
        raw_parsed = raw.select(
            F.from_json("value", WEATHER_RAW).alias("d")
        ).select("d.*")
        if raw_log_root:
            # Overwrite the per-batch dir, not append: a failed-then-
            # retried micro-batch re-enters with the SAME batch_id, so
            # overwrite makes the bronze log idempotent on retry
            # (append would double-log the batch's documents).
            raw.write.mode("overwrite").text(
                os.path.join(raw_log_root, f"batch={batch_id}")
            )
        staged = transform_raw(raw_parsed).distinct()  # A10
        table.upsert(spark, staged, keys=WEATHER_KEYS)  # A11/M1

    return process_batch


def http_microbatch_query(
    spark: SparkSession,
    fetcher: Fetcher,
    table_root: str,
    cities: list[str] | None = None,
    interval: str = "5 minutes",
    raw_log_root: str | None = None,
    checkpoint_location: str | None = None,
) -> StreamingQuery:
    """Start the streaming ETL: rate-clock → fetch → transform → M1.

    ``raw_log_root``: optional bronze zone — append the raw documents
    as JSON per batch (A16, more useful than the reference's log lines).
    ``checkpoint_location``: REQUIRED for any restartable deployment
    that logs bronze — without it every restart gets a fresh temp
    checkpoint, batch ids reset to 0, and the bronze writer's
    same-batch-retry overwrite discipline (idempotence) instead
    CLOBBERS the previous run's ``batch=N`` dirs with unrelated
    documents (r11 review catch). Left optional so short-lived
    smoke/test queries keep the zero-setup path.
    """
    city_list = cities or DEFAULT_CITIES
    table = VersionedParquetTable(table_root)
    process_batch = make_batch_processor(
        spark, fetcher, table, city_list, raw_log_root
    )
    clock = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    writer = (
        clock.writeStream.trigger(processingTime=interval)
        .outputMode("append")
        .foreachBatch(process_batch)
    )
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()
