"""Correctness checks: the program's outputs against DuckDB.

- :func:`expected_weather` computes the weather table the ETL must
  produce from the raw documents, independently of Spark: the A3-A6
  transform, A10 DISTINCT per batch, then one row per ``(Time,
  City_Name)`` where the later batch wins; inside one batch the program's
  documented tie rule (greatest ``Weather_Description``, then greatest
  ``Temperature``) picks the row.
- :func:`same_rows` compares two relations as multisets.
- :func:`same_frame` is the registry parity rule: same row count, same
  columns, equal values after sorting (values compared by ``repr``).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

#: The raw-document columns the program reads, as Arrow types.
RAW_SCHEMA = pa.schema(
    [
        ("dt", pa.int64()),
        ("timezone", pa.int64()),
        ("name", pa.string()),
        (
            "weather",
            pa.list_(
                pa.struct(
                    [
                        ("id", pa.int32()),
                        ("main", pa.string()),
                        ("description", pa.string()),
                        ("icon", pa.string()),
                    ]
                )
            ),
        ),
        (
            "main",
            pa.struct(
                [
                    ("temp", pa.float64()),
                    ("feels_like", pa.float64()),
                    ("humidity", pa.int32()),
                ]
            ),
        ),
    ]
)


def raw_batches(docs_by_batch: list[tuple[int, list[dict]]]) -> pa.Table:
    """Raw documents as an Arrow table with a ``batch`` ordering column."""
    rows = [dict(d, batch=b) for b, docs in docs_by_batch for d in docs]
    return pa.Table.from_pylist(
        rows, schema=RAW_SCHEMA.append(pa.field("batch", pa.int64()))
    )


def expected_weather(raw_relation: str) -> str:
    """SQL for the expected table over ``raw_relation`` (columns of
    :data:`RAW_SCHEMA` plus ``batch``). ``t`` is ``Time`` in epoch
    seconds: UTC ``dt`` plus the offset."""
    return f"""
    SELECT t, City_Name, Weather_Description, Temperature FROM (
      SELECT *, row_number() OVER (
               PARTITION BY t, City_Name
               ORDER BY batch DESC, Weather_Description DESC NULLS LAST,
                        Temperature DESC NULLS LAST) AS rn
      FROM (SELECT DISTINCT batch, dt + timezone AS t, name AS City_Name,
                   CASE WHEN len(weather) = 0 THEN ''  -- DuckDB joins [] to NULL
                        ELSE array_to_string(list_transform(weather, w -> w.description), ', ')
                   END AS Weather_Description,
                   main.temp AS Temperature
            FROM {raw_relation}))
    WHERE rn = 1
    """


def fingerprint(con: duckdb.DuckDBPyConnection, rel: str) -> tuple:
    """Row count and the sum of the rows' hashes: equal for equal
    multisets of rows, whatever their order."""
    return con.execute(
        f"SELECT count(*), sum(hash(r)::HUGEINT) FROM ({rel}) r"
    ).fetchone()


def same_rows(con: duckdb.DuckDBPyConnection, a: str, b: str) -> bool:
    """Multiset equality of two relations with the same column types, by
    :func:`fingerprint` (a multiset ``EXCEPT ALL`` costs far more on a
    table of millions of rows)."""
    return fingerprint(con, a) == fingerprint(con, b)


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same_frame(got, want) -> bool:
    """Registry parity: row count, column names, values by ``repr``."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    return _normalize(got).equals(_normalize(want))


def naive_timestamps(table: pa.Table) -> pa.Table:
    """Drop the zone from timestamp columns (values stay UTC), so DuckDB
    reads them as plain TIMESTAMP like the program's UTC session does."""
    cols = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            col = col.cast(pa.timestamp(f.type.unit))
        cols.append(col)
    return pa.table(cols, names=table.column_names)
