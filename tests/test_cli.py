"""CLI smoke: the reference user's two entry points (run the ETL,
ad-hoc SQL over the result) via python -m openweathermapapi_etl_spark.
Runs in-process (getOrCreate reuses the test session)."""

from __future__ import annotations

import os

from openweathermapapi_etl_spark.__main__ import main
from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable


def test_cli_etl_fixture_then_sql(spark, tmp_path, capsys):
    table = str(tmp_path / "weather")
    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "weather_raw.jsonl"
    )
    assert main(["etl", "--table", table, "--fixture", fixture]) == 0
    out = capsys.readouterr().out
    assert "ETL complete" in out

    assert (
        main(["sql", "SELECT COUNT(*) AS n FROM weather", "--table", table]) == 0
    )
    out = capsys.readouterr().out
    # Whole-token match (r13 tests-review strengthening: a bare
    # `"48" in out` also matched "480" or a timestamp containing 48).
    import re

    assert re.search(r"\b48\b", out), out


def test_cli_etl_empty_fixture_commits_empty_table(spark, tmp_path, capsys):
    """A file with no documents commits one empty, readable version, so
    the ETL reports 0 rows and the table reads back empty with its
    columns."""
    table = str(tmp_path / "weather")
    fixture = tmp_path / "empty.jsonl"
    fixture.write_text("")
    assert main(["etl", "--table", table, "--fixture", str(fixture)]) == 0
    assert "ETL complete: 0 rows" in capsys.readouterr().out
    t = VersionedParquetTable(table)
    assert t.versions() == [t.current_version()]
    assert t.read(spark).columns == [
        "Time", "City_Name", "Weather_Description", "Temperature"
    ]
