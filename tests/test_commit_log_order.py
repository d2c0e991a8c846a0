"""Commit-log ordering of ``VersionedParquetTable`` without Spark.

``_committed_versions`` runs twice inside every commit's ``_vacuum``, so
its cost grows with the age of the table. The list-based ordering it
replaced is kept below as the oracle: random logs with rollbacks,
duplicate lines, torn or foreign lines, equal timestamps and backwards
clock steps must give identical output under both orderings, and a
100k-line log must order in bounded time.
"""

from __future__ import annotations

import json
import random
import time

from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable


def _committed_versions_list(entries: list[dict], order: str) -> list[int]:
    """The O(N^2) list-based ordering, verbatim apart from the signature."""
    if order == "committed_at":
        entries = sorted(entries, key=lambda e: e.get("committed_at", 0.0))
    seen: list[int] = []
    for e in entries:
        if "version" not in e:
            continue
        v = int(e["version"])
        if v in seen:
            seen.remove(v)
        seen.append(v)
    return seen


def _random_log(rng: random.Random, n: int) -> list[str]:
    lines: list[str] = []
    clock, latest = 1000.0, 0
    for _ in range(n):
        r = rng.random()
        if r < 0.05 and lines:
            lines.append(lines[-1])  # duplicate append
            continue
        if r < 0.08:
            lines.append('{"version": 7, "committed')  # torn tail
            continue
        if r < 0.10:
            lines.append(rng.choice([
                '{"op": "foreign"}',
                '{"version": "x", "committed_at": 1.0}',
                '[1, 2]',
            ]))
            continue
        if r < 0.25 and latest:
            v = rng.randint(1, latest)  # rollback to an earlier version
        else:
            latest += 1
            v = latest
        step = rng.choice([0.0, 0.0, 1.0, 2.5, -3.0])  # equal ts, clock back
        clock += step
        e: dict = {"version": v, "committed_at": clock}
        if rng.random() < 0.03:
            e["committed_at"] = rng.choice([None, "bad"])
        if rng.random() < 0.03:
            e["version"] = str(v)
        lines.append(json.dumps(e))
    return lines


def _table_with_log(root, lines: list[str]) -> VersionedParquetTable:
    table = VersionedParquetTable(str(root))
    (root / "_HISTORY.jsonl").write_text("\n".join(lines) + "\n")
    return table


def test_ordering_matches_list_oracle_on_random_logs(tmp_path):
    for seed in range(40):
        rng = random.Random(seed)
        table = _table_with_log(tmp_path, _random_log(rng, rng.randint(0, 400)))
        entries = table._history_entries()
        for order in ("committed_at", "file"):
            want = _committed_versions_list(entries, order)
            got = table._committed_versions(order=order, entries=entries)
            assert got == want, (seed, order)
            assert table._committed_versions(order=order) == want, (seed, order)


def test_ordering_rollback_and_clock_step_by_hand(tmp_path):
    table = _table_with_log(tmp_path, [
        json.dumps({"version": 1, "committed_at": 10.0}),
        json.dumps({"version": 2, "committed_at": 12.0}),
        json.dumps({"version": 3, "committed_at": 11.0}),  # clock stepped back
        json.dumps({"version": 1, "committed_at": 13.0}),  # rollback to 1
        json.dumps({"version": 4, "committed_at": 13.0}),  # equal timestamp
    ])
    assert table._committed_versions() == [3, 2, 1, 4]
    assert table._committed_versions(order="file") == [2, 3, 1, 4]


def test_ordering_100k_line_log_is_linear(tmp_path):
    rng = random.Random(100_000)
    table = _table_with_log(tmp_path, _random_log(rng, 100_000))
    entries = table._history_entries()
    t0 = time.perf_counter()
    table._committed_versions(entries=entries)
    table._committed_versions(order="file", entries=entries)
    assert time.perf_counter() - t0 < 5.0
