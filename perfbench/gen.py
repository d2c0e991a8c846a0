"""Deterministic input generators for the benchmark.

Everything here is a pure function of its ``seed`` argument: the same
seed gives byte-identical output. Nothing in this module touches Spark;
inputs are made in set-up and handed to the program as files or lists.

- :func:`backfill_docs` — OpenWeatherMap-shaped JSON documents, five-
  minute fetch rounds x cities, with the committed fixture's edge cases.
- :func:`tick_docs` — one document per reference city per live tick,
  repeating an unchanged observation ``dt`` on consecutive ticks.
- :func:`history_table` — a multi-year raw-document history as an Arrow
  table (the nested raw schema), used to seed the weather table.
- :func:`registry_tables` — the star-schema + corpus tables the registry
  queries read, at a chosen size.
"""

from __future__ import annotations

import json
import random

import numpy as np
import pyarrow as pa

#: The reference's 12 cities: (query string, resolved name, UTC offset s).
#: "Breda,nl" resolves to "Breda" (query vs. name mismatch); two cities
#: carry negative offsets.
REFERENCE_CITIES = [
    ("Papendrecht", "Papendrecht", 3600),
    ("Dordrecht", "Dordrecht", 3600),
    ("Sliedrecht", "Sliedrecht", 3600),
    ("Alblasserdam", "Alblasserdam", 3600),
    ("Zwijndrecht", "Zwijndrecht", 3600),
    ("Hendrik-Ido-Ambacht", "Hendrik-Ido-Ambacht", 3600),
    ("Ridderkerk", "Ridderkerk", 3600),
    ("Rotterdam", "Rotterdam", 7200),
    ("Barendrecht", "Barendrecht", -18000),
    ("Amsterdam", "Amsterdam", 7200),
    ("Breda,nl", "Breda", 0),
    ("Tilburg", "Tilburg", -3600),
]

CONDS = [
    {"id": 500, "main": "Rain", "description": "light rain", "icon": "10d"},
    {"id": 801, "main": "Clouds", "description": "few clouds", "icon": "02d"},
    {"id": 600, "main": "Snow", "description": "light snow", "icon": "13d"},
    {"id": 800, "main": "Clear", "description": "clear sky", "icon": "01d"},
    {"id": 741, "main": "Fog", "description": "fog", "icon": "50d"},
    {"id": 211, "main": "Thunderstorm", "description": "thunderstorm", "icon": "11d"},
]

STEP = 300  # seconds between reference cron runs
HISTORY_END = 1_700_000_000  # 2023-11-14T22:13:20Z; ticks start after it


def cities(n: int) -> list[tuple[str, str, int]]:
    """The 12 reference cities, then synthetic towns up to ``n``."""
    out = list(REFERENCE_CITIES[:n])
    for i in range(len(out), n):
        tz = (i * 7 % 49 - 24) * 1800  # -12h .. +12h, negatives included
        out.append((f"Town-{i:05d}", f"Town-{i:05d}", tz))
    return out


def _doc(rng: random.Random, dt: int | None, name: str, tz: int) -> dict:
    n_conds = rng.randrange(4)  # 0..3-element weather arrays
    first = rng.randrange(len(CONDS))
    doc = {
        "dt": dt,
        "timezone": tz,
        "name": name,
        "weather": [CONDS[(first + j) % len(CONDS)] for j in range(n_conds)],
        "main": {
            "temp": round(rng.uniform(-15.0, 35.0), 2),
            "feels_like": round(rng.uniform(-20.0, 35.0), 2),
            "humidity": rng.randrange(20, 100),
        },
        # Extra API fields the explicit read schema must ignore.
        "visibility": 10000,
        "wind": {"speed": round(rng.uniform(0, 20), 1), "deg": rng.randrange(360)},
        "cod": 200,
    }
    if dt is None and rng.random() < 0.5:
        del doc["dt"]  # a missing field reads as NULL, like an explicit null
    return doc


def backfill_docs(seed: int, rounds: int, n_cities: int) -> list[str]:
    """JSON lines for ``rounds`` five-minute fetches of ``n_cities``.

    Edge cases, all seeded: exact duplicate documents, same-key
    conflicts inside one batch, an unchanged observation repeated by the
    next round, NULL/missing ``dt``, negative offsets, 0-3 conditions.
    """
    rng = random.Random(f"backfill:{seed}")
    base = HISTORY_END - rounds * STEP
    last: dict[str, dict] = {}
    lines: list[str] = []
    for r in range(rounds):
        for _query, name, tz in cities(n_cities):
            u = rng.random()
            if r and u < 0.08:
                doc = last[name]  # observation not updated since last fetch
            elif u < 0.085:
                doc = _doc(rng, None, name, tz)
            else:
                doc = _doc(rng, base + r * STEP, name, tz)
            last[name] = doc
            lines.append(json.dumps(doc))
            u = rng.random()
            if u < 0.03:
                lines.append(json.dumps(doc))  # exact duplicate
            elif u < 0.06 and doc.get("dt") is not None:
                alt = dict(doc, main=dict(doc["main"], temp=round(doc["main"]["temp"] + 1.5, 2)))
                lines.append(json.dumps(alt))  # same key, different value
    return lines


def tick_docs(seed: int, ticks: int) -> list[dict[str, dict]]:
    """Per tick, the document the live API returns for each city query.

    The API serves the latest observation, whose ``dt`` often does not
    change between two five-minute fetches; a repeated observation is
    sometimes corrected (new temperature, same key), so the later tick
    must win. A rare document has no ``dt``.
    """
    rng = random.Random(f"tick:{seed}")
    out: list[dict[str, dict]] = []
    last: dict[str, dict] = {}
    for i in range(ticks):
        per_city: dict[str, dict] = {}
        for query, name, tz in REFERENCE_CITIES:
            u = rng.random()
            if i and u < 0.25:
                doc = json.loads(json.dumps(last[query]))  # unchanged dt
                if rng.random() < 0.3:
                    doc["main"]["temp"] = round(doc["main"]["temp"] + 0.25, 2)
            elif u < 0.26:
                doc = _doc(rng, None, name, tz)
            else:
                doc = _doc(rng, HISTORY_END + (i + 1) * STEP - rng.randrange(60), name, tz)
            last[query] = doc
            per_city[query] = doc
        out.append(per_city)
    return out


_RAW_WEATHER = pa.list_(
    pa.struct(
        [
            ("id", pa.int32()),
            ("main", pa.string()),
            ("description", pa.string()),
            ("icon", pa.string()),
        ]
    )
)
_RAW_MAIN = pa.struct(
    [("temp", pa.float64()), ("feels_like", pa.float64()), ("humidity", pa.int32())]
)


def history_table(seed: int, days: int) -> pa.Table:
    """``days`` of five-minute observations for the 12 reference cities,
    ending at ``HISTORY_END``, in the nested raw-document schema. One
    observation per (city, dt), so the history is key-unique."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    n_ticks = days * 24 * 3600 // STEP
    ref = REFERENCE_CITIES
    n = n_ticks * len(ref)
    dt = np.repeat(HISTORY_END - STEP * np.arange(n_ticks, 0, -1, dtype=np.int64), len(ref))
    city = np.tile(np.arange(len(ref)), n_ticks)
    tz = np.array([c[2] for c in ref], dtype=np.int64)[city]
    names = pa.array([c[1] for c in ref]).take(pa.array(city))
    temp = np.round(rng.normal(11.0, 8.0, n), 2)
    feels = np.round(temp - rng.uniform(0, 4, n), 2)
    humidity = rng.integers(20, 100, n, dtype=np.int32)
    n_conds = rng.integers(0, 4, n)
    first = rng.integers(0, len(CONDS), n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_conds, out=offsets[1:])
    pos = np.arange(offsets[-1]) - np.repeat(offsets[:-1], n_conds)
    cond_idx = (np.repeat(first, n_conds) + pos) % len(CONDS)
    conds = pa.StructArray.from_arrays(
        [
            pa.array([c["id"] for c in CONDS], pa.int32()).take(cond_idx),
            pa.array([c["main"] for c in CONDS]).take(cond_idx),
            pa.array([c["description"] for c in CONDS]).take(cond_idx),
            pa.array([c["icon"] for c in CONDS]).take(cond_idx),
        ],
        fields=list(_RAW_WEATHER.value_type),
    )
    weather = pa.ListArray.from_arrays(pa.array(offsets), conds, type=_RAW_WEATHER)
    main = pa.StructArray.from_arrays(
        [pa.array(temp), pa.array(feels), pa.array(humidity)],
        fields=list(_RAW_MAIN),
    )
    return pa.table(
        {"dt": dt, "timezone": tz, "name": names, "weather": weather, "main": main}
    )


_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the"
).split()
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def _text(rng: np.random.Generator) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), rng.integers(8, 80)))


def registry_tables(seed: int, n_customers: int, n_docs: int) -> dict:
    """The tables the registry queries read, as pandas frames keyed by
    table name. Row counts scale from ``n_customers`` as in the
    star-schema generator (10 orders per customer, 4 lines per order);
    the corpus carries exact and near duplicates so the dedup and
    clustering queries have work to do."""
    import pandas as pd

    rng = np.random.default_rng(np.random.SeedSequence([seed, 11]))
    n_orders, n_lines = n_customers * 10, n_customers * 40
    n_parts, n_supp = max(n_customers * 4 // 3, 10), max(n_customers // 15, 5)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01T00:00:00", "us")
    out = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=np.int32) % 5,
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_customers, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
                "c_nationkey": rng.integers(0, 25, n_customers, dtype=np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
                "c_mktsegment": segs[rng.integers(0, 5, n_customers)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_parts, dtype=np.int64),
                "p_name": [f"part {i % 97}" for i in range(n_parts)],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_parts)],
                "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD"])[
                    rng.integers(0, 4, n_parts)
                ],
                "p_size": rng.integers(1, 51, n_parts, dtype=np.int32),
                "p_retailprice": np.round(900 + np.arange(n_parts) * 0.1 % 1100, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_customers, n_orders, dtype=np.int64),
                "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
                "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
                "o_orderdate": t0 + rng.integers(0, 2404, n_orders) * day,
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n_orders)],
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_orders, n_lines, dtype=np.int64),
                "l_partkey": rng.integers(0, n_parts, n_lines, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_lines, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n_lines, dtype=np.int32),
                "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_lines), 2),
                "l_discount": rng.integers(0, 11, n_lines) / 100.0,
                "l_tax": rng.integers(0, 9, n_lines) / 100.0,
                "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_lines)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_lines)],
                "l_shipdate": t0 + rng.integers(2, 2498, n_lines) * day,
            }
        ),
    }
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i and u < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i and u < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))  # near duplicate: one word changed
        else:
            texts.append(_text(rng))
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    return out


def write_registry_tables(tables: dict, sf_dir: str) -> None:
    """One ``<name>.parquet`` file per table, as the program's catalog reads."""
    import os

    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)
