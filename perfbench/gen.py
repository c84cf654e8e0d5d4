"""Seeded input generators. The program under test only ever sees the
files these write; every value is a function of the seed.

* ``poll_ticks``: one parquet-ready table per 1 Hz poll tick, one
  reading per station (the reference's poll shape).
* ``registry_tables``: the ten fixture tables the registry queries read,
  with the schemas, sizes and value domains of the repository's sf0.1
  fixture (perfbench/README.md records the comparison).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: parts a station can run; 1-2 are active at any time
PARTS_PER_STATION = 5

#: arrow schema of a poll tick file (the program's READINGS_SCHEMA)
READINGS_ARROW = pa.schema(
    [
        ("station", pa.int64()),
        ("part", pa.string()),
        ("ts", pa.timestamp("us")),
        ("event_id", pa.int64()),
        ("value", pa.float64()),
        ("counter", pa.int64()),
    ]
)

_SHIFT_BOUNDARY_H = 16  # 16:00, the shift-1 → shift-2 change


def _part_name(station: int, k: int) -> str:
    return f"P{station:04d}-{k}"


def _value(counter: np.ndarray) -> np.ndarray:
    # the oracle derives counter = floor(value * 100); the half-cent
    # offset keeps that exact under float rounding
    return (counter + 0.5) / 100.0


def _sim_day(rng: np.random.Generator) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 330)))


class _Presses:
    """Per-station press model: 1-2 active parts out of five, counters
    that advance 0-3 strokes per reading, occasional part changes and
    counter resets."""

    def __init__(self, rng: np.random.Generator, n_stations: int):
        self.rng = rng
        self.counter = rng.integers(1_000, 60_000, size=(n_stations, PARTS_PER_STATION))
        self.active = [
            list(rng.choice(PARTS_PER_STATION, size=int(rng.integers(1, 3)), replace=False))
            for _ in range(n_stations)
        ]

    def step(self, stations: np.ndarray, turn: int) -> tuple[np.ndarray, np.ndarray]:
        """Advance the given stations by one reading each; returns the
        part index and counter value of each reading."""
        rng = self.rng
        m = len(stations)
        change = rng.random(m) < 0.01
        reset = rng.random(m) < 0.003
        strokes = rng.integers(0, 4, size=m)
        parts = np.empty(m, dtype=np.int64)
        for i, s in enumerate(stations):
            act = self.active[s]
            if change[i]:
                idle = [p for p in range(PARTS_PER_STATION) if p not in act]
                act[int(rng.integers(0, len(act)))] = int(rng.choice(idle))
            parts[i] = act[(turn + s) % len(act)]
        self.counter[stations, parts] += strokes
        self.counter[stations[reset], parts[reset]] = rng.integers(0, 50, size=int(reset.sum()))
        return parts, self.counter[stations, parts].copy()


def poll_ticks(seed: int, n_ticks: int, n_stations: int = 150) -> list[pa.Table]:
    """``n_ticks`` poll ticks of one reading per station. The simulated
    clock advances one second per tick and crosses the 16:00 shift
    boundary halfway through; each station reads at its own fixed
    sub-second offset."""
    rng = np.random.default_rng([seed, 1])
    presses = _Presses(rng, n_stations)
    start = _sim_day(rng).replace(hour=_SHIFT_BOUNDARY_H) - dt.timedelta(seconds=n_ticks // 2)
    start_us = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    offset_us = rng.integers(0, 900_000, size=n_stations)
    stations = np.arange(n_stations)
    ticks = []
    for k in range(n_ticks):
        parts, counter = presses.step(stations, k)
        ticks.append(
            pa.table(
                {
                    "station": pa.array(stations + 1, pa.int64()),
                    "part": pa.array(
                        [_part_name(s + 1, p) for s, p in zip(stations, parts)], pa.string()
                    ),
                    "ts": pa.array(start_us + k * 1_000_000 + offset_us, pa.int64()).cast(
                        pa.timestamp("us")
                    ),
                    "event_id": pa.array(k * n_stations + stations, pa.int64()),
                    "value": pa.array(_value(counter), pa.float64()),
                    "counter": pa.array(counter, pa.int64()),
                },
                schema=READINGS_ARROW,
            )
        )
    return ticks


# ── registry fixture ──────────────────────────────────────────────

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_ADJ = "large hot blue red new small old cold".split()
_NOUN = "widget gizmo ring gear bolt plate rod anvil".split()


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    base = np.datetime64(start, "D")
    span = (end - start).days
    d = base + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def registry_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf 0.1 = 600k
    lineitem rows), seeded. Sizes, value domains and duplicate rates
    follow the repository's sf0.1 fixture, so every registry query has
    the fixture's work shape."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(
                rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n_ord)),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_start + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(["signup", "purchase", "view", "click", "error"], n_ev)),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    # one doc in twenty is replaced by a copy of another plus a marker
    # word; two copies of one doc are the exact duplicates
    originals = list(texts)
    for i in rng.choice(n_doc, size=n_doc // 20, replace=False):
        texts[i] = originals[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(["en", "en", "en", "zh", "es", "fr", "de"], n_doc)),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    # unit vectors in random directions; the labels carry no cluster
    labels = rng.integers(0, 10, n_emb)
    x = rng.normal(0.0, 1.0, size=(n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> str:
    """Write each table as ``<sf_dir>/<name>.parquet`` (the fixture
    layout ``sources.load_table`` reads)."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir
