"""Output checks against the program's DuckDB oracles, run outside the
timed region."""

from __future__ import annotations

import datetime as dt
import math

import duckdb

#: columns of a history update row that the recursive-CTE oracle fixes
HISTORY_COLS = (
    "station",
    "part",
    "counter",
    "prev_counter",
    "delta",
    "qty_running",
    "shift_id",
    "plan_date",
)
RECORD_KEY = ("station", "part", "plan_date", "shift_id")


def canon(v) -> str:
    """Engine-neutral text form of one value: the rule
    ``tools/parity_check.py`` applies, kept here so that the benchmark's
    check cannot change with that tool."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def rows_key(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def _canon_rows(rows) -> list[tuple]:
    return sorted(tuple(canon(v) for v in r) for r in rows)


def counter_oracle(con: duckdb.DuckDBPyConnection, readings_sql: str, oracle_sql: str):
    """Run the counter-machine oracle over ``readings_sql`` (a relation
    with station, part, ts, event_id, value) exposed as the oracle's
    ``events`` view. Returns (history rows, record rows), both in
    ``HISTORY_COLS`` order."""
    con.execute(
        "CREATE OR REPLACE TEMP VIEW events AS SELECT station AS user_id, part AS event_type, "
        f"ts, event_id, value FROM ({readings_sql})"
    )
    cols = ", ".join(HISTORY_COLS)
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_hist AS SELECT {cols} FROM ({oracle_sql})")
    hist = con.execute(f"SELECT {cols} FROM oracle_hist").fetchall()
    # emitted counters never decrease per (station, part), so the last
    # emit of a (station, part, plan_date, shift_id) group is its max
    key = ", ".join(RECORD_KEY)
    rec = con.execute(
        f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY {key} "
        f"ORDER BY counter DESC, qty_running DESC) AS rn FROM oracle_hist) WHERE rn = 1"
    ).fetchall()
    return hist, rec


def diff_rows(got, want) -> int:
    """Size of the multiset symmetric difference of two row lists."""
    from collections import Counter

    g, w = Counter(_canon_rows(got)), Counter(_canon_rows(want))
    return sum(((g - w) + (w - g)).values())


def check_stream(history, records, oracle_history, oracle_records) -> list[str]:
    """Compare sink outputs (row tuples in ``HISTORY_COLS`` order) with
    the oracle's; returns one message per problem, empty when equal."""
    problems = []
    d = diff_rows(history, oracle_history)
    if d:
        problems.append(
            f"history: {d} rows differ (got {len(history)}, oracle {len(oracle_history)})"
        )
    d = diff_rows(records, oracle_records)
    if d:
        problems.append(
            f"records: {d} rows differ (got {len(records)}, oracle {len(oracle_records)})"
        )
    return problems


def check_query(name: str, spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    """Registry parity: same column set, row count and canonical rows."""
    if sorted(spark_cols) != sorted(duck_cols):
        return [f"{name}: columns {sorted(spark_cols)} != oracle {sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"{name}: {len(spark_rows)} rows != oracle {len(duck_rows)}"]
    if rows_key(list(spark_cols), spark_rows) != rows_key(list(duck_cols), duck_rows):
        return [f"{name}: row values differ from the oracle"]
    return []
