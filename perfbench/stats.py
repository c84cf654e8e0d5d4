"""Summary statistics and extraction of per-trigger figures from
``StreamingQueryProgress`` JSON."""

from __future__ import annotations

import datetime as dt
import json
import math
import statistics
from fractions import Fraction

#: candidate tail percentiles, highest first
_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    # exact arithmetic: 99.9 / 100 * 10_000 must be 9990, not 9990.000…1
    return max(1, math.ceil(Fraction(str(p)) / 100 * n))


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``_LADDER`` that leaves at least ten of
    ``n`` samples beyond it, or None when even the median does not."""
    for p in _LADDER:
        if n - _rank(p, n) >= 10:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return float(xs[_rank(p, len(xs)) - 1])


def median(values) -> float:
    return float(statistics.median(values))


def summary(values) -> dict:
    """Sample count, median and the tail percentile the sample supports
    (``tail_percentile``; None when it supports none beyond the median)."""
    xs = list(values)
    p = tail_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": median(xs) if xs else None,
        "tail_pct": p,
        "tail": percentile(xs, p) if p is not None else None,
    }


def _epoch_ms(iso: str) -> float:
    # progress timestamps look like 2024-01-01T00:00:00.123Z (UTC)
    t = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return t.timestamp() * 1000.0


def _log_offset(offset) -> int | None:
    """A file source's offset, ``{"logOffset": n}`` (or its JSON text)."""
    if isinstance(offset, str):
        offset = json.loads(offset)
    if isinstance(offset, dict) and "logOffset" in offset:
        return int(offset["logOffset"])
    return None


def trigger_records(progress: list[dict]) -> list[dict]:
    """One record per trigger that read input, from progress dicts
    (``json.loads(p.json)``). Durations are ms; ``end_ms`` is the
    epoch time the trigger finished (offsets committed)."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs") or {}
        ops = p.get("stateOperators") or [{}]
        st = ops[0]
        start = _epoch_ms(p["timestamp"])
        observed = (p.get("observedMetrics") or {}).get("pipeline_metrics") or {}
        src = (p.get("sources") or [{}])[0]
        out.append(
            {
                "batch_id": int(p["batchId"]),
                "rows": int(p["numInputRows"]),
                "start_ms": start,
                "end_ms": start + float(d.get("triggerExecution", 0)),
                "trigger_ms": float(d.get("triggerExecution", 0)),
                "latest_offset_ms": float(d.get("latestOffset", 0)),
                "get_batch_ms": float(d.get("getBatch", 0)),
                "query_planning_ms": float(d.get("queryPlanning", 0)),
                "wal_commit_ms": float(d.get("walCommit", 0)),
                "commit_offsets_ms": float(d.get("commitOffsets", 0)),
                "add_batch_ms": float(d.get("addBatch", 0)),
                "state_rows": int(st.get("numRowsTotal", 0)),
                "state_rows_updated": int(st.get("numRowsUpdated", 0)),
                "state_bytes": int(st.get("memoryUsedBytes", 0)),
                "all_updates_ms": float(st.get("allUpdatesTimeMs", 0)),
                "state_commit_ms": float(st.get("commitTimeMs", 0)),
                "n_updates": int(observed.get("n_updates", 0) or 0),
                # file-source log offsets the trigger read: (start, end]
                "source_start": _log_offset(src.get("startOffset")),
                "source_end": _log_offset(src.get("endOffset")),
            }
        )
    return sorted(out, key=lambda r: r["batch_id"])
