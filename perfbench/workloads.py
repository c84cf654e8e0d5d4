"""The two workloads. Each takes a :class:`Harness` and returns a
:class:`Result`; untraced runs fill the end-to-end metrics, traced runs
the per-layer metrics.

End-to-end metrics, one definition on every workload:

* ``setup_s``: session start + median of three input generations +
  warm-up, until the first timed operation.
* ``peak_rss_mb``: VmHWM of the driver JVM plus the driver Python.
* ``op_p50_ms``: median engine time of one operation: a trigger's
  ``triggerExecution`` on ``poll_1hz``, a query's action wall on the
  registry (median over queries of each query's median).
* ``result_p50_ms``: median time from an input being ready to its
  result being visible: tick creation → end of the committing trigger
  (``poll_1hz``); plan build + action (``registry_headline``).
* ``work_s``: wall time to process the workload's whole input once:
  first tick created → last tick committed; the sum over queries of the
  median action wall.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.stats import median, summary, trigger_records
from perfbench.trace import Tracer

#: ``poll_1hz``: stations polled per tick (the reference's poll ceiling)
POLL_STATIONS = 150
POLL_WARM_TICKS = 2
#: ticks are written this far past the whole second (see TickWriter)
TICK_PHASE_S = 0.8
#: ``registry_headline``: bench.py's HEADLINE list at scale factor 0.1,
#: copied rather than imported so that editing bench.py cannot change
#: what the benchmark measures
REGISTRY_SF = 0.1
#: timed rounds at the least; after the one checked warm-up pass the
#: first round still runs ~20 % slower, so each query's median of three
#: is a warm rep
REGISTRY_MIN_ROUNDS = 3
REGISTRY_QUERIES = (
    "production_shift_rollup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "dedup_combine_parts",
    "top1_active_record",
    "events_sessionization",
    "docs_minhash_lsh_pairs",
    "docs_exact_dedup",
    "embeddings_pq_index_topk",
    "docs_token_stats",
)
#: plan nodes that would mean a timed action read a cached result
CACHED_PLAN_MARKERS = ("InMemoryTableScan", "InMemoryRelation", "ExistingRDD")

#: a run gives up waiting for the stream to drain this long after start
DRAIN_DEADLINE_S = 160.0


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(msg)


@dataclass
class Harness:
    spark: object
    work: str
    seed: int
    seconds: int
    trace: bool
    session_s: float
    t_start: float
    trace_dir: str

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.perf_counter() - self.t_start:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def _status_kb(pid: str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    jvm_pid = str(spark.sparkContext._gateway.proc.pid)
    return (_status_kb(jvm_pid, "VmHWM") + _status_kb("self", "VmHWM")) / 1024.0


def _setup_s(h: Harness, gen_s: list[float], warm_s: float) -> float:
    return h.session_s + median(gen_s) + warm_s


# ── streaming helpers ─────────────────────────────────────────────


def _start_pipeline(h: Harness, replay: str, out: str, available_now: bool):
    from iotdatapipeline_spark.streaming import pipeline

    return pipeline.run_pipeline(
        h.spark,
        replay,
        checkpoint_dir=os.path.join(out, "checkpoint"),
        records_path=os.path.join(out, "records"),
        history_path=os.path.join(out, "history"),
        versioned_records=True,
        available_now=available_now,
    )


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _file_offsets(out: str) -> dict[str, int]:
    """File name → file-source log offset, from the query's source log
    (its entries call the offset ``batchId``)."""
    log = os.path.join(out, "checkpoint", "sources", "0")
    m: dict[str, int] = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    m[os.path.basename(e["path"])] = int(e["batchId"])
    return m


def _trigger_of(trig: list[dict], offset: int | None) -> dict | None:
    """The trigger whose source offsets (start, end] hold ``offset``."""
    if offset is None:
        return None
    for r in trig:
        start = -1 if r["source_start"] is None else r["source_start"]
        if r["source_end"] is not None and start < offset <= r["source_end"]:
            return r
    return None


def _drain(h: Harness, replay: str, tag: str) -> None:
    """Drain ``replay`` with an availableNow pipeline (closed loop: one
    query, every file, then stop)."""
    q = _start_pipeline(h, replay, os.path.join(h.work, tag), available_now=True)
    q.awaitTermination()


def _sink_rows(h: Harness, out: str) -> tuple[list[tuple], list[tuple]]:
    from iotdatapipeline_spark.sources.versioned import VersionedTable

    cols = ", ".join(checks.HISTORY_COLS)
    hist_glob = os.path.join(out, "history", "*", "*.parquet")
    with duckdb.connect() as con:
        history = con.execute(f"SELECT {cols} FROM read_parquet('{hist_glob}')").fetchall()
    snap = VersionedTable(h.spark, os.path.join(out, "records")).snapshot()
    records = [tuple(r) for r in snap.select(*checks.HISTORY_COLS).collect()]
    return history, records


def _check_stream(h: Harness, res: Result, out: str, readings_sql: str) -> tuple[int, int]:
    from iotdatapipeline_spark.plans import ORACLE

    history, records = _sink_rows(h, out)
    with duckdb.connect() as con:
        want_h, want_r = checks.counter_oracle(
            con, readings_sql, ORACLE["stream_counter_machine_reference"]
        )
    res.attempted += 2
    for msg in checks.check_stream(history, records, want_h, want_r):
        res.fail(msg)
    return len(history), len(records)


def _versioned_stats(h: Harness, out: str) -> dict[str, float]:
    from iotdatapipeline_spark.sources.versioned import VersionedTable

    t = VersionedTable(h.spark, os.path.join(out, "records"))
    history = t.history()
    head = history[-1]
    live = t.snapshot().count()
    data = os.path.join(out, "records", "data")
    head_bytes = sum(os.path.getsize(os.path.join(data, f)) for f in head["files"])
    mt = [m.get("metrics") or {} for m in history if str(m.get("op", "")).startswith("merge")]
    return {
        "commits": float(len(history)),
        "files_removed_per_commit": median([m.get("files_removed", 0) for m in mt]) if mt else 0.0,
        "rows_rewritten_per_commit": median([m.get("rows_added", 0) for m in mt]) if mt else 0.0,
        "head_files": float(len(head["files"])),
        "bytes_per_live_row": head_bytes / live if live else 0.0,
    }


def _install_stream_trace(tracer: Tracer) -> None:
    """Spans around the foreachBatch sink (materializing the batch first
    separates the stateful operator from the sink) and around the
    versioned table's create/merge."""
    from iotdatapipeline_spark.sources.versioned import VersionedTable
    from iotdatapipeline_spark.streaming import pipeline

    def fanout(original):
        def factory(*args, **kwargs):
            apply = original(*args, **kwargs)

            def traced(batch_df, batch_id):
                with tracer.span("batch", op=str(batch_id)):
                    with tracer.span("streaming.stateful"):
                        batch_df.persist()
                        batch_df.count()
                    try:
                        with tracer.span("streaming.sinks"):
                            apply(batch_df, batch_id)
                    finally:
                        batch_df.unpersist()

            return traced

        return factory

    def method(name):
        def wrap(original):
            def traced(self, *args, **kwargs):
                with tracer.span(name):
                    return original(self, *args, **kwargs)

            return traced

        return wrap

    tracer.patch(pipeline, "fanout_foreach_batch", fanout)
    tracer.patch(VersionedTable, "merge_into", method("sources.versioned.merge"))
    tracer.patch(VersionedTable, "create", method("sources.versioned.create"))


def _stream_layers(tracer: Tracer, trig: list[dict]) -> tuple[dict[str, list[float]], list[float]]:
    """Per-trigger layer self times (ms) and each trigger's coverage:
    the share of ``triggerExecution`` the layers account for."""
    by_batch: dict[str, dict[str, float]] = {}
    for i, s in enumerate(tracer.spans):
        if s.op is None or s.name == "batch":
            continue
        layer = "sources.versioned" if s.name.startswith("sources.versioned") else s.name
        d = by_batch.setdefault(s.op, {})
        d[layer] = d.get(layer, 0.0) + tracer.self_ms(i)
    layers: dict[str, list[float]] = {}
    coverage = []
    for r in trig:
        spans = by_batch.get(str(r["batch_id"]), {})
        row = {
            "streaming.source.latest_offset": r["latest_offset_ms"],
            "streaming.source.get_batch": r["get_batch_ms"],
            "streaming.pipeline.query_planning": r["query_planning_ms"],
            "streaming.pipeline.wal_commit": r["wal_commit_ms"],
            "streaming.pipeline.commit_offsets": r["commit_offsets_ms"],
            "streaming.stateful.self": spans.get("streaming.stateful", 0.0),
            "streaming.sinks.self": spans.get("streaming.sinks", 0.0),
            "sources.versioned.merge": spans.get("sources.versioned", 0.0),
        }
        for k, v in row.items():
            layers.setdefault(k, []).append(v)
        layers.setdefault("streaming.pipeline.add_batch", []).append(r["add_batch_ms"])
        if r["trigger_ms"] > 0:
            coverage.append(sum(row.values()) / r["trigger_ms"])
    return layers, coverage


def _stream_per_layer(
    res: Result,
    trig: list[dict],
    layers: dict[str, list[float]],
    coverage: list[float],
    vstats: dict[str, float],
    sink_rows: tuple[int, int],
) -> None:
    """Per-layer figures of a traced stream run. Durations are reported
    as shares of the traced trigger p50 (``bench.op_p50_ms``)."""
    m = res.metrics
    op = median([r["trigger_ms"] for r in trig])
    m["bench.op_p50_ms"] = (op, "ms")
    m["bench.op_samples"] = (float(len(trig)), "count")
    m["bench.layer_coverage_frac"] = (median(coverage), "frac")
    for k, v in layers.items():
        m[f"{k}_frac"] = (median(v) / op, "frac")
    m["streaming.stateful.all_updates_frac"] = (median([r["all_updates_ms"] for r in trig]) / op, "frac")
    m["streaming.stateful.state_commit_frac"] = (median([r["state_commit_ms"] for r in trig]) / op, "frac")
    rows = sum(r["rows"] for r in trig)
    m["streaming.source.rows_per_trigger"] = (median([r["rows"] for r in trig]), "count")
    m["streaming.stateful.state_rows"] = (float(trig[-1]["state_rows"]), "count")
    m["streaming.stateful.state_bytes"] = (float(trig[-1]["state_bytes"]), "bytes")
    updated = sum(r["state_rows_updated"] for r in trig)
    m["streaming.stateful.rows_per_group"] = (rows / updated if updated else 0.0, "ratio")
    m["streaming.stateful.emit_ratio"] = (sum(r["n_updates"] for r in trig) / rows, "ratio")
    m["streaming.sinks.history_rows"] = (float(sink_rows[0]), "count")
    m["streaming.sinks.records_rows"] = (float(sink_rows[1]), "count")
    for k, v in vstats.items():
        m[f"sources.versioned.{k}"] = (v, "bytes" if k.startswith("bytes") else "count")


# ── poll_1hz ──────────────────────────────────────────────────────


class TickWriter(threading.Thread):
    """Open-loop generator: writes tick ``k`` at ``t0 + k`` seconds on a
    fixed schedule, whatever the pipeline does. Each file is written
    beside the replay directory, given an increasing mtime and renamed
    into place, so the source never sees a partial file. The creation
    times stay in this object; the program never sees them."""

    def __init__(self, ticks, stage: str, replay: str):
        super().__init__(name="tick-writer", daemon=True)
        self.ticks, self.stage, self.replay = ticks, stage, replay
        self.due: list[float] = []
        self.created: list[float] = []
        self.t0 = 0.0

    def run(self) -> None:
        # Spark fires processing-time triggers on whole multiples of the
        # interval (1 s); a fixed phase keeps a random 0-1 s wait for the
        # next trigger, which is no property of the program, out of the
        # freshness figures
        self.t0 = math.floor(time.time()) + 1.0 + TICK_PHASE_S
        for k, table in enumerate(self.ticks):
            due = self.t0 + k
            time.sleep(max(0.0, due - time.time()))
            name = f"tick-{k:05d}.parquet"
            tmp = os.path.join(self.stage, name)
            pq.write_table(table, tmp)
            ns = int(time.time() * 1e9)
            os.utime(tmp, ns=(ns, ns))
            os.rename(tmp, os.path.join(self.replay, name))
            self.due.append(due)
            self.created.append(time.time())


def _poll_session(h: Harness, ticks, tag: str, deadline: float) -> dict:
    """Run one poll session: start the 1 s-trigger pipeline on an empty
    directory, write the ticks on schedule, then wait until every tick
    is committed (or the deadline passes)."""
    out = os.path.join(h.work, tag)
    replay, stage = os.path.join(out, "replay"), os.path.join(out, "stage")
    os.makedirs(replay)
    os.makedirs(stage)
    q = _start_pipeline(h, replay, out, available_now=False)
    try:
        while q.lastProgress is None and time.perf_counter() < deadline:
            time.sleep(0.05)
        writer = TickWriter(ticks, stage, replay)
        writer.start()
        writer.join()
        committed_at_stop = len(trigger_records(_progress(q)))
        while len(trigger_records(_progress(q))) < len(ticks) and time.perf_counter() < deadline:
            if q.exception() is not None:
                break
            time.sleep(0.05)
        trig = trigger_records(_progress(q))
        error = q.exception()
    finally:
        q.stop()
    if error is not None:
        h.log(f"{tag}: query failed: {str(error)[:2000]}")
    h.log(f"{tag}: {len(trig)} of {len(ticks)} ticks committed, {len(ticks) - committed_at_stop} behind at generator stop")
    h.log(f"{tag}: trigger ms {[int(r['trigger_ms']) for r in trig]}")
    offsets = _file_offsets(out)
    fresh, queue = [], []
    for k, created in enumerate(writer.created):
        r = _trigger_of(trig, offsets.get(f"tick-{k:05d}.parquet"))
        if r is not None:
            fresh.append(r["end_ms"] - created * 1000.0)
            queue.append(fresh[-1] - r["trigger_ms"])
    h.log(f"{tag}: freshness ms {[int(f) for f in fresh]} ({len(fresh)} of {len(trig)} ticks mapped)")
    return {
        "out": out,
        "replay": replay,
        "trig": trig,
        "fresh": fresh,
        "queue": queue,
        "lag_ms": [(c - d) * 1000.0 for c, d in zip(writer.created, writer.due)],
        "backlog": len(ticks) - committed_at_stop,
        "makespan_s": max((r["end_ms"] for r in trig), default=math.nan) / 1000.0 - writer.created[0],
    }


def poll_1hz(h: Harness) -> Result:
    res = Result()
    n = h.seconds
    gen_s = [_timed(lambda: gen.poll_ticks(h.seed, n, POLL_STATIONS))[0] for _ in range(3)]
    ticks = gen.poll_ticks(h.seed, n, POLL_STATIONS)
    warm_replay = os.path.join(h.work, "warm", "replay")
    os.makedirs(warm_replay)
    for k, t in enumerate(gen.poll_ticks(h.seed + 7919, POLL_WARM_TICKS, POLL_STATIONS)):
        pq.write_table(t, os.path.join(warm_replay, f"tick-{k:05d}.parquet"))
    warm_s, _ = _timed(lambda: _drain(h, warm_replay, "warm"))
    h.log(f"warm-up drain {warm_s:.2f}s")
    deadline = h.t_start + DRAIN_DEADLINE_S

    if h.trace:
        base = _poll_session(h, ticks, "untraced", deadline)
        tracer = Tracer()
        _install_stream_trace(tracer)
        try:
            s = _poll_session(h, ticks, "traced", deadline)
        finally:
            tracer.restore()
    else:
        s = _poll_session(h, ticks, "run", deadline)

    res.attempted += n
    if len(s["trig"]) < n:
        res.fail(f"{n - len(s['trig'])} of {n} ticks not committed", n - len(s["trig"]))
    readings = os.path.join(s["replay"], "*.parquet")
    sink_rows = _check_stream(h, res, s["out"], f"SELECT * FROM read_parquet('{readings}')")
    if not s["trig"]:
        return res
    m = res.metrics
    if not h.trace:
        m["setup_s"] = (_setup_s(h, gen_s, warm_s), "s")
        m["peak_rss_mb"] = (peak_rss_mb(h.spark), "MB")
        m["op_p50_ms"] = (median([r["trigger_ms"] for r in s["trig"]]), "ms")
        m["result_p50_ms"] = (median(s["fresh"]), "ms")
        m["work_s"] = (s["makespan_s"], "s")
        return res
    layers, coverage = _stream_layers(tracer, s["trig"])
    layers["streaming.pipeline.queue_wait"] = s["queue"]
    _stream_per_layer(res, s["trig"], layers, coverage, _versioned_stats(h, s["out"]), sink_rows)
    base_op = median([r["trigger_ms"] for r in base["trig"]])
    m["bench.tracing_overhead_frac"] = (m["bench.op_p50_ms"][0] / base_op - 1.0, "frac")
    m["streaming.pipeline.backlog_ticks"] = (float(s["backlog"]), "count")
    # a run has too few ticks for a tail percentile; the worst tick bounds it
    m["bench.generator_lag_max_frac"] = (max(s["lag_ms"]) / 1000.0, "frac")
    m["session.start_s"] = (h.session_s, "s")
    tracer.dump(
        os.path.join(h.trace_dir, f"poll_1hz-seed{h.seed}.json"),
        {
            "triggers": s["trig"],
            "trigger_ms": summary([r["trigger_ms"] for r in s["trig"]]),
            "freshness_ms": summary(s["fresh"]),
        },
    )
    return res


# ── registry_headline ─────────────────────────────────────────────


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cached_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [m for m in CACHED_PLAN_MARKERS if m in plan]


def _redirect_tmp_roots(tracer: Tracer, work: str) -> None:
    """``embeddings_pq_index_topk`` materializes its index under a fixed
    ``/tmp`` root; rebase that root into the run's work directory so the
    run stays inside its checkout. Same table, same code path."""
    from iotdatapipeline_spark.plans import materialize

    def wrap(original):
        def rebased(spark, root, build, **kwargs):
            if root.startswith("/tmp/"):
                root = os.path.join(work, "tmp-roots", root[len("/tmp/"):])
            return original(spark, root, build, **kwargs)

        return rebased

    tracer.patch(materialize, "materialize_once", wrap)


def _registry_round(h: Harness, res: Result, order, sf_dir: str, tracer: Tracer | None, rnd: int):
    """Build and run every query once, in ``order``. Each rep rebuilds
    its DataFrame, so no rep can reuse another's result. Returns
    {name: (build_s, action_s, jobs)} and the round's wall time."""
    from iotdatapipeline_spark.plans import QUERIES

    sc = h.spark.sparkContext
    out = {}
    t_round = time.perf_counter()
    for name in order:
        t = time.perf_counter()
        df = QUERIES[name](h.spark, sf_dir)
        build = time.perf_counter() - t
        res.attempted += 1
        group = f"perfbench-{name}-{rnd}"
        if tracer is not None:
            sc.setJobGroup(group, name)
            t = time.perf_counter()
            with tracer.span("plans.action", op=name):
                _noop_write(df)
            wall = time.perf_counter() - t
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        else:
            t = time.perf_counter()
            _noop_write(df)
            wall = time.perf_counter() - t
            jobs = 0
        cached = _cached_nodes(df)
        if cached:
            res.fail(f"{name}: timed plan reads a cached result ({', '.join(cached)})")
        out[name] = (build, wall, jobs)
    return out, time.perf_counter() - t_round


def _warm_and_check(h: Harness, res: Result, names, sf_dir: str) -> tuple[float, dict[str, float]]:
    """The warm-up pass: run every query once, collecting its rows, and
    compare them with its DuckDB oracle. Returns the Spark time of the
    pass and, on traced runs, each oracle's warm time (median of 3)."""
    from iotdatapipeline_spark.plans import ORACLE, QUERIES
    from iotdatapipeline_spark.sources import TABLES

    warm_s, duck_s = 0.0, {}
    with duckdb.connect() as con:
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            res.attempted += 1
            t = time.perf_counter()
            sdf = QUERIES[name](h.spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            warm_s += time.perf_counter() - t
            h.log(f"warm {name}: {time.perf_counter() - t:.2f}s")
            rel = con.sql(ORACLE[name])
            for msg in checks.check_query(name, sdf.columns, srows, rel.columns, rel.fetchall()):
                res.fail(msg)
            if h.trace:
                duck_s[name] = median(
                    [_timed(lambda n=name: con.sql(ORACLE[n]).fetchall())[0] for _ in range(3)]
                )
    return warm_s, duck_s


def registry_headline(h: Harness) -> Result:
    from iotdatapipeline_spark.plans import QUERIES

    res = Result()
    spark = h.spark
    # bench.py's small-input profile (sf <= 0.2)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    names = [n for n in REGISTRY_QUERIES if n in QUERIES]
    for n in REGISTRY_QUERIES:
        if n not in QUERIES:
            res.attempted += 1
            res.fail(f"{n}: not registered")

    sf_dir = os.path.join(h.work, "sf")
    gen_s = []
    for _ in range(3):
        shutil.rmtree(sf_dir, ignore_errors=True)
        gen_s.append(_timed(lambda: gen.write_tables(gen.registry_tables(h.seed, REGISTRY_SF), sf_dir))[0])

    patches = Tracer()
    _redirect_tmp_roots(patches, h.work)
    tracer = Tracer() if h.trace else None
    try:
        h.log(f"generated sf{REGISTRY_SF} in {median(gen_s):.2f}s (median of 3)")
        warm_s, duck_s = _warm_and_check(h, res, names, sf_dir)
        h.log(f"warm-up and oracle check: {warm_s:.2f}s of Spark")
        rng = np.random.default_rng([h.seed, 4])
        rounds, base = [], []
        t_end = time.perf_counter() + h.seconds
        while len(rounds) < REGISTRY_MIN_ROUNDS or time.perf_counter() < t_end:
            order = list(rng.permutation(names))
            if tracer is None:
                rounds.append(_registry_round(h, res, order, sf_dir, None, len(rounds)))
                h.log(f"round {len(rounds)}: {sum(w for _, w, _ in rounds[-1][0].values()):.3f}s of actions")
                continue
            # untraced and traced rounds alternate
            base.append(_registry_round(h, res, order, sf_dir, None, len(rounds))[0])
            for n in names:
                tracer.patch(QUERIES, n, lambda orig, n=n: _span_build(tracer, n, orig))
            try:
                rounds.append(_registry_round(h, res, order, sf_dir, tracer, len(rounds)))
            finally:
                tracer.restore()
    finally:
        patches.restore()

    build = {n: median([r[n][0] for r, _ in rounds]) for n in names}
    wall = {n: median([r[n][1] for r, _ in rounds]) for n in names}
    for n in names:
        h.log(f"{n}: build {[round(r[n][0], 3) for r, _ in rounds]} action {[round(r[n][1], 3) for r, _ in rounds]}")
    m = res.metrics
    if tracer is None:
        m["setup_s"] = (_setup_s(h, gen_s, warm_s), "s")
        m["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
        m["op_p50_ms"] = (median(wall.values()) * 1000.0, "ms")
        m["result_p50_ms"] = (median([build[n] + wall[n] for n in names]) * 1000.0, "ms")
        m["work_s"] = (sum(wall.values()), "s")
        return res
    total, build_total = sum(wall.values()), sum(build.values())
    base_total = sum(median([r[n][1] for r in base]) for n in names)
    m["session.start_s"] = (h.session_s, "s")
    m["bench.op_p50_ms"] = (median(wall.values()) * 1000.0, "ms")
    m["bench.op_samples"] = (float(len(rounds) * len(names)), "count")
    m["bench.tracing_overhead_frac"] = (total / base_total - 1.0, "frac")
    # share of each round's wall that the build and action spans cover
    covered = [sum(b + w for b, w, _ in r.values()) / rw for r, rw in rounds]
    m["bench.layer_coverage_frac"] = (median(covered), "frac")
    m["plans.build_over_wall"] = (build_total / total, "ratio")
    m["oracle.vs_duckdb"] = (total / sum(duck_s.values()), "ratio")
    for n in names:
        m[f"plans.{n}.build_frac"] = (build[n] / build_total, "frac")
        m[f"plans.{n}.wall_frac"] = (wall[n] / total, "frac")
        m[f"plans.{n}.jobs"] = (median([r[n][2] for r, _ in rounds]), "count")
    tracer.dump(
        os.path.join(h.trace_dir, f"registry_headline-seed{h.seed}.json"),
        {
            "build_ms": {n: v * 1000.0 for n, v in build.items()},
            "wall_ms": {n: v * 1000.0 for n, v in wall.items()},
            "registry_build_s": build_total,
            "registry_total_s": total,
            "action_ms": summary([r[n][1] * 1000.0 for r, _ in rounds for n in names]),
            "duckdb_s": duck_s,
            "duckdb_total_s": sum(duck_s.values()),
        },
    )
    return res


def _span_build(tracer: Tracer, name: str, original):
    def traced(spark, sf_dir):
        with tracer.span("plans.build", op=name):
            return original(spark, sf_dir)

    return traced


WORKLOADS = {
    "poll_1hz": poll_1hz,
    "registry_headline": registry_headline,
}
