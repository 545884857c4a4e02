"""stream_ingest: the reference pipeline, writes beside reads on one table.

A seeded backlog of event files is in the source directory when
`start_pipeline(..., PipelineConfig(atomic=True))` starts its four
queries (catch-up phase). Then one generator thread publishes one file of
seeded events per second (open loop, live phase) while one reader thread
runs the `/events/{city}` shape against the live `raw_events` table on a
fixed schedule. The pipeline is drained, the committed tables are checked
against a DuckDB recomputation over the same files, and each live event's
event-to-commit latency is read off the `raw_events` commit log.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from datetime import datetime, timezone

import numpy as np

import checks
from datagen import event_columns, publish
from stats import generator_fell_behind, lateness, median, percentile, tail_percentile

BACKLOG_EVENTS = 40000
BACKLOG_FILES = 4
BACKLOG_SPAN_S = 3600  # backlog event times cover the hour before the start
LIVE_RATE = 20  # events per second, one file per second
PERIOD_S = 1.0
READ_PERIOD_S = 4.0
N_USERS = 1500
TAIL_PCT = 95.0
QUERIES = ("raw_events", "aggregations", "alerts", "counts")
STATEFUL = ("aggregations", "counts")
CATCHUP_TIMEOUT_S = 120

PHASES = {
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}
LAYER_KEYS = (
    [f"stream.{q}.{k}" for q in QUERIES for k in ("batches", "rows_per_batch", *PHASES, "cpu_ms")]
    + [f"state.{q}.{k}" for q in STATEFUL
       for k in ("rows", "memory_bytes", "commit_ms", "late_rows_dropped")]
    + ["tx.commits", "tx.files_live", "tx.files_added", "tx.commit_interval_ms",
       "tx.read_resolve_ms", "gen.lag_ms", "gen.events", "reader.p50_ms", "stream.start_ms"]
)


def zipf_city(rng: random.Random, cities: tuple[str, ...]) -> str:
    weights = [1.0 / (rank + 1) for rank in range(len(cities))]
    return rng.choices(cities, weights)[0]


class Generator:
    """Seeded event files with unique, increasing microsecond stamps in
    `ts` (the creation time), published atomically."""

    def __init__(self, src: str, seed: int):
        self.src = src
        self.rng = np.random.default_rng(seed)
        self.next_id = 0
        self.last_us = 0
        self.n_files = 0
        self.live: list[tuple[str, np.ndarray]] = []  # (file name, ts) per live file

    def _ids(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        return ids

    def _write(self, ids, ts_us) -> str:
        self.last_us = int(ts_us[-1])
        name = f"events-{self.n_files:05d}.parquet"
        publish(os.path.join(self.src, name), event_columns(self.rng, ids, ts_us, N_USERS))
        self.n_files += 1
        return name

    def backlog(self, now_us: int) -> None:
        per = BACKLOG_EVENTS // BACKLOG_FILES
        offsets = np.sort(self.rng.choice(BACKLOG_SPAN_S * 1_000_000, BACKLOG_EVENTS,
                                          replace=False))
        ts = now_us - BACKLOG_SPAN_S * 1_000_000 + offsets
        for f in range(BACKLOG_FILES):
            self._write(self._ids(per), ts[f * per:(f + 1) * per])

    def live_file(self) -> None:
        now_us = max(int(time.time() * 1e6), self.last_us + 1)
        ts_us = now_us + np.arange(LIVE_RATE)
        self.live.append((self._write(self._ids(LIVE_RATE), ts_us), ts_us))


def file_batches(ckpt: str) -> dict[str, int]:
    """{file name: micro-batch id} from a file-source query's metadata log
    (one JSON entry a line, after a version header; compacted logs repeat
    earlier entries)."""
    out = {}
    log = os.path.join(ckpt, "sources", "0")
    for f in os.listdir(log):
        if f.startswith("."):
            continue
        with open(os.path.join(log, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _progress(q) -> list[dict]:
    return [json.loads(p.json()) for p in q._jsq.recentProgress()]


def _rows_seen(q) -> int:
    return sum(p.get("numInputRows", 0) for p in _progress(q))


def _iso_s(stamp: str) -> float:
    """A progress report's ISO-8601 UTC timestamp as epoch seconds."""
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def warm_up(ctx) -> None:
    """One endpoint query, so the pipeline's start does not pay for
    first-query class loading."""
    from real_time_event_streaming_pipeline_spark.engine import CityStreamEngine

    CityStreamEngine(ctx.spark, ctx.batch_dir).cities().collect()


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from real_time_event_streaming_pipeline_spark.catalog import normalize_events_ts
    from real_time_event_streaming_pipeline_spark.functions import CITIES
    from real_time_event_streaming_pipeline_spark.streaming import tx_table
    from real_time_event_streaming_pipeline_spark.streaming.pipeline import (
        PipelineConfig,
        start_pipeline,
    )

    spark = ctx.spark
    base = os.path.join(ctx.run_dir, "stream")
    src, out = os.path.join(base, "src"), os.path.join(base, "out")
    os.makedirs(src)
    gen = Generator(src, ctx.seed)
    gen.backlog(int(time.time() * 1e6))
    schema = spark.read.parquet(src).schema
    source = normalize_events_ts(spark.readStream.schema(schema).parquet(src))
    cfg = PipelineConfig(out_dir=out, atomic=True)
    raw_table = cfg.path("raw_events")
    failures: list[str] = []

    # -- catch-up ---------------------------------------------------------
    t_start = time.time()
    queries = start_pipeline(spark, source, cfg)
    failures += catch_up(queries, t_start)
    t_caught = time.time()

    # -- live phase (none after a failed catch-up) --------------------------
    n_files = 0 if failures else int(ctx.seconds / PERIOD_S)
    t_live = time.time()
    due = [t_live + k * PERIOD_S for k in range(n_files)]
    sent: list[float] = []
    reads: list[dict] = []
    read_errors: list[str] = []
    stop_reader = threading.Event()

    def generator() -> None:
        for d in due:
            time.sleep(max(0.0, d - time.time()))
            gen.live_file()
            sent.append(time.time())

    def reader() -> None:
        rng = random.Random(ctx.seed)
        k = 0
        while not stop_reader.is_set():
            d = t_live + k * READ_PERIOD_S
            k += 1
            time.sleep(max(0.0, d - time.time()))
            if stop_reader.is_set():
                return
            city = zipf_city(rng, CITIES)
            try:
                _, rec = ctx.tracer.run_op("read", f"events/{city}", lambda: (
                    tx_table.read_table(spark, raw_table)
                    .filter(F.col("city") == city).orderBy(F.desc("ts")).limit(50)))
            except Exception as e:  # noqa: BLE001 - a failed read is a failed op
                read_errors.append(f"read {city}: {type(e).__name__}: {e}")
                continue
            rec["due"] = d
            reads.append(rec)

    if n_files:
        threads = [threading.Thread(target=generator), threading.Thread(target=reader)]
        for t in threads:
            t.start()
        threads[0].join()
        stop_reader.set()
        threads[1].join()
    t_live_end = time.time()

    # -- drain and stop ---------------------------------------------------
    for name, q in queries.items():
        try:
            q.processAllAvailable()
        except Exception as e:  # noqa: BLE001 - a query that failed is a failed op
            failures.append(f"query {name} failed while draining: {type(e).__name__}: {e}")
    progress = {name: _progress(q) for name, q in queries.items()}
    run_ids = {name: str(q.runId) for name, q in queries.items()}
    for q in queries.values():
        q.stop()
    for name, q in queries.items():
        if q.exception() is not None:
            failures.append(f"query {name} failed: {q.exception()}")

    t_drained = time.time()

    # -- event-to-commit latency: each live file's micro-batch (the raw-events
    # query's source log) and that epoch's raw_events commit (the tx log)
    hist = tx_table.history(raw_table)
    committed_at = {h["epoch"]: h["committed_at"] for h in hist if h["op"] == "upsert"}
    batch_of = file_batches(cfg.checkpoint("raw-events"))
    lat_ms = []
    for name, ts_us in gen.live:
        at = committed_at.get(batch_of.get(name))
        if at is None:
            failures.append(f"live file {name} has no raw_events commit")
            continue
        lat_ms += [(at - t / 1e6) * 1e3 for t in ts_us.tolist()]

    t_lat = time.time()

    # -- output checks against a DuckDB recomputation of the same files ----
    try:
        failures += check_outputs(ctx, spark, src, cfg, tx_table, F)
    except Exception as e:  # noqa: BLE001 - a table that cannot be read is a failed op
        failures.append(f"output check failed: {type(e).__name__}: {e}")
    t_checked = time.time()

    lag_ms = [x * 1e3 for x in lateness(due[:len(sent)], sent)]
    if generator_fell_behind(due[:len(sent)], sent, PERIOD_S):
        raise RuntimeError(f"generator fell behind: max lag {max(lag_ms):.0f} ms; "
                           "the offered rate was not met, so the run is not a data point")
    n_live = sum(len(ts) for _, ts in gen.live)
    catchup_s = t_caught - t_start
    read_ms = [(r["end"] - r["due"]) * 1e3 for r in reads]

    layers = {}
    if ctx.tracer.enabled:
        layers = stream_layers(ctx, progress, run_ids, raw_table, hist, t_start, t_live, reads,
                               lag_ms, gen)
    if (tail_percentile(len(lat_ms)) or 0) < TAIL_PCT:
        failures.append(f"{len(lat_ms)} latency samples leave fewer than 10 beyond p{TAIL_PCT:g}")
    p50 = median(lat_ms) if lat_ms else 0.0
    tail = percentile(lat_ms, TAIL_PCT) if lat_ms else 0.0
    return {
        "latency_ms": p50,
        "throughput": BACKLOG_EVENTS / catchup_s,
        "named": {
            "stream_catchup_eps": (BACKLOG_EVENTS / catchup_s, "events/s"),
            "stream_lat_p50_ms": (p50, "ms"),
            f"stream_lat_p{TAIL_PCT:g}_ms": (tail, "ms"),
            "stream_read_p50_ms": (median(read_ms) if read_ms else 0.0, "ms"),
        },
        "attempted": n_live + len(reads) + len(read_errors) + 4,
        "failed": len(read_errors) + len(failures),
        "failures": read_errors + failures,
        "records": reads,
        "layers": layers,
        "detail": {
            "catchup_s": catchup_s,
            "phases_s": {"live": t_live_end - t_live, "drain": t_drained - t_live_end,
                         "latency": t_lat - t_drained, "checks": t_checked - t_lat},
            "latency_samples": len(lat_ms),
            "reads": len(reads),
            "raw_epochs_s": [round(p["durationMs"]["triggerExecution"] / 1e3, 2)
                             for p in progress["raw_events"] if p.get("numInputRows", 0) > 0],
        },
    }


def catch_up(queries: dict, t_start: float) -> list[str]:
    """Wait until every query has read the whole backlog. A query that
    stops or fails first, or a catch-up past its timeout, is a failure."""
    pending = set(QUERIES)
    while pending:
        for name in sorted(pending):
            q = queries[name]
            if q.exception() is not None or not q.isActive:
                return [f"query {name} stopped during catch-up: {q.exception()}"]
            if _rows_seen(q) >= BACKLOG_EVENTS:
                pending.discard(name)
        if time.time() - t_start > CATCHUP_TIMEOUT_S:
            return [f"catch-up did not finish in {CATCHUP_TIMEOUT_S} s: {sorted(pending)}"]
        time.sleep(0.05)
    return []


def check_outputs(ctx, spark, src, cfg, tx_table, F) -> list[str]:
    """The committed `raw_events`, `aggregations`, `alerts` and `counts`
    against the same generated files recomputed in DuckDB."""
    from real_time_event_streaming_pipeline_spark.plans.citystream import (
        CITY_EVENTS_CTE,
        ORACLE,
    )

    con = checks.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{src}/*.parquet'")
    out = []

    def compare(name, got_df, sql, cols):
        got = got_df.select(*cols).collect()
        want, want_cols = checks.query(con, sql)
        d = checks.diff(got, cols, want, want_cols)
        if d:
            out.append(f"{name}: {d}")

    compare(
        "raw_events",
        tx_table.read_table(spark, cfg.path("raw_events")).withColumn(
            "ts_us", F.unix_micros("ts")),
        CITY_EVENTS_CTE + """, keyed AS (
  SELECT *, city || '-' || event_type || '-' || ts_iso AS event_key FROM windowed
)
SELECT event_id, event_key, city, event_type, severity, epoch_us(ts) AS ts_us, value
FROM keyed QUALIFY row_number() OVER (PARTITION BY event_key ORDER BY ts DESC) = 1""",
        ["event_id", "event_key", "city", "event_type", "severity", "ts_us", "value"],
    )
    compare(
        "aggregations",
        tx_table.read_table(spark, cfg.path("aggregations")),
        ORACLE["cs_windowed_agg"],
        ["window_start", "city", "event_type", "event_count", "severities",
         "last_updated", "partition_key"],
    )
    compare(
        "alerts",
        spark.read.parquet(cfg.path("alerts")).withColumn("ts_us", F.unix_micros("ts")),
        CITY_EVENTS_CTE + """
SELECT event_id, city, event_type, severity, epoch_us(ts) AS ts_us
FROM windowed WHERE severity IN ('high', 'critical')""",
        ["event_id", "city", "event_type", "severity", "ts_us"],
    )
    compare(
        "counts",
        spark.table("city_counts"),
        CITY_EVENTS_CTE + """
SELECT city, event_type, severity, count(*) AS count
FROM windowed GROUP BY city, event_type, severity""",
        ["city", "event_type", "severity", "count"],
    )
    con.close()
    return out


def stream_layers(ctx, progress, run_ids, raw_table, hist, t_start, t_live, reads, lag_ms,
                  gen) -> dict:
    """Per-query progress phases, state-store and tx_table counters, and
    executor time per query (its jobs run under its run id)."""
    from real_time_event_streaming_pipeline_spark.streaming import tx_table

    m = {}
    for name in QUERIES:
        data = [p for p in progress[name] if p.get("numInputRows", 0) > 0]
        for p in data:
            start = _iso_s(p["timestamp"])
            ctx.tracer.span(f"{name}/b{p['batchId']}", "micro-batch", start,
                            start + p["durationMs"]["triggerExecution"] / 1e3, trace=name,
                            rows=p["numInputRows"])
        m[f"stream.{name}.batches"] = len(data)
        m[f"stream.{name}.rows_per_batch"] = _mean(p["numInputRows"] for p in data)
        for key, phase in PHASES.items():
            m[f"stream.{name}.{key}"] = _mean(p["durationMs"].get(phase, 0) for p in data)
        m[f"stream.{name}.cpu_ms"] = ctx.tracer.group_cpu_ms(run_ids[name])
    for name in STATEFUL:
        data = [p for p in progress[name] if p.get("stateOperators")]
        ops = [p["stateOperators"][0] for p in data]
        last = ops[-1] if ops else {}
        m[f"state.{name}.rows"] = last.get("numRowsTotal", 0)
        m[f"state.{name}.memory_bytes"] = last.get("memoryUsedBytes", 0)
        m[f"state.{name}.commit_ms"] = _mean(o.get("commitTimeMs", 0) for o in ops)
        m[f"state.{name}.late_rows_dropped"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
    stamps = [h["committed_at"] for h in hist if h["committed_at"] >= t_live]
    m["tx.commits"] = len(hist)
    m["tx.files_live"] = hist[-1]["n_files"] if hist else 0
    m["tx.files_added"] = _files_added(raw_table, hist, tx_table)
    m["tx.commit_interval_ms"] = _mean((b - a) * 1e3 for a, b in zip(stamps, stamps[1:]))
    m["tx.read_resolve_ms"] = _mean((r["build_end"] - r["start"]) * 1e3 for r in reads)
    m["gen.lag_ms"] = max(lag_ms) if lag_ms else 0.0
    m["gen.events"] = gen.next_id
    # query start-up: from the start_pipeline call to the last query's first trigger
    m["stream.start_ms"] = max(
        ((_iso_s(progress[q][0]["timestamp"]) - t_start) * 1e3 for q in QUERIES if progress[q]),
        default=0.0)
    m["reader.p50_ms"] = median([(r["end"] - r["due"]) * 1e3 for r in reads]) if reads else 0.0
    return m


def _files_added(table: str, hist: list[dict], tx_table) -> int:
    """Data files the commits wrote: each version's files not in the one before."""
    seen: set[str] = set()
    added = 0
    for h in hist:
        paths = {f["path"] for f in tx_table.read_manifest(table, h["version"])["files"]}
        added += len(paths - seen)
        seen = paths
    return added
