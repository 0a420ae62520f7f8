"""ingest_steady: an open loop feeding ``processor.main()`` in a thread.

A seeded ``datagen.generate_events`` corpus is sorted by event time. Its head
lies in the source directory as a backlog when the processor starts, as
after a restart; once all three queries have committed the backlog, the
tail is released one batch per period by atomic rename, each release timed
from its due time. A DuckDB poller reads ``dashboard_metrics`` meanwhile,
standing in for the dashboard reader. Engine-side timings come from a
``StreamingQueryListener`` and the checkpoint source logs; nothing inside
the processor is changed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

from clickbench import checks
from clickbench.common import COUNTER_KEYS, SparkCounters, median, supported_tail

# checkpoint name (processor.main) -> sink directory
TABLES = {"hourly": "hourly_metrics", "sessions": "session_metrics", "dashboard": "dashboard_metrics"}
TRIGGER = "processing-time:1 second"
N_SESSIONS = 1600  # ~14k events
RELEASE_PERIOD_S = 0.5
RELEASE_EVENTS = 108  # 216 events/s, ~40x the reference producer's 5 events/s
BACKLOG_FILES = 8
POLL_PERIOD_S = 0.25
CATCHUP_TIMEOUT_S = 90
DRAIN_TIMEOUT_S = 60
DRAIN_QUIET_S = 1.5  # longer than one trigger period: a pending no-data batch shows first
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
PHASE_METRICS = {"latestOffset": "latest_offset_ms_p50", "queryPlanning": "query_planning_ms_p50",
                 "addBatch": "add_batch_ms_p50", "walCommit": "wal_commit_ms_p50",
                 "commitOffsets": "commit_offsets_ms_p50"}


class ProgressListener(StreamingQueryListener):
    """Keeps every progress report the engine posts, as parsed JSON."""

    def __init__(self):
        self.reports: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        report = json.loads(event.progress.json)
        with self._lock:
            self.reports.append(report)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def batches(self, query_id: str) -> dict[int, dict]:
        """Executed micro-batches of one query, by batch id."""
        with self._lock:
            return {r["batchId"]: r for r in self.reports
                    if r["id"] == query_id and "addBatch" in r.get("durationMs", {})}

    def last_report_at(self) -> float:
        with self._lock:
            return max((_epoch(r["timestamp"]) for r in self.reports), default=0.0)


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def commit_epoch(report: dict) -> float:
    """When a micro-batch committed: its trigger start plus its duration."""
    return _epoch(report["timestamp"]) + report["durationMs"]["triggerExecution"] / 1000.0


def _log_entries(log_dir: Path) -> list[dict]:
    """Entries of a file-source or file-sink metadata log (plain and
    compacted batch files)."""
    entries = []
    if not log_dir.is_dir():
        return entries
    for f in log_dir.iterdir():
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        with open(f) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the log version
        entries.extend(json.loads(line) for line in lines if line.strip())
    return entries


def file_offsets(ckpt: Path) -> dict[str, int]:
    """Source file name -> the file source's log offset that listed it.
    The offset is the source's own counter, not the micro-batch id: a
    batch without new files (a watermark-only batch) does not advance it."""
    out: dict[str, int] = {}
    for e in _log_entries(ckpt / "sources" / "0"):
        name = os.path.basename(e["path"])
        out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def _log_offset(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def file_batches(offsets: dict[str, int], batches: dict[int, dict]) -> dict[str, int]:
    """Source file name -> the executed micro-batch whose source offset
    range covers it."""
    ranges = [(_log_offset(r["sources"][0].get("startOffset")),
               _log_offset(r["sources"][0].get("endOffset")), b) for b, r in batches.items()]
    out = {}
    for name, off in offsets.items():
        for start, end, b in ranges:
            if start < off <= end:
                out[name] = b
                break
    return out


def committed_sink_files(sink: Path) -> list[str]:
    return sorted({e["path"].removeprefix("file://").removeprefix("file:")
                   for e in _log_entries(sink / "_spark_metadata") if e.get("action", "add") == "add"})


class DashboardPoller:
    """Reads the dashboard table every ``POLL_PERIOD_S``; a poll that
    finds no readable table is a miss."""

    def __init__(self, table_dir: Path):
        self.glob = str(table_dir / "*.parquet")
        self.polls = self.misses = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        import duckdb

        con = duckdb.connect()
        next_at = time.time()
        while not self._stop.is_set():
            self.polls += 1
            try:
                con.execute(f"SELECT total_events FROM read_parquet('{self.glob}')").fetchall()
            except duckdb.Error:
                self.misses += 1
            next_at += POLL_PERIOD_S
            self._stop.wait(max(0.0, next_at - time.time()))
        con.close()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _write_events(pdf, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("event_id", pa.string()), ("user_id", pa.string()), ("event_type", pa.string()),
        ("product_id", pa.string()), ("purchase_amount", pa.float64()),
        ("timestamp", pa.timestamp("us")), ("session_id", pa.string()), ("page_url", pa.string()),
        ("user_agent", pa.string()), ("ip_address", pa.string()),
    ])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)


def _expected(files: list[Path]) -> dict:
    """Recompute the three tables with DuckDB over the released files."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    paths = ", ".join(f"'{p}'" for p in files)
    con.execute(f"""
        CREATE VIEW ev AS SELECT "timestamp" AS ts, user_id,
          CASE event_type WHEN 'page_view' THEN 'view' WHEN 'add_to_cart' THEN 'click'
               ELSE event_type END AS event_type,
          coalesce(purchase_amount, 0.0) AS value
        FROM read_parquet([{paths}])""")
    def flags(money: str) -> str:
        return f"""
        CAST(count(*) AS BIGINT) AS total_events,
        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS page_views,
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cart_additions,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS {money}"""

    dash = con.execute(f"""
        SELECT {flags('total_revenue')},
               round(avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) * 100, 4)
        FROM ev""").fetchone()
    hourly = con.execute(f"""
        SELECT *, round(CASE WHEN page_views > 0 THEN purchases * 100.0 / page_views ELSE 0.0 END, 2)
                    AS conversion_rate
        FROM (SELECT date_trunc('hour', ts) AS hour_timestamp, {flags('revenue')}
              FROM ev GROUP BY 1)""").df()
    sessions = con.execute(f"""
        WITH s AS (
          SELECT *, CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTES THEN 0 ELSE 1 END AS new_s
          FROM ev WHERE user_id IS NOT NULL AND ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
               {flags('purchase_amount')},
               round((epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0, 4)
                 AS session_duration_minutes,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0 AS converted
        FROM g GROUP BY user_id, sid""").df()
    con.close()
    return {
        "dashboard_expected": {"total_events": int(dash[0]), "total_revenue": float(dash[4]),
                               "conversion_rate": float(dash[5])},
        "hourly_expected": hourly,
        "sessions_expected": sessions,
    }


def _read_outputs(out: Path) -> dict:
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")

    def read(files: list[str], ts_cols: tuple[str, ...]) -> pd.DataFrame:
        if not files:
            return pd.DataFrame()
        casts = ", ".join(f"{c}::TIMESTAMP AS {c}" for c in ts_cols)
        paths = ", ".join(f"'{p}'" for p in files)
        return con.execute(f"SELECT * REPLACE ({casts}) FROM read_parquet([{paths}])").df()

    dash_files = sorted(str(p) for p in (out / TABLES["dashboard"]).glob("*.parquet"))
    result = {
        "dashboard": con.execute(
            f"SELECT * FROM read_parquet([{', '.join(repr(p) for p in dash_files)}])").df()
        if dash_files else pd.DataFrame(),
        "hourly": read(committed_sink_files(out / TABLES["hourly"]), ("hour_timestamp",)),
        "sessions": read(committed_sink_files(out / TABLES["sessions"]),
                         ("session_start", "session_end")),
    }
    con.close()
    return result


def _sink_footprint(out: Path, table: str) -> tuple[int, int]:
    files = [Path(p) for p in committed_sink_files(out / TABLES[table])]
    return len(files), sum(p.stat().st_size for p in files if p.exists())


class Pipeline:
    """``processor.main()`` in a thread, started and stopped gracefully:
    queries stop only when every file they were waiting for is committed
    and no trigger has been active for ``DRAIN_QUIET_S``, so no sink write
    is interrupted."""

    def __init__(self, spark, listener: ProgressListener, ckpt: Path):
        self.spark, self.listener, self.ckpt = spark, listener, ckpt
        self.query_ids: dict[str, str] = {}
        self.thread: threading.Thread | None = None
        self.error: Exception | None = None

    def _main(self) -> None:
        from e_commerce_click_stream_spark import processor

        try:
            processor.main()
        except Exception as exc:  # reported by stop(), not swallowed
            self.error = exc

    def start(self) -> None:
        self.thread = threading.Thread(target=self._main, name="processor", daemon=True)
        self.thread.start()

    def committed(self, table: str) -> dict[str, int]:
        """Source file -> the committed micro-batch of ``table`` that read it."""
        if table not in self.query_ids:
            meta = self.ckpt / table / "metadata"
            if not meta.exists():
                return {}
            self.query_ids[table] = json.loads(meta.read_text())["id"]
        return file_batches(file_offsets(self.ckpt / table),
                            self.listener.batches(self.query_ids[table]))

    def wait_committed(self, files: list[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline and self.error is None:
            if all(set(files) <= self.committed(t).keys() for t in TABLES):
                return True
            time.sleep(0.05)
        return False

    def stream_jobs(self, counters: SparkCounters) -> set[int]:
        """Jobs of the stream threads (grouped by run id) and ungrouped ones."""
        groups = {r["runId"] for r in self.listener.reports}
        return counters.ungrouped().union(*(counters.tracker.getJobIdsForGroup(g) for g in groups))

    def wait_quiet(self) -> None:
        """Until no trigger has been active for ``DRAIN_QUIET_S``: the
        watermark-only batches that follow a data batch have run."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while self.error is None and time.time() < deadline:
            active = any(q.status["isTriggerActive"] for q in self.spark.streams.active)
            if not active and time.time() - self.listener.last_report_at() >= DRAIN_QUIET_S:
                return
            time.sleep(0.1)

    def stop(self) -> None:
        if self.thread is None:
            return
        self.wait_quiet()
        for q in self.spark.streams.active:
            q.stop()
        self.thread.join(timeout=60)
        alive, self.thread = self.thread.is_alive(), None
        if self.error is not None:
            raise self.error
        if alive:
            raise RuntimeError("processor did not return after its queries stopped")


def run(ctx) -> dict:
    from e_commerce_click_stream_spark import processor
    from e_commerce_click_stream_spark.datagen import generate_events

    spark, tracer = ctx.spark, ctx.tracer
    base = ctx.run_dir.path
    src, staging, out, ckpt = base / "source", base / "staging", base / "out", base / "ckpt"
    for d in (src, staging, out):
        d.mkdir(parents=True)

    # -- inputs ------------------------------------------------------------
    t0 = time.perf_counter()
    pdf = generate_events(spark, n_sessions=N_SESSIONS, seed=ctx.seed).toPandas()
    gen_s = time.perf_counter() - t0
    pdf = pdf.sort_values(["timestamp", "event_id"], kind="stable").reset_index(drop=True)
    n_releases = max(1, round(ctx.seconds / RELEASE_PERIOD_S))
    n_backlog = len(pdf) - n_releases * RELEASE_EVENTS
    if n_backlog < BACKLOG_FILES:
        raise RuntimeError(f"corpus of {len(pdf)} events too small for {n_releases} releases")
    cuts = [round(i * n_backlog / BACKLOG_FILES) for i in range(BACKLOG_FILES + 1)]
    backlog_files = [f"backlog-{i:03d}.parquet" for i in range(BACKLOG_FILES)]
    for i, name in enumerate(backlog_files):
        _write_events(pdf.iloc[cuts[i]:cuts[i + 1]], src / name)
    releases = []
    for i in range(n_releases):
        lo = cuts[-1] + i * RELEASE_EVENTS
        name = f"release-{i:04d}.parquet"
        _write_events(pdf.iloc[lo:lo + RELEASE_EVENTS], staging / name)
        releases.append({"index": i, "file": name, "rows": len(pdf.iloc[lo:lo + RELEASE_EVENTS])})

    os.environ.update(CLICKSTREAM_SOURCE=str(src), CLICKSTREAM_OUTPUT=str(out),
                      CLICKSTREAM_CHECKPOINT=str(ckpt), CLICKSTREAM_TRIGGER=TRIGGER)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    dash_writes: list[float] = []
    if ctx.trace:
        original = processor.overwrite_snapshot

        def timed_overwrite(df, path):
            w0 = time.perf_counter()
            try:
                original(df, path)
            finally:
                dash_writes.append((time.perf_counter() - w0) * 1000.0)

        processor.overwrite_snapshot = timed_overwrite
    counters = SparkCounters(spark) if ctx.trace else None
    errors: list[str] = []
    attempted = failed = 0
    pipeline = Pipeline(spark, listener, ckpt)
    try:
        # -- catch-up: the processor starts with the backlog waiting ------
        ctx.mark_setup_done()
        t_start = time.time()
        pipeline.start()
        if not pipeline.wait_committed(backlog_files, CATCHUP_TIMEOUT_S):
            raise RuntimeError("backlog was not consumed in time")
        catchup_s = max(commit_epoch(listener.batches(pipeline.query_ids[t])[b])
                        for t in TABLES for f, b in pipeline.committed(t).items()
                        if f in backlog_files) - t_start
        pipeline.wait_quiet()  # releases start on an idle processor
        jobs_before = pipeline.stream_jobs(counters) if counters else set()

        # -- steady open loop ----------------------------------------------
        poller = DashboardPoller(out / TABLES["dashboard"])
        poller.start()
        t_steady = time.time()
        for rel in releases:
            rel["due"] = t_steady + rel["index"] * RELEASE_PERIOD_S
            time.sleep(max(0.0, rel["due"] - time.time()))
            os.rename(staging / rel["file"], src / rel["file"])
            rel["released"] = time.time()
            attempted += 1
        time.sleep(max(0.0, t_steady + n_releases * RELEASE_PERIOD_S - time.time()))
        poller.stop()

        # -- drain: every release committed by all three, no trigger active
        released_files = [*backlog_files, *(r["file"] for r in releases)]
        pipeline.wait_committed(released_files, DRAIN_TIMEOUT_S)
        spark_counts = (counters.jobs_counters(pipeline.stream_jobs(counters) - jobs_before)
                        if counters else {})
    finally:
        pipeline.stop()
        spark.streams.removeListener(listener)

    # -- per release and table: due time -> commit of the batch that read it
    reads = {t: pipeline.committed(t) for t in TABLES}
    batches = {t: listener.batches(pipeline.query_ids[t]) for t in TABLES}
    freshness = []
    for rel in releases:
        rel["commits"] = {}
        for t in TABLES:
            b = reads[t].get(rel["file"])
            if b is None:
                continue
            rel["commits"][t] = commit_epoch(batches[t][b])
            freshness.append(rel["commits"][t] - rel["due"])
        if len(rel["commits"]) < len(TABLES):
            failed += 1

    # -- correctness ---------------------------------------------------------
    inputs = {**_expected([src / f for f in released_files]), **_read_outputs(out),
              "released_files": released_files,
              "reads": {t: set(reads[t]) for t in TABLES},
              "released_rows": n_backlog + sum(r["rows"] for r in releases),
              "listener_rows": {t: sum(r["numInputRows"] for r in batches[t].values()) for t in TABLES},
              "dropped": {t: sum(op.get("numRowsDroppedByWatermark", 0)
                                 for r in batches[t].values() for op in r.get("stateOperators", []))
                          for t in TABLES}}
    errors += checks.ingest_errors(inputs)
    errors += checks.ingest_selftest(inputs)

    tail_pct, tail = supported_tail(freshness)
    e2e = {"setup_s": ctx.setup_s, "op_p50_s": median(freshness), "pass_s": catchup_s}
    report = {
        "freshness_p50_s": median(freshness),
        f"freshness_p{tail_pct or 95}_s": tail,
        "freshness_samples": len(freshness),
        "catchup_events_per_s": n_backlog / catchup_s,
        "catchup_s": catchup_s,
        "backlog_events": n_backlog,
        "released_events": sum(r["rows"] for r in releases),
        "dashboard_read_miss_share": poller.misses / max(1, poller.polls),
        "dashboard_polls": poller.polls,
    }
    layers: dict[str, float] = {"datagen.gen_s": gen_s}
    if ctx.trace:
        layers.update(_layer_metrics(batches, reads, backlog_files, releases, out))
        layers["releaser.late_max_s"] = max(r["released"] - r["due"] for r in releases)
        layers["sinks.dashboard.write_ms_p50"] = median(dash_writes) if dash_writes else 0.0
        layers["sinks.dashboard.read_miss_share"] = report["dashboard_read_miss_share"]
        for key in COUNTER_KEYS:
            layers[f"spark.{key}"] = spark_counts[key]
        _trace_spans(tracer, batches, reads, releases)
    return {"e2e": e2e, "layers": layers, "report": report, "attempted": attempted,
            "failed": failed, "errors": errors}


def _layer_metrics(batches, reads, backlog_files, releases, out: Path) -> dict[str, float]:
    layers: dict[str, float] = {}
    for t, by_id in batches.items():
        catchup_ids = {b for f, b in reads[t].items() if f in backlog_files}
        steady = [r for b, r in sorted(by_id.items()) if b > max(catchup_ids)]
        data = [r for r in steady if r["numInputRows"] > 0] or [{"numInputRows": 0, "durationMs": {}}]
        ops = lambda r: r.get("stateOperators", [])  # noqa: E731
        p = f"processor.{t}"
        layers[f"{p}.triggers"] = len(steady)
        layers[f"{p}.trigger_ms_p50"] = median([r["durationMs"].get("triggerExecution", 0) for r in data])
        layers[f"{p}.rows_per_trigger_p50"] = median([r["numInputRows"] for r in data])
        for phase, name in PHASE_METRICS.items():
            layers[f"{p}.{name}"] = median([r["durationMs"].get(phase, 0) for r in data])
        layers[f"{p}.catchup_trigger_ms"] = sum(by_id[b]["durationMs"]["triggerExecution"]
                                                for b in catchup_ids)
        last = by_id[max(by_id)]
        s = f"streaming.{t}"
        layers[f"{s}.state_rows"] = sum(op["numRowsTotal"] for op in ops(last))
        layers[f"{s}.state_memory_bytes"] = sum(op["memoryUsedBytes"] for op in ops(last))
        layers[f"{s}.state_commit_ms_p50"] = median([sum(op["commitTimeMs"] for op in ops(r))
                                                     for r in data])
        layers[f"{s}.state_partitions"] = max((op.get("numShufflePartitions", 0) for op in ops(last)),
                                              default=0)
        layers[f"{s}.rows_dropped_by_watermark"] = sum(op.get("numRowsDroppedByWatermark", 0)
                                                       for r in by_id.values() for op in ops(r))
    for t in ("hourly", "sessions"):
        files, size = _sink_footprint(out, t)
        layers[f"sinks.{t}.files"] = files
        layers[f"sinks.{t}.bytes"] = size
    return layers


def _trace_spans(tracer, batches, reads, releases) -> None:
    """Release spans with one freshness child per table, and trigger spans
    rebuilt from progress reports, one child per phase, linked to the
    releases whose files they read."""
    by_file = {r["file"]: r for r in releases}
    for rel in releases:
        if not rel["commits"]:
            continue
        sid = tracer.add("release", rel["due"], max(rel["commits"].values()),
                         trace=f"release-{rel['index']}", file=rel["file"], rows=rel["rows"],
                         late_s=rel["released"] - rel["due"])
        for t, c in rel["commits"].items():
            tracer.add(f"freshness.{t}", rel["due"], c, parent=sid, trace=f"release-{rel['index']}")
    for t, by_id in batches.items():
        files_of: dict[int, list[str]] = {}
        for f, b in reads[t].items():
            files_of.setdefault(b, []).append(f)
        for b, r in sorted(by_id.items()):
            start = _epoch(r["timestamp"])
            links = sorted(by_file[f]["index"] for f in files_of.get(b, []) if f in by_file)
            sid = tracer.add("trigger", start, commit_epoch(r), trace=f"{t}-{b}", query=t,
                             batch_id=b, rows=r["numInputRows"], links=links)
            at = start
            for phase in PHASES:
                ms = r["durationMs"].get(phase)
                if ms is not None:
                    tracer.add(f"phase.{phase}", at, at + ms / 1000.0, parent=sid, trace=f"{t}-{b}")
                    at += ms / 1000.0
