"""Structured Streaming building blocks over the ``events`` and
``documents`` tables.

The reference is batch-only (SURVEY.md §1: "Streams … Absent"); this
is a BASELINE.json extension.  The parquet directory doubles as a
replayable stream source for tests (`readStream.parquet` with
``maxFilesPerTrigger``); in production the same plan binds to Kafka.

Patterns covered: watermarked tumbling-window aggregation, sliding
windows, session windows, custom state (``applyInPandasWithState`` and
Spark 4 ``transformWithState``), and the bounded-replay harness that
drives a stream to completion.  The graded ``streaming_*`` entries are
composed from these in ``queries/events.py``; a streaming plan can't be
DuckDB-checked, so each one's bounded replay equals a batch twin the
driver hashes instead.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdbms_subsetter_spark.catalog import _fix_nanos_timestamps
from rdbms_subsetter_spark.session import conf_window, pin_session_conf, stable_suffix


def _replay_stream(
    spark: SparkSession, sf_dir: str, table: str, scratch: str
) -> DataFrame:
    """``table``'s parquet as a bounded replay stream, one file per
    trigger.

    Spark's FileStreamSource only accepts directories; the testdata is
    a single file, so it is staged (symlinked) into the scratch dir
    ``{scratch}_{stable_suffix(path)}`` — zero-copy, testdata untouched."""
    pin_session_conf(spark)
    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        stream_dir = path
    else:
        stream_dir = os.path.join(
            tempfile.gettempdir(), f"{scratch}_{stable_suffix(path)}"
        )
        os.makedirs(stream_dir, exist_ok=True)
        link = os.path.join(stream_dir, f"{table}.parquet")
        # lexists, not exists: a stale link whose target vanished reads
        # as "absent" to exists() but still blocks symlink creation
        if os.path.lexists(link) and not os.path.exists(link):
            os.remove(link)
        if not os.path.lexists(link):
            os.symlink(path, link)
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events parquet table as a bounded replay stream."""
    stream = _replay_stream(spark, sf_dir, "events", "rss_stream")
    return _fix_nanos_timestamps(stream, f"{sf_dir}/events.parquet")


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents parquet table as a bounded replay stream — the
    LLM-ingest scenario: a corpus arriving file-by-file from a crawler."""
    return _replay_stream(spark, sf_dir, "documents", "rss_docstream")


def hourly_agg(events: DataFrame) -> DataFrame:
    """Watermarked (1 hour) tumbling-window aggregation (late rows
    beyond the watermark are dropped)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute gap (native
    session_window)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Watermarked (1 hour) sliding-window aggregation (1h window,
    30min slide — each event lands in exactly two windows, Expand ×2)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_memory(
    spark: SparkSession,
    agg: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int = 8,
    progress_out: dict | None = None,
) -> DataFrame:
    """Drive a bounded stream to completion synchronously and return
    the materialized sink table (local smoke-test harness).

    Streaming state partitioning is fixed at the query's first
    checkpoint and should be sized to state volume, not inherited from
    the batch shuffle width: every stateful operator maintains one or
    more state stores PER PARTITION per micro-batch, and the store
    open/commit overhead dominates small-state local runs (measured 3x
    on the outer interval join: 32 partitions 9 s -> 8 partitions 4 s
    at sf0.1).  Results are partitioning-independent; the session conf
    is restored once the query has stopped.

    ``progress_out``: if given, receives ``{"watermark": <datetime|None>}``
    — the query's FINAL global watermark from its own progress report.
    Deterministic-region cuts should derive from this instead of a
    separate pre-stream scan: it is the exact value the engine used for
    the last emission/eviction pass (no re-derivation drift, one less
    driver job)."""
    with conf_window(spark, {"spark.sql.shuffle.partitions": str(state_partitions)}):
        q = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            if progress_out is not None:
                progress_out["watermark"] = _final_watermark(q)
                progress_out["n_state_operators"] = len(
                    (q.lastProgress or {}).get("stateOperators") or []
                )
        finally:
            q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _final_watermark(q) -> "object | None":
    """Parse the final global watermark out of a finished query's last
    progress report (naive UTC — the session timezone is pinned UTC);
    None when no event-time watermark exists or no batch ran.

    Truncated to WHOLE SECONDS: the engine already truncates the
    watermark to milliseconds while raw event times carry microseconds,
    so any cut derived from it must land on a grid both an oracle (from
    raw max(ts)) and the engine (from the ms-truncated watermark) agree
    on — floor_s(floor_ms(x)) == floor_s(x) for every x, whole seconds
    are that grid."""
    from datetime import datetime

    prog = q.lastProgress
    wm = (prog or {}).get("eventTime", {}).get("watermark")
    if not wm:
        return None
    return datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ").replace(microsecond=0)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum
    via ``applyInPandasWithState`` (Arrow-batched, state in the store —
    the pattern for any accumulator Spark's built-in aggs can't express).
    Emits the updated running totals for each user touched by a batch.
    """
    import pandas as pd

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_user_totals_v2(events: DataFrame) -> DataFrame:
    """Per-user running totals via the Spark 4 ``transformWithState``
    API: a ``StatefulProcessor`` with a typed ValueState variable —
    the successor to ``applyInPandasWithState`` (composable state
    variables, timers, TTL) and the pattern for any accumulator the
    built-in aggregates can't express."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        UserTotals(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def transform_with_state_available() -> bool:
    """transformWithState's state-server protocol needs protobuf in the
    Python env (pyspark does not vendor it); absent that, the driver
    worker crashes at init."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False
