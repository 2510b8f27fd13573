"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch (SURVEY §2.9), and so is the primary
pipeline here; this module shows the SAME ``mapInPandas`` stage running
incrementally: ``readStream`` over a file/Iceberg-snapshot source →
salted repartition → extraction → ``writeStream`` with a checkpoint.
Spark's streaming checkpoint gives exactly-once file-source progress,
complementing the batch lineage tables (lineage.py) — new transcript
files are picked up incrementally, already-processed files are never
re-extracted.

Round 2 adds the two stateful tiers on top of the stateless stage:

* :func:`windowed_turn_metrics` — event-time tumbling-window rollups
  with ``withWatermark`` late-data semantics (append mode: a window
  emits exactly once, when the watermark passes its end; rows arriving
  later than the watermark allowance are DROPPED, counted never);
* :func:`conversation_state_stream` — a custom stateful operator via
  ``applyInPandasWithState``: per-conversation running totals carried
  in the state store across micro-batches (the GroupState pattern for
  operators Spark's built-ins can't express).
"""

from __future__ import annotations

from libpdf_spark.config import DEFAULT_CONFIG, ExtractConfig

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _read_transcript_stream(spark, input_path: str):
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )


def extract_turns_stream(
    spark,
    input_path: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
):
    """Streaming DataFrame of extraction results over a parquet
    file-source directory (new files = new micro-batches): the batch
    plan of ``pipeline.extract_turns``, salted on the input side."""
    from libpdf_spark.pipeline import extract_turns

    return extract_turns(_read_transcript_stream(spark, input_path), cfg, salt_stage="input")


def run_stream_once(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    timeout_sec: int = 300,
) -> None:
    """Process everything currently available, exactly once, then stop
    (``Trigger.AvailableNow``). Re-invoking with the same checkpoint
    processes ONLY files that arrived since — incremental resume."""
    q = (
        extract_turns_stream(spark, input_path, cfg)
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError("streaming extraction did not drain in time")


def windowed_turn_metrics(
    stream_df,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
):
    """Event-time tumbling-window turn metrics with late-data handling.

    Append-mode semantics: a (window, role) row is emitted exactly once
    — when the watermark (max event time seen, minus the allowance)
    passes the window end — and any row arriving more than
    ``watermark`` behind the stream's max ``ts`` is dropped before the
    aggregation. The watermark persists in the checkpoint, so
    ``availableNow`` re-runs advance it across invocations.
    """
    from pyspark.sql import functions as F

    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.length("text")).alias("bytes_in"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "role", "turns", "bytes_in",
        )
    )


def run_windowed_metrics_once(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    timeout_sec: int = 300,
) -> None:
    """Drain currently-available files through the watermarked window
    aggregation (append mode → only CLOSED windows reach the sink)."""
    q = (
        windowed_turn_metrics(
            _read_transcript_stream(spark, input_path), window, watermark
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError("windowed metrics stream did not drain in time")


CONV_STATE_DDL = "n_turns long, n_docs long"
CONV_STATE_OUTPUT_DDL = (
    "conv_id string, n_turns long, n_docs long, batch_turns long"
)


def conversation_state_stream(spark, input_path: str):
    """Custom stateful operator (``applyInPandasWithState``): per-
    conversation running totals (turns seen, document-bearing turns)
    carried in the state store across micro-batches. Each batch emits
    one row per updated conversation with the accumulated totals plus
    this batch's contribution — the pattern for incremental corpus
    statistics that no built-in aggregation expresses (state survives
    restarts via the checkpoint)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from libpdf_spark.payload import DOC_OPEN, PDF_OPEN

    def update_fn(key, pdf_iter, state: GroupState):
        n_turns, n_docs = state.get if state.exists else (0, 0)
        batch_turns = 0
        for pdf in pdf_iter:
            batch_turns += len(pdf)
            for text in pdf["text"]:
                if isinstance(text, str) and (DOC_OPEN in text or PDF_OPEN in text):
                    n_docs += 1
        n_turns += batch_turns
        state.update((n_turns, n_docs))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "n_docs": [n_docs],
                "batch_turns": [batch_turns],
            }
        )

    return (
        _read_transcript_stream(spark, input_path)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update_fn,
            outputStructType=CONV_STATE_OUTPUT_DDL,
            stateStructType=CONV_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_state_stream_once(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    timeout_sec: int = 300,
) -> None:
    q = (
        conversation_state_stream(spark, input_path)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError("stateful stream did not drain in time")


# --- streaming gap sessionization (round 6) ---------------------------------

EVENTS_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
SESSION_STATE_DDL = (
    "start_us long, last_us long, n_events long, last_wall_us long"
)
SESSION_OUTPUT_DDL = (
    "user_id long, start_us long, end_us long, n_events long"
)
SESSION_GAP_S = 1800  # mirrors operators.events.SESSION_GAP_S


def sessionize_stream(spark, input_path: str, gap_s: int = SESSION_GAP_S):
    """Streaming twin of ``operators.events.q_sessionize``: gap-based
    sessions via ``applyInPandasWithState`` with an EVENT-TIME state
    timeout. Two close paths, both exact:

    * intra-batch — a gap inside one micro-batch closes the previous
      session immediately (emitted this batch);
    * cross-batch — an open session's state carries
      ``(start, last, n)``; its timeout timestamp is ``last + gap``,
      so when the WATERMARK (1 h allowance) passes that point with no
      new events, ``state.hasTimedOut`` fires and the session closes.

    State is per ``user_id`` — the same single hash exchange as the
    batch plan, but held incrementally in the state store (RocksDB on
    a real cluster), checkpoint-recoverable. A closed session's rows
    match the batch operator row-for-row (pinned by the parity test
    and by the SIGKILL-mid-drain drill, scripts/drill_stream_kill.py).

    LATE-DATA SEMANTICS (ADVICE r6): batch parity holds for events
    arriving within the 1 h watermark allowance of time order. An
    event older than the watermark whose session state is GONE
    (already closed — immediately below, or by timeout) starts a
    fresh 1-event session rather than reopening the closed one, so a
    backfill later than the allowance can diverge from the batch
    result; count closed sessions against the batch operator when
    ingesting historical data. When a batch's events are late enough
    that the watermark already passed ``last + gap`` (kill-restart
    replay restores a watermark ahead of the replayed events; any
    out-of-order micro-batch), the session closes IMMEDIATELY in that
    batch — setting the (past) timeout would abort the query with
    INVALID_TIMEOUT_TIMESTAMP.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_s * 1_000_000

    def update_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            s, last, n, _w = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "start_us": [s],
                 "end_us": [last], "n_events": [n]}
            )
            return
        s, last, n, wall = (
            state.get if state.exists else (None, None, 0, None)
        )
        # (naive micros for session arithmetic/output parity with the
        # batch operator, wall-clock micros for the watermark-based
        # timeout — identical under a UTC session, differing only by
        # the fixed tz offset otherwise, which cancels in gap tests)
        pairs: list[tuple[int, int]] = []
        for pdf in pdf_iter:
            pairs.extend(
                zip(pdf["ts_us"].astype("int64"),
                    pdf["wall_us"].astype("int64"))
            )
        pairs.sort()
        closed: list[tuple[int, int, int]] = []
        for t, w in pairs:
            t, w = int(t), int(w)
            if s is None:
                s, last, n, wall = t, t, 1, w
            elif t - last > gap_us:
                closed.append((s, last, n))
                s, last, n, wall = t, t, 1, w
            else:
                last, n = max(last, t), n + 1
                wall = max(wall, w)
        deadline_ms = (wall + gap_us) // 1000
        wm_ms = state.getCurrentWatermarkMs()
        if deadline_ms <= wm_ms:
            # The watermark has ALREADY passed last + gap — no future
            # event can extend this session (anything later than the
            # watermark starts a new one), so close it NOW instead of
            # setting a timeout. Setting a timeout in the past raises
            # INVALID_TIMEOUT_TIMESTAMP and aborts the query — hit in
            # practice on kill-restart replay (the checkpoint restores
            # a watermark ahead of the replayed batch's events; found
            # by scripts/drill_stream_kill.py) and on any out-of-order
            # micro-batch whose events trail the watermark by > gap.
            closed.append((s, last, n))
            state.remove()
        else:
            state.update((s, last, n, wall))
            # event-time timeout takes epoch MILLIS on the WATERMARK
            # clock; fires when the watermark passes last + gap
            state.setTimeoutTimestamp(deadline_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "start_us": [c[0] for c in closed],
                    "end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    ev = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
        .withColumn(
            "ts_us",
            F.expr(
                "timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ),
        )
        # watermarks require TIMESTAMP (not NTZ): cast for the
        # event-time clock, keep the naive micros for session math
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("wall_us", F.unix_micros("ts"))
        .withWatermark("ts", "1 hour")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=SESSION_OUTPUT_DDL,
        stateStructType=SESSION_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_sessionize_stream_once(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gap_s: int = SESSION_GAP_S,
    timeout_sec: int = 300,
) -> None:
    q = (
        sessionize_stream(spark, input_path, gap_s)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError("sessionize stream did not drain in time")
