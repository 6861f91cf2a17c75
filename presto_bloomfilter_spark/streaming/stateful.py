"""Event-time windowed sketch maintenance with watermark-driven
finalization — the custom stateful streaming operator.

The reference has no streaming surface (SURVEY.md §2.3); this exists for
the north-star workload's continuously-arriving data.  Where
``stream_sketch.StreamingSketchSink`` folds whole micro-batches into one
corpus sketch, this operator keeps one sketch per event-time window and
*closes* a window when the watermark passes its end:

- ``applyInPandasWithState`` holds the serialized sketch as the group
  state for each (window_start[, extra key]) group — the Spark-native
  home for custom streaming state (exactly-once via the checkpoint);
- late rows inside the watermark still reach their window's group and
  merge in (sketch merges are commutative, arrival order is irrelevant);
- rows later than the watermark are dropped by Spark before the
  operator runs — the documented late-data policy;
- when the event-time timeout fires (watermark > window end), the
  operator emits the finalized ``(window_start, sketch)`` row and
  removes the state, so output contains each window exactly once.

At scale the state store shards by group key across executors — skew is
bounded because windows are time-sliced; add a key column (e.g.
``source``) to shard hot windows further.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
from presto_bloomfilter_spark.operators.aggregate import SketchSpec, _build_partial, _unwrap


def windowed_sketch_stream(
    stream_df: DataFrame,
    spec: SketchSpec,
    time_col: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-event-time-window sketches over a streaming DataFrame.

    Returns a streaming DataFrame[window_start timestamp, sketch binary]
    in *append* mode: one row per window, emitted when the watermark
    closes it.  Run with ``.writeStream.outputMode("append")``.
    """
    # captured driver-side: timestamps reach the state function as
    # SESSION-timezone-naive pandas values, and Timestamp.timestamp()
    # would interpret them as UTC — localize with the real session zone
    # or the timeout epoch is offset by the UTC delta (a window in a
    # UTC-8 session would finalize ~8 h early via the clamp, then
    # re-open and emit a SECOND row for the same window)
    session_tz = stream_df.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC") or "UTC"
    win = F.window(F.col(time_col), window_duration)
    bucketed = (
        stream_df.withWatermark(time_col, watermark_delay)
        .withColumn("window_start", win.start)
        .withColumn("window_end", win.end)
    )
    # the watermarked event-time column must survive the projection or
    # Catalyst loses the watermark→stateful-operator linkage
    cols = list(dict.fromkeys(["window_start", "window_end", time_col, *spec.columns]))
    # pandas floats a nullable int column (NaN for NULL); the Spark
    # schema puts it back to exact ints before update picks the path
    arrow_schema = to_arrow_schema(bucketed.select(*spec.columns).schema)

    def fold(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        import pyarrow as pa

        if state.hasTimedOut:
            # watermark passed window end: finalize exactly once
            (blob,) = state.get
            state.remove()
            yield pd.DataFrame({"window_start": [key[0]], "sketch": [blob]})
            return

        sk = (
            sketch_from_bytes(state.get[0])
            if state.exists
            else _unwrap(spec.factory())
        )
        window_end = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            window_end = pdf["window_end"].iloc[0]
            batch = pa.RecordBatch.from_pandas(
                pdf[list(spec.columns)], schema=arrow_schema, preserve_index=False
            )
            sk = sk.merge(_build_partial(spec, [batch])[0])
        state.update((sk.to_bytes(),))
        if window_end is not None:
            # fire when the watermark passes the end of this window;
            # clamped to just past the current watermark because a batch
            # can deliver rows for a window the watermark already closed
            # (rows are admitted against the PREVIOUS batch's watermark)
            end_ms = int(
                pd.Timestamp(window_end)
                .tz_localize(session_tz, ambiguous=True,
                             nonexistent="shift_forward")
                .timestamp() * 1000)
            state.setTimeoutTimestamp(max(end_ms, state.getCurrentWatermarkMs() + 1))
        return
        yield  # pragma: no cover — make fold a generator in all paths

    return bucketed.select(*cols).groupBy("window_start").applyInPandasWithState(
        fold,
        outputStructType="window_start timestamp, sketch binary",
        stateStructType="sketch binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_windowed_stream_from_files(
    spark,
    input_dir: str,
    schema: str,
    spec: SketchSpec,
    time_col: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "10 minutes",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
):
    """Drive windowed_sketch_stream over a file source until exhausted
    (Trigger.AvailableNow); returns the finalized windows collected via
    an in-memory sink.  Windows still open when the source drains (the
    watermark never passes their end) are intentionally NOT emitted —
    identical to production semantics where they await more data."""
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    out = windowed_sketch_stream(
        reader, spec, time_col, window_duration, watermark_delay
    )
    writer = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("windowed_sketches")
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return spark.sql("SELECT * FROM windowed_sketches ORDER BY window_start")
