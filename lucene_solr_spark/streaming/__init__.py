"""Structured Streaming equivalents of Solr's streaming/daemon surface.

Reference mapping (SURVEY.md §2.9):

- ``incremental_index``  — `[U] solr/solrj/.../io/stream/UpdateStream.java`
  + `/update` NRT path (`[U] .../update/DirectUpdateHandler2.java`):
  a ``foreachBatch`` sink that appends each micro-batch to the index as
  new segments through the SAME manifest-gated ``build_index`` path, so
  exactly-once-per-segment semantics come from the checkpoint (Spark's
  WAL) x idempotent segment writes (fingerprinted manifest).
- ``topic_stream``       — `[U] .../io/stream/TopicStream.java`:
  at-least-once incremental delivery of query-matching docs since the
  last checkpoint; the reference tracks a ``_version_`` watermark, here
  Spark's file-source checkpoint tracks consumed input files.
- ``daemon_counts``      — `[U] .../io/stream/DaemonStream.java` wrapping
  a rollup: a resident recurring aggregation, expressed as a windowed
  streaming agg with a WATERMARK — strictly stronger late-data semantics
  than the reference, which has none (SURVEY.md §2.9 'topic' row).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import build_index, read_manifest

__all__ = ["incremental_index", "topic_stream", "daemon_counts",
           "sessionize"]


def sessionize(stream: DataFrame, key_col: str = "user_id",
               ts_col: str = "ts", gap_seconds: int = 600) -> DataFrame:
    """Custom STATEFUL operator via ``applyInPandasWithState`` (the
    seam the task brief names for operators Spark lacks): inactivity-
    gap sessionization of an event stream.

    Per key, events accumulate into the open session carried in group
    state across micro-batches (checkpointed — a restarted query
    resumes its open sessions); an event arriving more than
    ``gap_seconds`` after the previous one CLOSES the session, which is
    emitted as (key, session_start, session_end, n_events). Only closed
    sessions are emitted, so the output is deterministic and
    replay-stable; production variants would add an event-time timeout
    + watermark to flush idle sessions.

    State is three int64s per key — at 10^12 events the state store
    scales with |keys|, not |events|, and each micro-batch shuffles
    only its own rows once (the groupBy key partitioning).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_seconds) * 1_000_000
    out_schema = (f"{key_col} long, session_start timestamp, "
                  f"session_end timestamp, n_events long")
    state_schema = "start long, last long, n long"

    def fn(key, pdf_iter, state: GroupState):
        parts = [pdf[ts_col] for pdf in pdf_iter]
        ts = pd.concat(parts).sort_values()
        micros = (ts.astype("int64") // 1000).tolist()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        for t in micros:
            if last is None:
                start, last, n = t, t, 1
            elif t - last <= gap_us:
                last, n = t, n + 1
            else:
                closed.append((start, last, n))
                start, last, n = t, t, 1
        state.update((start, last, n))
        if closed:
            yield pd.DataFrame({
                key_col: [int(key[0])] * len(closed),
                "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                "n_events": [c[2] for c in closed],
            })

    return stream.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def incremental_index(
    spark: SparkSession,
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    docs_per_seg: int = 4096,
    analyzer: str = "standard",
    trigger_available_now: bool = True,
):
    """Continuously index a stream of (doc_id, repo, path, commit, lang,
    content) rows. Returns the StreamingQuery.

    Each micro-batch becomes >= 0 new segments via the resumable
    ``build_index`` (segments already in the manifest are skipped, so a
    replayed batch after failure is a no-op — the checkpoint/lineage
    story of BASELINE.json north_rule extended to streaming).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_index(
            batch_df.sparkSession, batch_df, index_dir,
            docs_per_seg=docs_per_seg, analyzer=analyzer,
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def topic_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    predicate,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """At-least-once delivery of matching rows appearing under
    ``source_dir`` (TopicStream): file-source checkpoint = the topic
    cursor. Returns the StreamingQuery writing matches to ``out_dir``."""
    src = spark.readStream.schema(schema).parquet(source_dir)
    writer = (
        src.filter(predicate)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def daemon_counts(
    stream: DataFrame,
    ts_col: str,
    window: str,
    watermark: str,
    *aggs,
):
    """Recurring windowed rollup with late-data watermark (DaemonStream
    x RollupStream x TimeSeries). Caller attaches the sink:

        daemon_counts(s, "ts", "1 hour", "10 minutes", F.count("*"))
            .writeStream.outputMode("append")...
    """
    if not aggs:
        aggs = (F.count(F.lit(1)).alias("cnt"),)
    return (
        stream.withColumn("_evt_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("_evt_ts", watermark)
        .groupBy(F.window(F.col("_evt_ts"), window).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("bucket_start"), "*")
        .drop("w")
    )
