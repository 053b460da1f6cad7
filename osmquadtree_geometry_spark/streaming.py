"""Structured Streaming surface.

The reference has no streaming operators (SURVEY §2.6) — its
tile-ordered eviction is the moral equivalent of a watermark.  This
module provides the streaming shape a live feed would use:

  * ``stream_decode``: docs arriving as a stream -> decoded node
    stream (same JVM-side decode as batch).
  * ``streaming_tile_counts``: windowed per-tile feature counts with a
    watermark for late data.
  * ``streaming_events_rollup``: generic windowed agg over the
    ``events`` table shape (ts/user_id/event_type/value).

Local tests drive these with the file source + ``processAllAvailable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import DOCS_SCHEMA  # pyarrow schema (shape reference)
from .decode import _node_rows, explode_spans
from .kernels.quadtree import sql_round_qt, with_point_qt

DOCS_DDL = ("doc_id string, spans array<struct<kind:string, text:string, "
            "media_ref:string, offset:int>>")


def stream_docs(spark: SparkSession, path: str) -> DataFrame:
    return (spark.readStream.schema(DOCS_DDL).parquet(path))


def stream_decode_nodes(docs_stream: DataFrame) -> DataFrame:
    """Streaming stage-0: spans -> nodes (stateless, no shuffle).
    Tag enrichment needs a groupBy and belongs to the batch layer;
    the streaming path emits location/tagless candidates, parsed and
    filtered exactly as the batch decode does."""
    n = _node_rows(explode_spans(docs_stream), "doc_id", "id", "lon", "lat")
    return with_point_qt(n, "lon", "lat")


def streaming_tile_counts(node_stream: DataFrame, tile_depth: int = 8,
                          with_ts: bool = True) -> DataFrame:
    """Per-tile arrival counts; complete-mode aggregate (file-source
    demos) — swap in a watermark + window when the source carries
    event time."""
    return (node_stream
            .withColumn("tile", F.expr(sql_round_qt("quadtree", str(tile_depth))))
            .groupBy("tile")
            .agg(F.count("*").alias("n_nodes")))


def streaming_events_rollup(spark: SparkSession, events_path: str,
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Watermarked windowed rollup over the events stream shape."""
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import os
    reader = spark.readStream.schema(schema)
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        events_path = os.path.dirname(events_path)
    ev = reader.parquet(events_path)
    return (ev.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "total_value"))


def streaming_sessionize(spark: SparkSession, events_path: str,
                         gap_minutes: int | None = 30) -> DataFrame:
    """Custom STATEFUL streaming operator via
    ``applyInPandasWithState``: per-user session accumulation with a
    processing-time timeout — a session closes when no event arrives
    for ``gap_minutes`` (state timeout) and is emitted with its event
    count and bounds.  This is the stateful shape the reference's
    tile-ordered eviction maps to in Structured Streaming (state
    keyed by user, bounded by the timeout — no unbounded state at any
    scale)."""
    import os
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    reader = spark.readStream.schema(schema)
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        events_path = os.path.dirname(events_path)
    ev = reader.parquet(events_path)
    # gap_minutes=None -> NoTimeout: sessions stay open (snapshot per
    # batch) — the deterministic mode for finite-source replay tests;
    # with a gap, a ProcessingTimeTimeout closes idle sessions but the
    # query then runs timeout-firing microbatches until the gap
    # elapses (continuous-source semantics).
    gap_ms = None if gap_minutes is None else gap_minutes * 60 * 1000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, t0, t1 = state.get
            state.remove()
            yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                                "session_start": [t0], "session_end": [t1],
                                "closed": [True]})
            return
        n, t0, t1 = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            lo = pdf["ts"].min().isoformat()
            hi = pdf["ts"].max().isoformat()
            t0 = lo if t0 is None or lo < t0 else t0
            t1 = hi if t1 is None or hi > t1 else t1
        state.update((n, t0, t1))
        if gap_ms is not None:
            state.setTimeoutDuration(gap_ms)
        # interim (open) session snapshot
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                            "session_start": [t0], "session_end": [t1],
                            "closed": [False]})

    out_schema = ("user_id long, n_events long, session_start string, "
                  "session_end string, closed boolean")
    state_schema = "n long, t0 string, t1 string"
    timeout = (GroupStateTimeout.NoTimeout if gap_ms is None
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (ev.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "append", timeout))


def run_stream_to_memory(q_df: DataFrame, name: str, mode: str = "complete"):
    """Drive a streaming DF to completion against a memory sink (test
    harness): returns the query handle after processAllAvailable."""
    q = (q_df.writeStream.outputMode(mode)
         .format("memory").queryName(name).start())
    q.processAllAvailable()
    return q
