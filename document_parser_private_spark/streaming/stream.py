"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY §2.9) and the north_rule targets
batch Iceberg snapshots, but the extraction transforms are all narrow
per-document maps — so the batch pipeline's kernel runs unchanged
in a streaming query (`readStream` on a documents directory → kernel →
`writeStream`). This module provides the micro-batch ingestion path a
continuously-fed 100 TB corpus would use (the file source's default
trigger sizing; exactly-once via the streaming checkpoint + idempotent
sink).

Also includes the canonical event-time windowed aggregation with
watermark (late-data handling) over an events stream.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..corpus import DOCS_DDL
from ..operators.batch import forget_zip_importers
from ..operators.resume import CLEAN_ARROW, CLEAN_FIELDS, clean_columns


@arrow_udf(T.StructType(CLEAN_FIELDS))
def _clean_and_sections_udf(spans: pa.Array) -> pa.Array:
    """The batch kernel (clean_columns) as a scalar Arrow UDF: one
    Python node, no entity extraction."""
    forget_zip_importers()
    clean, _ = clean_columns(spans)
    return pa.StructArray.from_arrays(clean, fields=list(CLEAN_ARROW))


def stream_extract(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream(documents dir) -> classify -> layout -> sections, via
    the batch pipeline's kernel (operators/resume.clean_columns).

    No shuffle anywhere: every micro-batch is a pure narrow map, so the
    query needs no state store and sustains source-rate throughput.
    """
    docs = spark.readStream.schema(DOCS_DDL).parquet(input_dir)
    out = docs.select("doc_id", _clean_and_sections_udf("spans").alias("_k"))
    return out.select("doc_id", "_k.*")


def run_stream_to_parquet(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the input directory once (availableNow) into parquet with a
    streaming checkpoint — kill/rerun resumes from the last committed
    micro-batch (file-source offsets in the checkpoint)."""
    out = stream_extract(spark, input_dir)
    flat = out.select(
        "doc_id", "blocks_kept", "blocks_dropped",
        F.to_json("clean_spans").alias("clean_spans_json"),
        F.to_json("sections").alias("sections_json"),
    )
    q = (
        flat.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(events: DataFrame, watermark: str = "10 minutes",
                          window: str = "5 minutes") -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark —
    works on both a static and a streaming `events` DataFrame."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "avg_value",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful streaming operator: gap-based sessionization
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30

_SESSION_OUT_DDL = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, closed boolean"
)
_SESSION_STATE_DDL = "start long, last long, n long"


def _session_fn(key, pdf_iter, state):
    """applyInPandasWithState function: per-user open-session state
    (start/last/n epoch-seconds); emits closed sessions when the gap
    exceeds SESSION_GAP_MIN or the watermark times the state out.

    State is O(1) per active user (three longs) — at 100 TB / millions
    of users the state store shards by user_id across executors and the
    per-key payload stays constant.
    """
    import pandas as pd  # local import: runs on python workers

    gap = SESSION_GAP_MIN * 60
    (user_id,) = key

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame([{
            "user_id": user_id,
            "session_start": pd.Timestamp(start, unit="s"),
            "session_end": pd.Timestamp(last, unit="s"),
            "n_events": n, "closed": True,
        }])
        return

    ts_all = []
    for pdf in pdf_iter:
        ts_all.extend(pdf["ts"].astype("int64") // 10**9)
    ts_all.sort()

    start, last, n = state.get if state.exists else (None, None, 0)
    out = []
    for t in ts_all:
        t = int(t)
        if start is None:
            start, last, n = t, t, 1
        elif t - last > gap:
            out.append((start, last, n, True))
            start, last, n = t, t, 1
        else:
            last, n = max(last, t), n + 1
    state.update((start, last, n))
    state.setTimeoutTimestamp(last * 1000 + gap * 1000)
    if out:
        yield pd.DataFrame([{
            "user_id": user_id,
            "session_start": pd.Timestamp(s, unit="s"),
            "session_end": pd.Timestamp(e, unit="s"),
            "n_events": c, "closed": closed,
        } for (s, e, c, closed) in out])


def sessionize_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Gap-based sessionization as a custom stateful operator
    (applyInPandasWithState): no built-in Spark operator expresses
    "session closes after 30 idle minutes" — session_window() exists for
    aggregation but not for arbitrary per-session logic; this is the
    template for custom per-key streaming state (SURVEY §2.9 gap —
    reference has no streaming at all; this goes beyond it).

    Works identically in availableNow drain mode (tests) and continuous
    micro-batches; exactly-once via the state store + checkpoint.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT_DDL,
            stateStructType=_SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming near-duplicate suppression (training-data pipeline op)
# ---------------------------------------------------------------------------

def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    horizon: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup over the document fingerprint with BOUNDED
    state: dropDuplicatesWithinWatermark keeps a fingerprint in the state
    store only for the watermark horizon, so state is O(docs per horizon)
    instead of O(all docs ever) — the only formulation that survives an
    unbounded 100 TB ingest stream. Duplicates arriving farther apart
    than the horizon are handled by the periodic BATCH exact_dedup
    compaction over the accumulated table (the standard lambda split).

    Spans-level text is fingerprinted exactly like the batch op
    (textstats.fingerprint_col over the concatenated span text)."""
    from ..operators.textstats import fingerprint_col

    docs = spark.readStream.schema(DOCS_DDL).parquet(input_dir)
    text = F.concat_ws(
        "\n", F.transform("spans", lambda s: F.coalesce(s["text"], F.lit("")))
    )
    return (
        docs.withColumn("fingerprint", fingerprint_col(text))
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", horizon)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .drop("ingest_ts")
    )


def run_stream_dedup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    horizon: str = "10 minutes",
) -> None:
    """Drain input once (availableNow) through the streaming dedup."""
    out = stream_dedup(spark, input_dir, horizon=horizon)
    q = (
        out.select("doc_id", "fingerprint", "byte_size")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Streaming funnel (training-data / event-analytics op)
# ---------------------------------------------------------------------------

def _funnel_fn_factory(stages):
    """Build the applyInPandasWithState function for `funnel_stream`.

    State per user = one epoch-nanosecond long per stage (0 = unset) —
    O(n_stages) constant, never grows with event volume. The greedy
    frontier is exact under event-time-ordered delivery: processing
    events sorted by (ts, stage_idx), a stage-i event is admitted iff
    t_{i-1} is set and ts >= t_{i-1}, which reproduces the batch
    operator's min-per-stage recursion (funnel.py) because the first
    qualifying event seen in ts order IS the minimum. Set timestamps
    are immutable, so the deepest emitted snapshot per user equals the
    final state.
    """
    n = len(stages)
    idx = {s: i for i, s in enumerate(stages)}

    def fn(key, pdf_iter, state):
        import pandas as pd  # local import: runs on python workers

        (user_id,) = key
        ts = list(state.get) if state.exists else [0] * n
        rows = []
        for pdf in pdf_iter:
            ns = pdf["ts"].astype("datetime64[ns]").astype("int64")
            for t, st in zip(ns, pdf["event_type"]):
                i = idx.get(st)
                if i is not None:
                    rows.append((int(t), i))
        rows.sort()
        for t, i in rows:
            if ts[i] == 0 and (i == 0 or (ts[i - 1] != 0
                                          and t >= ts[i - 1])):
                ts[i] = t
        state.update(tuple(ts))
        completed = 0
        for i in range(n):
            if ts[i] == 0:
                break
            completed = i + 1
        if ts[0] != 0:
            yield pd.DataFrame([{
                "user_id": user_id,
                **{
                    f"t{i + 1}": (pd.Timestamp(ts[i], unit="ns")
                                  if ts[i] else pd.NaT)
                    for i in range(n)
                },
                "stages_completed": completed,
            }])

    return fn


def funnel_stream(events: DataFrame, stages,
                  watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of `operators.funnel.funnel`: per-user ordered
    funnel maintained incrementally as a custom stateful operator
    (applyInPandasWithState, update mode). Each micro-batch emits the
    user's current frontier snapshot; set stage timestamps never
    change, so the deepest snapshot per user equals the batch funnel
    over the same events (replay-equality pinned in
    tests/test_streaming.py).

    DELIVERY CONTRACT (ADVICE r5, explicit): stage timestamps are
    greedy-immutable — an earlier-timestamped event arriving in a LATER
    micro-batch cannot lower an already-set stage, so batch parity
    holds only when each user's events arrive in event-time order
    ACROSS micro-batches (within a batch they are sorted here). The
    watermark bounds state retention; it does not reorder late data.
    Feed from an ordered log (per-user-keyed Kafka partitions or a
    sorted replay) or accept frontier-of-arrival-order semantics.
    Timestamps exactly at the epoch (0 ns) are indistinguishable from
    the unset sentinel and cannot set a stage — real feeds start after
    1970 by many years; a nullable state column would lift both
    limits and is the documented upgrade path.

    Scale shape: state is n_stages longs per user sharded by user_id
    across executors; events cross one exchange (the groupBy) and are
    never buffered beyond the in-flight micro-batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stages = list(stages)
    if not stages:
        raise ValueError("funnel_stream needs at least one stage")
    out_ddl = "user_id long, " + ", ".join(
        f"t{i + 1} timestamp" for i in range(len(stages))
    ) + ", stages_completed int"
    state_ddl = ", ".join(f"ts{i} long" for i in range(len(stages)))
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn_factory(stages),
            outputStructType=out_ddl,
            stateStructType=state_ddl,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
