"""Streaming variant: availableNow drain produces the same extraction
results as the batch pipeline; windowed watermark aggregation works on
the events table."""

from document_parser_private_spark.corpus import write_corpus_parquet
from document_parser_private_spark.streaming.stream import (
    run_stream_to_parquet,
    windowed_event_counts,
)


def test_stream_matches_batch(spark, tmp_path):
    """The stream sink equals extract_pipeline on the same corpus, and
    both plans run the one per-doc kernel: the stream through a single
    ArrowEvalPython node with no higher-order functions over spans, the
    batch through a single MapInArrow node."""
    from pyspark.sql import functions as F
    from document_parser_private_spark.plans.pipeline import extract_pipeline
    from document_parser_private_spark.streaming.stream import stream_extract

    in_dir = str(tmp_path / "in")
    write_corpus_parquet(in_dir, n=60, seed=9, shards=4)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    run_stream_to_parquet(spark, in_dir, out_dir, ckpt)
    cols = ("blocks_kept", "blocks_dropped", "clean_spans_json",
            "sections_json")
    streamed = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(out_dir).collect()
    }

    batch_df = extract_pipeline(spark.read.parquet(in_dir), num_partitions=4)
    batch = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in batch_df.select(
            "doc_id", "blocks_kept", "blocks_dropped",
            F.to_json("clean_spans").alias("clean_spans_json"),
            F.to_json("sections").alias("sections_json"),
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) == 60

    q = (
        stream_extract(spark, in_dir).writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt_plan"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stream_plan = q._jsq.explainInternal(False)
    assert stream_plan.count("ArrowEvalPython") == 1, stream_plan
    assert "lambdafunction" not in stream_plan, stream_plan
    batch_plan = batch_df._jdf.queryExecution().optimizedPlan().toString()
    assert batch_plan.count("MapInArrow") == 1, batch_plan


def test_windowed_event_counts(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events).collect()
    assert len(out) > 0
    total = sum(r["n"] for r in out)
    assert total == events.count()


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState gap sessionization: a >30min gap closes a
    session and emits it; the still-open trailing session stays in state
    (not emitted in a single availableNow drain)."""
    import datetime as dt
    from document_parser_private_spark.streaming.stream import sessionize_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two events, 40min gap, then two more -> first session closes
        (1, t0), (1, t0 + dt.timedelta(minutes=10)),
        (1, t0 + dt.timedelta(minutes=50)), (1, t0 + dt.timedelta(minutes=60)),
        # user 2: single event -> stays open, nothing emitted
        (2, t0),
    ]
    in_dir = str(tmp_path / "events_in")
    spark.createDataFrame(rows, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(in_dir)

    stream = spark.readStream.schema("user_id long, ts timestamp") \
        .format("parquet").load(in_dir)
    out = sessionize_stream(stream)
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()

    got = [r.asDict() for r in spark.sql(
        "select * from sessions order by user_id, session_start").collect()]
    assert len(got) == 1
    s = got[0]
    assert s["user_id"] == 1
    assert s["session_start"] == t0
    assert s["session_end"] == t0 + dt.timedelta(minutes=10)
    assert s["n_events"] == 2
    assert s["closed"] is True


def test_stream_dedup_matches_batch_survivors(spark, tmp_path):
    """Semantic-drift guard between the streaming dedup
    (dropDuplicatesWithinWatermark over the span-text fingerprint) and
    the batch exact_dedup: replaying the same corpus (with planted
    duplicates) through both must yield the same survivor fingerprint
    set at the watermark horizon — one survivor per fingerprint."""
    from pyspark.sql import functions as F
    from document_parser_private_spark.operators.dedup import exact_dedup
    from document_parser_private_spark.streaming.stream import (
        run_stream_dedup_to_parquet,
    )

    in_dir = str(tmp_path / "in")
    write_corpus_parquet(in_dir, n=40, seed=5, shards=4)
    docs = spark.read.parquet(in_dir)
    # plant exact duplicates under fresh ids (same span text)
    both_dir = str(tmp_path / "both")
    docs.unionByName(
        docs.withColumn("doc_id", F.concat("doc_id", F.lit("_dup")))
    ).write.parquet(both_dir)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_stream_dedup_to_parquet(spark, both_dir, out_dir, ckpt)
    streamed = spark.read.parquet(out_dir).collect()
    streamed_fps = [r["fingerprint"] for r in streamed]

    text = F.concat_ws(
        "\n", F.transform("spans", lambda s: F.coalesce(s["text"], F.lit("")))
    )
    batch = exact_dedup(
        spark.read.parquet(both_dir).withColumn("text", text),
        text_col="text",
    ).collect()

    # same survivor fingerprints, exactly one stream survivor per fp
    assert sorted(streamed_fps) == sorted(r["fingerprint"] for r in batch)
    assert len(streamed_fps) == len(set(streamed_fps))
    # every planted duplicate collapsed: batch saw 2x copies per fp
    assert all(r["dup_count"] >= 2 for r in batch)


def test_sessionize_stream_matches_batch_closed_sessions(spark, tmp_path):
    """Replay-equality at the watermark horizon (r5, mirroring the r4
    dedup guard): the stateful stream's emitted sessions must equal the
    batch lag-rule sessions that CLOSE within the data (a later event of
    the same user follows after the gap) PLUS trailing sessions whose
    event-time timeout (last + gap) fell behind the final watermark
    (global max ts - 1h) — only still-live trailing sessions stay in
    state."""
    import datetime as dt
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from document_parser_private_spark.streaming.stream import (
        sessionize_stream,
    )

    base = dt.datetime(2024, 1, 1, 8, 0, 0)
    pats = {  # per-user inter-event gaps in minutes (>30 closes)
        1: [0, 5, 50, 10, 90, 2],
        2: [0, 100, 100],
        3: [0, 10, 20],
    }
    rows = []
    for u, gaps in pats.items():
        t = base
        for g in gaps:
            t = t + dt.timedelta(minutes=g)
            rows.append((u, t))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    in_dir = str(tmp_path / "sess_in")
    df.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema("user_id long, ts timestamp") \
                  .parquet(in_dir)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory").queryName("sess_parity")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sess_parity").collect()
    }

    # batch twin: the event_sessions lag rule, sessions materialized
    w = Window.partitionBy("user_id").orderBy("ts")
    epoch = F.col("ts").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    sess = (
        df.withColumn(
            "sid",
            F.sum(
                F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
            ).over(w),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    umax = df.groupBy("user_id").agg(F.max("ts").alias("umax"))
    global_max = max(t for _, t in rows)
    wm = global_max - dt.timedelta(hours=1)  # the 1h default watermark
    flushed = (
        (F.col("session_end") == F.col("umax"))
        & (F.col("session_end") + F.expr("interval 30 minutes")
           < F.lit(wm))
    )
    exp = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sess.join(umax, "user_id")
        .where((F.col("session_end") < F.col("umax")) | flushed).collect()
    }
    assert got == exp
    # u1 closes two, u2 closes two, u3's idle trailing session flushes
    assert len(exp) == 5


def test_funnel_stream_matches_batch(spark, tmp_path):
    """Replay-equality for the streaming funnel (r5): events delivered
    in event-time order across THREE micro-batches (maxFilesPerTrigger
    = 1, one parquet file per time slice) must leave per-user frontier
    state equal to the batch greedy-earliest funnel over the union —
    including a stage-2 event that only qualifies because stage 1 was
    completed in an EARLIER micro-batch, a same-timestamp tie (>= rule),
    and a user who never starts."""
    import datetime as dt
    from document_parser_private_spark.operators.funnel import funnel
    from document_parser_private_spark.streaming.stream import (
        funnel_stream,
    )

    base = dt.datetime(2024, 3, 1, 9, 0, 0)

    def at(minute):
        return base + dt.timedelta(minutes=minute)

    stages = ["signup", "click", "purchase"]
    # (user, type, minute) — crafted cross-batch dependencies
    slices = [
        [   # batch 1
            (1, "signup", 0),
            (2, "click", 1),      # pre-signup click: must never count
            (3, "click", 2),      # user 3 never signs up
            (4, "signup", 3),
        ],
        [   # batch 2
            (1, "click", 10),     # qualifies: signup landed in batch 1
            (2, "signup", 11),
            (4, "click", 3),      # same-ts tie with signup@3 (>= rule)
        ],
        [   # batch 3
            (1, "purchase", 20),
            (2, "click", 12),
            (2, "purchase", 11),  # before its click: must not count
            (4, "purchase", 30),
        ],
    ]
    in_dir = tmp_path / "funnel_in"
    in_dir.mkdir()
    all_rows = []
    for k, sl in enumerate(slices):
        rows = [(u, t, at(m)) for (u, t, m) in sl]
        all_rows.extend(rows)
        spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        ).coalesce(1).write.parquet(str(in_dir / f"slice{k}"))

    stream = (
        spark.readStream.schema("user_id long, event_type string, "
                                "ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/slice*")
    )
    q = (
        funnel_stream(stream, stages)
        .writeStream.format("memory").queryName("funnel_parity")
        .outputMode("update")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    snaps = spark.sql("select * from funnel_parity").collect()
    # deepest snapshot per user == final state (set ts are immutable)
    got = {}
    for r in snaps:
        cur = got.get(r["user_id"])
        if cur is None or r["stages_completed"] > cur["stages_completed"]:
            got[r["user_id"]] = r
    got = {
        u: (r["t1"], r["t2"], r["t3"], r["stages_completed"])
        for u, r in got.items()
    }

    batch_df = spark.createDataFrame(
        all_rows, "user_id long, event_type string, ts timestamp"
    )
    exp = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"], r["stages_completed"])
        for r in funnel(batch_df, stages).collect()
    }
    assert got == exp
    # pin the crafted semantics so the fixture can't silently degrade
    assert exp[1][3] == 3            # full funnel across 3 batches
    assert exp[2][3] == 2            # pre-signup click + early purchase
    assert exp[4][1] == at(3)        # same-timestamp tie admitted
    assert 3 not in exp              # never signed up -> no row
