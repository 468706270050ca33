"""Streaming replay equivalence (SURVEY.md §5.4): the window
aggregations registered as batch queries must produce IDENTICAL
results when the same parquet is replayed through a real Structured
Streaming file source (availableNow trigger) — including a
shuffled-order replay for watermark robustness.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR
from tests.test_oracle import canon_rows

load_all()


def _replay(spark, src_df, build, mode="complete"):
    """Write src_df to a staging dir, stream it back with
    availableNow, apply `build`, collect via memory sink."""
    stage = tempfile.mkdtemp(prefix="lsd_replay_")
    # many small files + maxFilesPerTrigger -> a genuinely incremental
    # multi-microbatch replay, not one big batch
    src_df.repartition(8).write.mode("overwrite").parquet(f"{stage}/data")
    schema = spark.read.parquet(f"{stage}/data").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{stage}/data")
    )
    name = "replay_" + uuid.uuid4().hex[:10]
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).toPandas()
    shutil.rmtree(stage, ignore_errors=True)
    return out


def _tumbling(src):
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sv"))
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt", "sv")
    )


@pytest.mark.parametrize("shuffled", [False, True])
def test_tumbling_stream_equals_batch(spark, shuffled):
    ev = load(spark, SF_DIR, "events")
    if shuffled:
        # adversarial replay order: late data everywhere
        ev = ev.orderBy(F.xxhash64("event_id"))
    batch = QUERIES["stream_tumbling"](spark, SF_DIR).toPandas()
    stream = _replay(spark, ev, _tumbling)
    assert canon_rows(batch) == canon_rows(stream)


def test_sliding_stream_equals_batch(spark):
    ev = load(spark, SF_DIR, "events")

    def build(src):
        return (
            src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("win_start"), "cnt")
        )

    batch = QUERIES["stream_sliding"](spark, SF_DIR).toPandas()
    stream = _replay(spark, ev, build)
    assert canon_rows(batch) == canon_rows(stream)


def test_session_stream_equals_batch(spark):
    ev = load(spark, SF_DIR, "events")

    def build(src):
        # watermark must exceed the fixture's full time span: the replay
        # feeds files in arbitrary order, and session aggregation drops
        # input older than the watermark even in complete mode
        return (
            src.withWatermark("ts", "400 days")
            .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n"))
            .select("user_id", "n")
        )

    # stream emits one row per (session, user); roll up to per-user
    stream = _replay(spark, ev, build)
    per_user = (
        stream.groupby("user_id")
        .agg(n_sessions=("n", "size"), n_events=("n", "sum"))
        .reset_index()
    )
    batch = QUERIES["stream_session"](spark, SF_DIR).toPandas()
    merged = batch.merge(per_user, on="user_id", suffixes=("_b", "_s"))
    assert len(merged) == len(batch)
    assert (merged["n_sessions_b"] == merged["n_sessions_s"]).all()
    assert (merged["n_events_b"] == merged["n_events_s"]).all()


def test_multibatch_replay_advances_watermark_and_evicts_state(spark):
    """Round-5 VERDICT #8: the registered streaming ops now replay in
    4 micro-batches with bounded-late rows crossing every boundary.
    Pin the mechanics here: >= 3 data batches ran, the watermark
    advanced between batches, state rows were EVICTED behind it, and
    no row was dropped as too-late (the 90 min displacement stays
    inside the 2 h watermark, so the oracles remain exact)."""
    import json

    from lsd_spark.streaming.ops import staged_stream_source

    src = staged_stream_source(spark, SF_DIR, 4)
    name = "wmtest_" + uuid.uuid4().hex[:10]
    ckpt = tempfile.mkdtemp(prefix="lsd_ckpt_")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            src.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(ckpt, ignore_errors=True)
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3, f"only {len(data_batches)} data batches"
    wms = [
        p["eventTime"]["watermark"]
        for p in data_batches
        if p.get("eventTime", {}).get("watermark", "1970-01-01T00:00:00.000Z")
        != "1970-01-01T00:00:00.000Z"
    ]
    assert len(set(wms)) >= 2, f"watermark never advanced: {wms}"
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in data_batches
        for op in p.get("stateOperators", [])
    )
    assert removed > 0, "no state rows evicted behind the watermark"
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 0, f"{dropped} rows dropped as too-late"


def test_multibatch_stream_stream_join_evicts_state(spark):
    """The stream-stream interval join under the 4-batch replay:
    both sides' watermarks advance, the symmetric hash join evicts
    buffered rows behind them, and the joined output still equals
    the batch band join (the 90 min displacement leaves a 30 min
    margin inside the 2 h watermark minus the 1 h join bound)."""
    import json

    from lsd_spark.streaming.ops import staged_stream_source

    src = staged_stream_source(spark, SF_DIR, 4)
    p = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id")
    name = "ssj_" + uuid.uuid4().hex[:10]
    ckpt = tempfile.mkdtemp(prefix="lsd_ckpt_")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [json.loads(pr.json) for pr in q.recentProgress]
        got = sorted(map(tuple, spark.table(name).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(ckpt, ignore_errors=True)
    data_batches = [pr for pr in progress if pr["numInputRows"] > 0]
    assert len(data_batches) >= 3
    removed = sum(
        op.get("numRowsRemoved", 0)
        for pr in data_batches
        for op in pr.get("stateOperators", [])
    )
    assert removed > 0, "join state never evicted behind the watermark"
    batch = (
        load(spark, SF_DIR, "events").alias("p")
        .filter(F.col("p.event_type") == "purchase")
        .join(
            load(spark, SF_DIR, "events").alias("c")
            .filter(F.col("c.event_type") == "click"),
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") < F.col("p.ts"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(F.col("p.event_id"), F.col("c.event_id"))
    )
    assert got == sorted(map(tuple, batch.collect()))


def test_state_partition_sizing_python_state_floor(spark):
    """stream_state_partitions: python-stateful ops (real per-key
    Python work in the state partition's worker) take a floor of 8 so
    small-shuffle sessions keep the op's Python parallelism, while
    JVM-state ops follow the session sizing down; both stay capped at
    the historical 16 so a stock 200-partition session is unchanged."""
    from lsd_spark.sizing import stream_state_partitions

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        assert stream_state_partitions(spark) == 4
        assert stream_state_partitions(spark, python_state=True) == 8
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert stream_state_partitions(spark) == 16
        assert stream_state_partitions(spark, python_state=True) == 16
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
