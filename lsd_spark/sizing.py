"""Partition sizing: every decision about how many partitions a stage
gets, and every temporary session-conf flip, made in one place.

Plan builders call these helpers instead of reading the core count, a
frame's split count or the session's shuffle sizing themselves
(tests/test_sizing.py guards that)."""

from __future__ import annotations

from contextlib import contextmanager

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# Ceiling on shuffle partitions for control-plane loops (connected-
# component rounds over a quotient graph) and for streaming state
# stores, where every partition costs a task per round or per-micro-
# batch commit files and a store open/close, whatever it holds. 16 is
# the historical value, so a stock 200-partition session is unchanged.
SMALL_SHUFFLE_CAP = 16

# A bounded `limit(cap + 1).toPandas()` collect otherwise probes ONE
# partition, then scales up 4x per extra JOB (three jobs to discover
# ~3k rows); starting wide reads every partition in a single job.
COLLECT_LIMIT_ONE_JOB = {"spark.sql.limit.initialNumPartitions": 100_000}


def cores(spark) -> int:
    return spark.sparkContext.defaultParallelism


def shuffle_partitions(spark) -> int:
    return int(spark.conf.get(SHUFFLE_PARTITIONS))


def spread(df):
    """Round-robin `df` to the core count ahead of a CPU-heavy stage.

    A small cached table arrives as one parquet split, and everything
    downstream of the scan (md5 derivations, probe-side explodes, pure-
    Python codecs, a join's streamed side) inherits that single task:
    q_fof's edge generation, the minhash signature pass and
    mm_decode_video (309 s at 10x) all once ran serially this way.
    Input that already has `cores` partitions (a real multi-split scan)
    is left alone, so the pass stays map-only. So is streaming input:
    micro-batch sizing is the source's call."""
    if df.isStreaming:
        return df
    n = cores(df.sparkSession)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def shuffle_width(spark) -> int:
    """Partition count for a keyed shuffle whose post-shuffle work is
    CPU-heavy: max(cores, shuffle partitions).

    A keyed repartition inherits the session's shuffle partitions, and
    a session sized for small shuffles then caps the stage however many
    cores there are: the sky xmatch ran ~7.2 s at both 8 and 32 cores
    at the 10x dir, and the HEALPix layout write created 3072 cell dirs
    from 4 tasks (52 s vs 10 s at sf0.1). A larger tuned sizing wins."""
    return max(cores(spark), shuffle_partitions(spark))


def cpu_join_inputs(left, right, *keys):
    """(left, right), hash-partitioned on `keys` to `shuffle_width` for
    a join whose post-shuffle work is CPU-heavy, where the session's
    shuffle sizing is below the core count. The explicit exchanges
    replace the planner's one-for-one. Streaming input is left alone:
    a stream-static join should broadcast the static side, not shuffle
    it every micro-batch.

    The exchanges stay even where the static plan broadcasts: AQE
    re-plans the join from the keyed stages' runtime sizes, and the
    static size estimate of an exploded side ignores the fan-out.
    Skipping them under a broadcast-sized estimate was measured slower
    on local[4] with 2 shuffle partitions (sky xmatch, 10x dir: min
    19.5 s -> 30.8 s; broadcasting the un-exploded side instead: min
    13.8 s -> 16.0 s, and no faster at sf0.1)."""
    if left.isStreaming or right.isStreaming:
        return left, right
    spark = left.sparkSession
    width = shuffle_width(spark)
    if width == shuffle_partitions(spark):
        return left, right
    return left.repartition(width, *keys), right.repartition(width, *keys)


def kernel_width(df) -> int:
    """Partition count for the shuffle feeding a per-row Python kernel
    over `df`: max(cores, input splits).

    A Python kernel's per-ROW cost dwarfs the per-BYTE cost AQE's
    advisory sizing assumes: AQE coalesced the 10x dir to 4 partitions
    of 63k rows (serializing the kernel), and a stock session over-
    splits to 200. This scales with the session and with the data (a
    100 TB scan arrives as thousands of splits); per-task memory is
    bounded by the kernel's own row batching."""
    return max(cores(df.sparkSession), df.rdd.getNumPartitions())


def capped_shuffle_partitions(spark) -> int:
    return min(shuffle_partitions(spark), SMALL_SHUFFLE_CAP)


def loop_partitions(n_rows: int, ceiling: int) -> int:
    """~100k rows per partition, at most `ceiling`: an iterative loop
    over a tiny quotient graph should not pay 16 near-empty tasks per
    round (the call AQE's coalesce makes when enabled)."""
    return max(1, min(ceiling, n_rows // 100_000 + 1))


def stream_state_partitions(spark, python_state: bool = False) -> int:
    """State partitions for a streaming query: the session's shuffle
    sizing, capped at SMALL_SHUFFLE_CAP (stream-stream join at sf0.1:
    11.7 s at 16, 4.0 s at 4, identical sink rows). The count is frozen
    into the checkpoint, so at 100 TB size it to the key cardinality
    before the first write.

    With `python_state` (applyInPandasWithState) the partitions are the
    op's Python parallelism, not just store overhead, so they take a
    floor of 8 (stream_custom_state at sf0.1: 5.85 s at 4, 4.44 s at 8)."""
    floor = 8 if python_state else 1
    return min(SMALL_SHUFFLE_CAP, max(floor, shuffle_partitions(spark)))


@contextmanager
def session_conf(spark, conf: dict):
    """Set `conf` on the session for the block; on exit, even when the
    block raises, restore each old value, or unset a key that was unset.

    The flip is session-scoped, so it assumes SINGLE-THREADED plan
    builds on the session (the registry, driver and bench contract).
    A deployment that builds plans from several driver threads must
    serialize these blocks (short control-plane jobs) or move the
    confs to session defaults."""
    old = {key: spark.conf.get(key, None) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, str(value))
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
