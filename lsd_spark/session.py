"""SparkSession factory with engine defaults (SURVEY.md §4, §6).

Defaults chosen for oracle parity and scale posture:
- UTC session timezone (timestamp literals match DuckDB).
- ANSI OFF: Spark 4 enables ANSI by default; LSD/DuckDB-style
  permissive semantics (div-by-zero -> NULL, silent casts) need it off.
- AQE on (skew joins, partition coalescing) — the Spark analog of
  LSD pool2's dynamic load balancing [lsd:src/lsd/pool2.py — UNVERIFIED].
- Arrow on for all pandas UDF / toPandas paths (LSD's ColGroup
  batches ≈ Arrow record batches, SURVEY.md §1.1).
- Generated-class cache sized for the operator set: Spark keeps 100
  generated classes by default, and one pass over the headline ops
  needs about 200, so every repeat pass evicted and recompiled them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from lsd_spark import sizing


def _listing_parallelism(cores: int) -> str:
    """Task count for distributed partition-discovery listing jobs.

    Spark's default (`spark.sql.sources.parallelPartitionDiscovery.
    parallelism` = 10000) effectively launches ONE task per leaf
    directory: reading back a layout with thousands of partition dirs
    (sink_density_adaptive: 3072 adaptive cells) spends 6-8 s in a
    3072-task listing job whose per-task work is a single local
    readdir. Bounding the job at a small multiple of the cluster's
    parallelism batches many dirs per task (0.5 s for the same
    layout) and is what a real deployment wants too: listing tasks
    are pure metadata RPCs, so a few per core saturates either a
    local FS or an object store's request budget. Override with
    LSD_LISTING_PARALLELISM for clusters whose store benefits from
    more concurrent list calls."""
    return os.environ.get("LSD_LISTING_PARALLELISM", str(max(64, 2 * cores)))


def get_spark(
    app_name: str = "lsd-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` should be sized to the data: ~2-3x total
    cores for local test SFs; at 100 TB leave it to AQE
    (`spark.sql.adaptive.coalescePartitions.enabled`) with a high
    initial value.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active  # NOT stamped: defaults lazily applied on first load()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or int(os.environ.get("LSD_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        # static: the JVM sizes its generated-class cache at the first
        # compile, so only the builder can set it
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            _listing_parallelism(int(cpus)),
        )
        .config("spark.driver.memory", os.environ.get("LSD_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    # The builder configs above ARE the engine defaults, so mark the
    # session defaulted now. Without this stamp, the first
    # catalog.load() lazily re-applies apply_session_defaults and
    # silently OVERRIDES any conf the caller set in between — bench.py
    # sets adaptive.enabled=false before its warm loads, and the lazy
    # re-apply flipped it back on, so every "AQE OFF" bench run since
    # the stamp-less version actually ran with AQE materializing each
    # shuffle stage as its own job (found round 12: q_fof's budget
    # breach was ~10 AQE stage-jobs x the VM's job floor).
    spark._lsd_defaults_applied = True
    return spark


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built
    session (the driver passes us its own SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass  # non-runtime-settable on some builds; queries avoid ANSI traps
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            _listing_parallelism(sizing.cores(spark)),
        )
    except Exception:
        pass  # non-settable on exotic builds; default is only slower
    spark._lsd_defaults_applied = True
    return spark
