"""§2.D aggregations — LSD has no GROUP BY; aggregation is map/reduce
kernels over cells with keyed reducers [lsd:src/lsd/pool2.py
map_reduce_chain — UNVERIFIED]. That partial-per-cell/final-per-key
pattern IS Spark's partial+final hash aggregation, so everything here
is a built-in (map-side combine happens automatically; no shuffle of
raw rows, only of partial states — the property that matters at
100 TB).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.functions import array_sql
from lsd_spark.registry import register


@register(
    "agg_global",
    oracle=(
        "SELECT count(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sq, "
        "ROUND(AVG(l_discount), 6) AS ad, MIN(l_shipdate) AS mn, "
        "MAX(l_shipdate) AS mx FROM lineitem"
    ),
)
def agg_global(spark, sf_dir):
    """Single-reducer kernel analog: whole-table aggregate."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sq"),
        F.round(F.avg("l_discount"), 6).alias("ad"),
        F.min("l_shipdate").alias("mn"),
        F.max("l_shipdate").alias("mx"),
    )


@register(
    "agg_groupby_hash",
    oracle=(
        "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, "
        "ROUND(SUM(l_extendedprice), 2) AS sum_base, "
        "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
        "ROUND(AVG(l_quantity), 4) AS avg_qty, ROUND(AVG(l_extendedprice), 4) AS avg_price, "
        "ROUND(AVG(l_discount), 6) AS avg_disc, count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
)
def agg_groupby_hash(spark, sf_dir):
    """TPC-H Q1 pricing summary — the per-object-statistics kernel
    pattern (e.g. lightcurve stats per object) as a hash aggregate."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
)
def agg_distinct(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderpriority").distinct()


@register(
    "agg_count_distinct",
    oracle="SELECT count(DISTINCT o_custkey) AS u FROM orders",
)
def agg_count_distinct(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.agg(F.countDistinct("o_custkey").alias("u"))


@register("agg_approx_distinct", oracle=None)  # rows-only: HLL estimates differ per engine
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) — a 100 TB necessity:
    one pass, fixed memory, no exact-distinct shuffle."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))


@register(
    "agg_having",
    oracle=(
        "SELECT count(*) AS cnt FROM ("
        "SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 5)"
    ),
)
def agg_having(spark, sf_dir):
    """Post-reduce filter (LSD: filter inside the reducer kernel)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 5)
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "agg_grouping_sets",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, "
        "ROUND(SUM(o_totalprice), 2) AS total "
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"
    ),
)
def agg_grouping_sets(spark, sf_dir):
    """Rollup — the multi-resolution footprint-map pattern
    (LSD density maps at several healpix levels) in one pass."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_multi_column",
    oracle=(
        "SELECT event_type, count(*) AS cnt, ROUND(SUM(value), 2) AS sv, "
        "ROUND(AVG(value), 4) AS av, ROUND(MIN(value), 2) AS mnv, "
        "ROUND(MAX(value), 2) AS mxv FROM events "
        "GROUP BY event_type ORDER BY event_type"
    ),
)
def agg_multi_column(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sv"),
            F.round(F.avg("value"), 4).alias("av"),
            F.round(F.min("value"), 2).alias("mnv"),
            F.round(F.max("value"), 2).alias("mxv"),
        )
    )


@register(
    "agg_histogram",
    oracle=(
        "SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket, count(*) AS cnt "
        "FROM events GROUP BY bucket ORDER BY bucket"
    ),
)
def agg_histogram(spark, sf_dir):
    """1-D histogram — LSD's footprint/density map
    [lsd:lsd-footprint — UNVERIFIED] is the 2-D version of exactly
    this derived-bucket groupBy; at 100 TB it is a map-side-combined
    agg with as many groups as buckets (tiny shuffle)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50.0).cast("long").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "agg_density_map_2d",
    oracle=(
        "SELECT CAST(FLOOR(epoch_us(ts) / 21600000000) AS BIGINT) AS t_cell, "
        "CAST(FLOOR(COALESCE(value, 0) / 100.0) AS BIGINT) AS v_cell, "
        "count(*) AS cnt, FLOOR(AVG(COALESCE(value, 0)) * 100 + 0.5) / 100 AS av "
        "FROM events GROUP BY t_cell, v_cell ORDER BY t_cell, v_cell"
    ),
)
def agg_density_map_2d(spark, sf_dir):
    """2-D density map — the actual `lsd-footprint` product
    [lsd:lsd-footprint — UNVERIFIED]: sky maps bin (ra, dec) into
    BHpix cells and count; here the two axes are a 6h time cell and
    a value cell. One map-side-combined aggregation whose group count
    is the CELL count, independent of row count — the reason density
    maps over 100 TB return in one shuffle of a few thousand rows."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.floor(F.unix_micros("ts") / F.lit(21_600_000_000)).cast("long").alias("t_cell"),
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) / 100.0).cast("long").alias("v_cell"),
        )
        .agg(
            F.count("*").alias("cnt"),
            (F.floor(F.avg(F.coalesce(F.col("value"), F.lit(0.0))) * 100 + 0.5) / 100).alias("av"),
        )
    )


@register(
    "agg_percentiles",
    oracle=(
        "SELECT event_type, "
        "FLOOR(quantile_cont(value, 0.25) * 10000 + 0.5) / 10000 AS q25, "
        "FLOOR(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS q50, "
        "FLOOR(quantile_cont(value, 0.75) * 10000 + 0.5) / 10000 AS q75 "
        "FROM events WHERE value IS NOT NULL "
        "GROUP BY event_type ORDER BY event_type"
    ),
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated quartiles per group (Spark `percentile` and
    DuckDB `quantile_cont` share linear interpolation, verified
    bit-equal after 1e-4 quantization). Exact percentile is a
    sort-based agg; at 100 TB swap in `percentile_approx` (t-digest
    sketch, mergeable map-side) — same query shape, rows-only check."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = lambda p: F.floor(F.expr(f"percentile(value, {p})") * 10000 + 0.5) / 10000  # noqa: E731
    return (
        ev.groupBy("event_type")
        .agg(q(0.25).alias("q25"), q(0.5).alias("q50"), q(0.75).alias("q75"))
    )


@register(
    "agg_pivot",
    oracle=(
        "SELECT o_orderpriority, "
        "CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS f, "
        "CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS o, "
        "CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS p "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
)
def agg_pivot(spark, sf_dir):
    """Pivot (cross-tab): status columns per priority row. With the
    pivot values DECLARED (not discovered), this is one pass and one
    shuffle — same cost as the groupBy. Never let Spark infer pivot
    values at 100 TB (that's an extra distinct scan)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("f"),
            F.coalesce("O", F.lit(0)).alias("o"),
            F.coalesce("P", F.lit(0)).alias("p"),
        )
    )


@register(
    "agg_stats_corr",
    oracle=(
        "SELECT o_orderstatus, "
        "FLOOR(corr(o_totalprice, o_custkey) * 1e6 + 0.5) / 1e6 AS r, "
        "CAST(FLOOR(covar_samp(o_totalprice, o_custkey) / 1e4 + 0.5) AS BIGINT) AS cv4, "
        "CAST(FLOOR(stddev_samp(o_totalprice) / 100 + 0.5) AS BIGINT) AS sd2 "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
)
def agg_stats_corr(spark, sf_dir):
    """Statistical aggregates (corr / covar_samp / stddev_samp) per
    group — LSD's per-cell statistics kernels as built-ins. All are
    single-pass partial+final aggregations (sum/sum-of-products
    moments merge associatively), so they cost exactly one shuffle of
    one row per group at any scale. Quantized: two-pass numpy-style
    vs streaming-moment implementations agree only to ~1e-6 relative."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            (F.floor(F.corr("o_totalprice", "o_custkey") * 1e6 + 0.5) / 1e6).alias("r"),
            F.floor(F.covar_samp("o_totalprice", "o_custkey") / 1e4 + 0.5).alias("cv4"),
            F.floor(F.stddev_samp("o_totalprice") / 100 + 0.5).alias("sd2"),
        )
    )


@register(
    "agg_cube",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid, "
        "count(*) AS cnt FROM orders "
        "GROUP BY CUBE (o_orderstatus, o_orderpriority)"
    ),
)
def agg_cube(spark, sf_dir):
    """CUBE over (status, priority) with an explicit grouping_id so
    total/subtotal rows are distinguishable from genuine NULL groups.
    One pass, one shuffle — Spark expands the grouping sets map-side."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("cnt"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "cnt")


@register(
    "agg_filtered",
    oracle=(
        "SELECT event_type, count(*) AS cnt, "
        "count(*) FILTER (WHERE value > 50) AS n_big, "
        "ROUND(COALESCE(SUM(value) FILTER (WHERE value > 50), 0), 2) AS sv_big, "
        "count(DISTINCT user_id) FILTER (WHERE value IS NOT NULL) AS u_valued "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
)
def agg_filtered(spark, sf_dir):
    """Conditional aggregates (SQL FILTER clause): count_if /
    filtered sum / filtered distinct in ONE pass over the data — the
    multi-predicate statistics kernel without multiple scans."""
    ev = load(spark, sf_dir, "events")
    big = F.when(F.col("value") > 50, F.col("value"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.count(big).alias("n_big"),
            F.round(F.coalesce(F.sum(big), F.lit(0.0)), 2).alias("sv_big"),
            F.count_distinct(
                F.when(F.col("value").isNotNull(), F.col("user_id"))
            ).alias("u_valued"),
        )
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


@register(
    "profile_table",
    oracle=(
        " UNION ALL ".join(
            f"SELECT '{c}' AS col, count(*) - count({c}) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct FROM orders"
            for c in _PROFILE_COLS
        )
        + " ORDER BY col"
    ),
)
def profile_table(spark, sf_dir):
    """Table profiling: per-column null count + exact distinct count
    for every orders column, in ONE scan (Spark expands the
    multi-distinct agg map-side; the oracle's 6-scan UNION ALL is the
    semantic spec, not the plan). The ingest-validation primitive a
    pipeline runs before trusting a new drop of data. At 100 TB swap
    count_distinct for approx_count_distinct (agg_approx_distinct's
    HLL) — exact multi-distinct expands rows per column."""
    o = load(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("_n")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"_nd_{c}"))
    row = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _n - _nn_{c}, _nd_{c}" for c in _PROFILE_COLS
    )
    return row.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col, n_nulls, n_distinct)"
    )


@register(
    "agg_phase_fold",
    oracle=(
        "SELECT user_id, "
        "CAST(FLOOR((epoch_us(ts) % 604800000000) * 8.0 / 604800000000) AS BIGINT) "
        "AS phase_bin, count(*) AS n_obs, "
        "CAST(FLOOR(SUM(CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT)) "
        "* 1.0 / count(*) + 0.5) AS BIGINT) AS mean_v2 "
        "FROM events GROUP BY user_id, phase_bin ORDER BY user_id, phase_bin"
    ),
)
def agg_phase_fold(spark, sf_dir):
    """Phase-folded lightcurves: every observation mapped to its
    phase bin under a fixed 7-day period (phase = t mod P, 8 bins),
    then per-(object, bin) count and quantized mean brightness — the
    variable-star / periodic-signal workflow over LSD detection
    tables `[lsd:lightcurve map-reduce examples — UNVERIFIED]`.

    Pure integer epoch arithmetic (unix_micros == DuckDB epoch_us,
    the agg_lightcurve_stats pairing) so the fold is cross-engine
    exact; one hash aggregate, one shuffle of 8 rows per object at
    any scale. A period-search (Lomb-Scargle grid) would map this
    same plan over candidate periods.

    Mean brightness is EXACT-INTEGER: `value` carries cent
    precision, so ~1/n of group means sit exactly on the 1e-2
    half-boundary and a float AVG flips per engine's summation
    order (caught at the sf1 stress, where replicas scattered
    Spark's accumulation order). Summing exact integer cents first
    makes the one float division a deterministic function of exact
    inputs on both engines."""
    ev = load(spark, sf_dir, "events")
    P = 7 * 86400 * 1_000_000  # 7-day period in microseconds
    us = F.unix_micros("ts")
    pbin = F.floor((us % F.lit(P)) * 8 / F.lit(P)).cast("long")
    cents = F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + 0.5).cast("long")
    return (
        ev.groupBy("user_id", pbin.alias("phase_bin"))
        .agg(
            F.count("*").alias("n_obs"),
            F.floor(F.sum(cents) * 1.0 / F.count("*") + 0.5)
            .cast("long")
            .alias("mean_v2"),
        )
    )


_PERIOD_DAYS = [3, 5, 7, 11, 13]
_PERIOD_NB = 8


def _period_search_oracle() -> str:
    per_us = ", ".join(f"({d} * 86400000000)" for d in _PERIOD_DAYS)
    return (
        f"WITH obs AS (SELECT user_id, epoch_us(ts) AS us, "
        "COALESCE(value, 0) AS v FROM events), "
        f"folded AS (SELECT user_id, p_us, us, v, "
        f"CAST(FLOOR((us % p_us) * {_PERIOD_NB}.0 / p_us) AS BIGINT) AS pb "
        f"FROM obs, unnest([{per_us}]) AS t(p_us)), "
        "bins AS (SELECT user_id, p_us, pb, count(*) AS n_b, SUM(v) AS sv "
        "FROM folded GROUP BY user_id, p_us, pb), "
        "scored AS (SELECT user_id, p_us, "
        "SUM(sv * sv / n_b) - SUM(sv) * SUM(sv) / SUM(n_b) AS bss "
        "FROM bins GROUP BY user_id, p_us) "
        "SELECT user_id, best_period_days, score_q FROM ("
        "SELECT user_id, CAST(p_us / 86400000000 AS INT) AS best_period_days, "
        "CAST(FLOOR(bss + 0.5) AS BIGINT) AS score_q, "
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY "
        "CAST(FLOOR(bss + 0.5) AS BIGINT) DESC, p_us ASC) AS rn FROM scored) "
        "WHERE rn = 1 ORDER BY user_id"
    )


@register("agg_period_search", oracle=_period_search_oracle())
def agg_period_search(spark, sf_dir):
    """Period search over phase-folded lightcurves (PDM/periodogram
    lite): each object's observations are folded at every candidate
    period in a fixed grid, each fold is scored by its between-bin
    sum of squares (SUM(sv^2/n) - S^2/N == SUM n_b*(mean_b - mean)^2
    — large when the folded signal is coherent), and the best-scoring
    period wins (quantized score, period tiebreak). The
    variable-star period-finding workflow over LSD detection tables
    `[lsd:lightcurve map-reduce examples — UNVERIFIED]`.

    Scale shape: the explode is x|grid| (bounded, 5 here), then two
    map-side-combined hash aggregates and an 8-rows-per-(object,
    period) shuffle — a real Lomb-Scargle would swap the scoring
    expression, not the plan. Integer epoch/bin arithmetic keeps the
    fold cross-engine exact; only the score is floating, and it is
    FLOOR-quantized before the argmax so both engines pick the same
    period."""
    ev = load(spark, sf_dir, "events")
    obs = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("v"),
    )
    return period_search_plan(obs)


def period_search_plan(obs, period_days=None, n_bins: int = _PERIOD_NB):
    """The period-search plan over any (user_id, us, v) observations
    DataFrame — exposed so tests can plant a synthetic periodic
    signal and assert the search recovers its true period."""
    period_days = period_days or _PERIOD_DAYS
    folded = obs.select(
        "user_id",
        "us",
        "v",
        F.explode(
            F.expr(array_sql([d * 86400 * 1_000_000 for d in period_days]))
        ).alias("p_us"),
    )
    pb = F.floor((F.col("us") % F.col("p_us")) * n_bins / F.col("p_us"))
    bins = folded.groupBy("user_id", "p_us", pb.alias("pb")).agg(
        F.count("*").alias("n_b"), F.sum("v").alias("sv")
    )
    scored = bins.groupBy("user_id", "p_us").agg(
        (
            F.sum(F.col("sv") * F.col("sv") / F.col("n_b"))
            - F.sum("sv") * F.sum("sv") / F.sum("n_b")
        ).alias("bss")
    )
    score_q = F.floor(F.col("bss") + 0.5).cast("long")
    w = Window.partitionBy("user_id").orderBy(score_q.desc(), F.col("p_us").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            (F.col("p_us") / F.lit(86_400_000_000)).cast("int").alias("best_period_days"),
            score_q.alias("score_q"),
        )
    )


@register(
    "agg_lightcurve_stats",
    oracle=(
        "SELECT user_id, count(*) AS n_epochs, "
        "CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS span_us, "
        "CAST(FLOOR((max(epoch_us(ts)) - min(epoch_us(ts))) * 1.0 / "
        "NULLIF(count(*) - 1, 0) + 0.5) AS BIGINT) AS avg_gap_us, "
        "CAST(FLOOR(stddev_samp(value) * 100 + 0.5) AS BIGINT) AS var2 "
        "FROM events GROUP BY user_id ORDER BY user_id"
    ),
)
def agg_lightcurve_stats(spark, sf_dir):
    """Per-object lightcurve statistics — LSD's killer-app query
    shape (detections grouped per object): epoch count, time span,
    mean cadence (span/(n-1), exact integer arithmetic), and
    variability (stddev of the measured value, FLOOR-quantized like
    agg_stats_corr). One hash aggregate, one shuffle of one row per
    object at any scale."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    span = F.max(us) - F.min(us)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_epochs"),
            span.cast("bigint").alias("span_us"),
            F.floor(
                span * 1.0 / F.nullif(F.count("*") - 1, F.lit(0)) + 0.5
            ).cast("bigint").alias("avg_gap_us"),
            F.floor(F.stddev_samp("value") * 100 + 0.5).cast("bigint").alias("var2"),
        )
    )


@register(
    "agg_density_multilevel",
    oracle=(
        "SELECT level, t_cell, count(*) AS cnt FROM ("
        "SELECT 0 AS level, CAST(FLOOR(epoch_us(ts) / 21600000000) AS BIGINT) AS t_cell FROM events "
        "UNION ALL "
        "SELECT 1 AS level, CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS t_cell FROM events "
        "UNION ALL "
        "SELECT 2 AS level, CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS t_cell FROM events"
        ") GROUP BY level, t_cell ORDER BY level, t_cell"
    ),
)
def agg_density_multilevel(spark, sf_dir):
    """Multi-resolution density maps (LSD's healpix-level pyramid
    [lsd:lsd-footprint — UNVERIFIED]): counts at 6h / 1d / 1w cells
    in ONE pass — the row explodes to its three levels map-side
    (3x narrow rows, not 3 scans), then a single combined agg whose
    group count is the total cell count across levels."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    levels = F.array(
        F.struct(F.lit(0).alias("level"), F.floor(us / F.lit(21_600_000_000)).cast("long").alias("t_cell")),
        F.struct(F.lit(1).alias("level"), F.floor(us / F.lit(86_400_000_000)).cast("long").alias("t_cell")),
        F.struct(F.lit(2).alias("level"), F.floor(us / F.lit(604_800_000_000)).cast("long").alias("t_cell")),
    )
    return (
        ev.select(F.explode(levels).alias("lc"))
        .select("lc.level", "lc.t_cell")
        .groupBy("level", "t_cell")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "agg_funnel_conversion",
    oracle=(
        "WITH pairs AS (SELECT DISTINCT p.user_id FROM events p "
        "JOIN events c ON p.user_id = c.user_id AND c.ts < p.ts "
        "AND c.ts >= p.ts - INTERVAL 1 HOUR "
        "WHERE p.event_type = 'purchase' AND c.event_type = 'click'), "
        "purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') "
        "SELECT (SELECT count(*) FROM purchasers) AS n_purchasers, "
        "(SELECT count(*) FROM pairs) AS n_converted, "
        "ROUND((SELECT count(*) FROM pairs) * 1.0 / "
        "(SELECT count(*) FROM purchasers), 4) AS conversion"
    ),
)
def agg_funnel_conversion(spark, sf_dir):
    """Funnel analysis: of users who purchased, how many clicked
    within the prior hour (the attribution/conversion query). Reuses
    the zoned as-of candidate machinery — at 100 TB the click->
    purchase pair search is the same bounded zone equi-join as
    join_asof_zoned, never a time-theta join."""
    from lsd_spark.plans.xmatch import HOUR_US
    from lsd_spark.plans.zones import zoned_asof_candidates

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    converted = (
        zoned_asof_candidates(purchases, clicks, key="user_id", ts="ts", max_delta_us=HOUR_US)
        .select("l_key")
        .distinct()
        .agg(F.count("*").alias("n_converted"))
    )
    purchasers = purchases.select("user_id").distinct().agg(F.count("*").alias("n_purchasers"))
    return (
        purchasers.crossJoin(F.broadcast(converted))
        .select(
            "n_purchasers",
            "n_converted",
            F.round(F.col("n_converted") * 1.0 / F.col("n_purchasers"), 4).alias("conversion"),
        )
    )


@register(
    "agg_path_sequences",
    oracle=(
        "WITH seq AS (SELECT user_id, "
        "array_to_string((list(event_type ORDER BY ts, event_id))[1:5], '>') AS path "
        "FROM events GROUP BY user_id) "
        "SELECT path, count(*) AS n_users FROM seq "
        "GROUP BY path ORDER BY n_users DESC, path LIMIT 20"
    ),
)
def agg_path_sequences(spark, sf_dir):
    """User-journey analysis: each user's first five event types in
    time order as a path string, then the top-20 most common paths.
    Ordered collection runs as a window over the user partition (a
    deterministic total order), never a driver-side sort; the path
    agg shuffles one row per user."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_user = (
        ev.select(
            "user_id",
            F.array_join(F.slice(F.collect_list("event_type").over(w), 1, 5), ">").alias("path"),
        )
        .dropDuplicates(["user_id"])
    )
    return (
        per_user.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(20)
    )


@register(
    "agg_retention_cohorts",
    oracle=(
        "WITH first AS (SELECT user_id, "
        "CAST(FLOOR(epoch_us(min(ts)) / 86400000000) AS BIGINT) AS cohort "
        "FROM events GROUP BY user_id) "
        "SELECT cohort, "
        "CAST(FLOOR(epoch_us(e.ts) / 86400000000) AS BIGINT) - cohort AS day_offset, "
        "count(DISTINCT e.user_id) AS n_users "
        "FROM events e JOIN first USING (user_id) "
        "GROUP BY cohort, day_offset ORDER BY cohort, day_offset"
    ),
)
def agg_retention_cohorts(spark, sf_dir):
    """Cohort retention: users bucketed by first-seen day, activity
    counted per day offset — the (cohort x offset) retention matrix.
    The first-seen table is one agg (one row per user, broadcastable
    when cohorts << events); the matrix is a second combined agg.
    Day arithmetic in integer microseconds: exact on both engines."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    first = ev.groupBy("user_id").agg(
        F.floor(F.min(F.unix_micros("ts")) / F.lit(86_400_000_000)).cast("bigint").alias("cohort")
    )
    return (
        ev.select("user_id", day.alias("day"))
        .join(F.broadcast(first), "user_id")
        .groupBy("cohort", (F.col("day") - F.col("cohort")).alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "agg_variability_eta",
    oracle=(
        "WITH d AS (SELECT user_id, value, value - lag(value) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS dv FROM events) "
        "SELECT user_id, COUNT(*) AS n_obs, "
        "CAST(FLOOR((SUM(dv * dv) / (COUNT(*) - 1)) / VAR_SAMP(value) "
        "* 1000 + 0.5) AS BIGINT) AS eta_q "
        "FROM d GROUP BY user_id "
        "HAVING COUNT(*) >= 3 AND VAR_SAMP(value) > 0 ORDER BY user_id"
    ),
)
def agg_variability_eta(spark, sf_dir):
    """Von Neumann variability index per object: eta = (mean squared
    successive difference) / variance — the classic cheap detector
    separating true variables (eta << 2) from white noise (eta ~= 2)
    in survey lightcurves; the reducer-kernel shape LSD users run
    over per-object detection groups [lsd:src/lsd/pool2.py reducers
    — UNVERIFIED, SURVEY.md §3.2].

    Plan: ONE shuffle on user_id serves both the lag window and the
    group aggregate (the window's hash partitioning is reused by the
    groupBy — no second exchange); the quantization grid (1e-3)
    absorbs both engines' float summation reassociation, the
    (ts, event_id) tiebreak makes the lag deterministic.

    The VAR_SAMP > 0 guard drops constant lightcurves: eta is
    undefined there, and the engines disagree on 0/0 — Spark's
    non-ANSI divide yields NULL while DuckDB yields +inf, where
    CAST(FLOOR(inf) AS BIGINT) aborts the whole oracle query."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dv = F.col("value") - F.lag("value").over(w)
    return (
        ev.withColumn("dv", dv)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_obs"),
            F.var_samp("value").alias("_var"),
            F.floor(
                (F.sum(F.col("dv") * F.col("dv")) / (F.count("*") - 1))
                / F.var_samp("value")
                * 1000
                + 0.5
            )
            .cast("bigint")
            .alias("eta_q"),
        )
        .filter((F.col("n_obs") >= 3) & (F.col("_var") > 0))
        .drop("_var")
    )


# --- dense time-series resample with gap fill: the operation every
# monitoring / lightcurve pipeline needs and GROUP BY alone can't
# express — empty bins must EXIST (count 0), so the plan generates
# the bin spine and left-joins the aggregates onto it.

RESAMPLE_SEC = 900  # 15-minute bins


@register(
    "agg_resample_gapfill",
    oracle=(
        f"WITH b AS (SELECT event_type, "
        f"CAST(FLOOR(epoch(ts) / {RESAMPLE_SEC}) AS BIGINT) * {RESAMPLE_SEC} AS bin, "
        "count(*) AS n, SUM(value) AS sv FROM events GROUP BY 1, 2), "
        "spine AS (SELECT CAST(unnest(range(mn, mx + 1, "
        f"{RESAMPLE_SEC})) AS BIGINT) AS bin FROM (SELECT min(bin) AS mn, "
        "max(bin) AS mx FROM b) r), "
        "grid AS (SELECT t.event_type, s.bin FROM spine s CROSS JOIN "
        "(SELECT DISTINCT event_type FROM events) t) "
        "SELECT g.event_type, g.bin AS bin_start_sec, "
        "CAST(COALESCE(b.n, 0) AS BIGINT) AS n_events, "
        "FLOOR(COALESCE(b.sv, 0) * 100 + 0.5) / 100 AS sum_value "
        "FROM grid g LEFT JOIN b ON g.event_type = b.event_type "
        "AND g.bin = b.bin ORDER BY g.event_type, g.bin"
    ),
)
def agg_resample_gapfill(spark, sf_dir):
    """Resample events into dense 15-minute bins per event_type, gaps
    filled with zero rows. Plan: (1) partial+final hash agg to the
    sparse (type, bin) grid; (2) the global [min, max] bin span — a
    1-row aggregate — broadcast onto the 5 distinct types; (3)
    sequence() + explode generates the spine JVM-side (never a
    driver loop); (4) broadcast left-join of the sparse aggregates
    onto the dense grid. The expensive input scan is aggregated
    FIRST — the spine join touches only (types x bins) rows, so at
    100 TB the gap-fill cost is a function of the output calendar,
    not the event count."""
    ev = load(spark, sf_dir, "events")
    binc = (F.floor(F.unix_timestamp("ts") / RESAMPLE_SEC) * RESAMPLE_SEC).cast(
        "long"
    )
    b = ev.groupBy(F.col("event_type"), binc.alias("bin")).agg(
        F.count("*").alias("n"), F.sum("value").alias("sv")
    )
    span = b.agg(F.min("bin").alias("mn"), F.max("bin").alias("mx"))
    spine = span.select(
        F.explode(
            F.sequence("mn", "mx", F.lit(RESAMPLE_SEC).cast("long"))
        ).alias("bin")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(spine)
    return (
        grid.join(b, ["event_type", "bin"], "left")
        .select(
            "event_type",
            F.col("bin").alias("bin_start_sec"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            (
                F.floor(F.coalesce("sv", F.lit(0.0)) * 100 + F.lit(0.5)) / 100
            ).alias("sum_value"),
        )
    )


RESERVOIR_K = 5  # deterministic sample size per group


@register(
    "agg_sample_reservoir",
    oracle=(
        "WITH r AS (SELECT event_type, event_id, "
        "md5(CAST(event_id AS VARCHAR) || '|rsv') AS h, "
        "row_number() OVER (PARTITION BY event_type "
        "ORDER BY md5(CAST(event_id AS VARCHAR) || '|rsv'), event_id) AS rk "
        "FROM events) "
        f"SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, h FROM r WHERE rk <= {RESERVOIR_K} "
        "ORDER BY event_type, rk"
    ),
)
def agg_sample_reservoir(spark, sf_dir):
    """Deterministic per-group reservoir sample: the K rows with the
    smallest salted md5 per event_type — hash-order sampling, the
    reproducible (re-runnable, auditable) replacement for
    rand()-based reservoirs. The md5 hex ordering is portable, so
    the oracle verifies the exact sample membership, not just its
    size. At 100 TB the window-per-group shape is fine while groups
    are few; for high-cardinality groups the production path
    pre-filters on a hash prefix bound before ranking (the same
    trick llm_sample_hash uses), cutting the sort input by ~the
    sampling rate."""
    ev = load(spark, sf_dir, "events")
    h = F.md5(F.concat(F.col("event_id").cast("string"), F.lit("|rsv")).cast("binary"))
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    return (
        ev.select("event_type", "event_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("event_type", F.col("rk").cast("long").alias("rk"), "event_id", "h")
    )


DRIFT_BUCKET_W = 10.0  # value-bucket width
DRIFT_BUCKET_CAP = 19  # buckets 0..19, tail clamped


@register(
    "agg_drift_chi2",
    oracle=(
        "WITH tagged AS (SELECT event_type, "
        "CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0 THEN 'a' ELSE 'b' END AS period, "
        f"least(CAST(floor(value / {DRIFT_BUCKET_W!r}) AS BIGINT), {DRIFT_BUCKET_CAP}) AS bucket "
        "FROM events), "
        "cnt AS (SELECT event_type, bucket, "
        "SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS na, "
        "SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS nb "
        "FROM tagged GROUP BY event_type, bucket), "
        "tot AS (SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb, "
        "count(*) AS n_buckets FROM cnt GROUP BY event_type), "
        "terms AS (SELECT c.event_type, "
        "(na * 1.0 / ta - nb * 1.0 / tb) * (na * 1.0 / ta - nb * 1.0 / tb) / "
        "((na * 1.0 / ta + nb * 1.0 / tb) / 2) AS term "
        "FROM cnt c JOIN tot t ON c.event_type = t.event_type) "
        "SELECT tm.event_type, ROUND(SUM(term), 6) AS chi2, "
        "CAST(MAX(ta) AS BIGINT) AS n_a, CAST(MAX(tb) AS BIGINT) AS n_b, "
        "CAST(MAX(n_buckets) AS BIGINT) AS n_buckets "
        "FROM terms tm JOIN tot t ON tm.event_type = t.event_type "
        "GROUP BY tm.event_type ORDER BY tm.event_type"
    ),
)
def agg_drift_chi2(spark, sf_dir):
    """Distribution-drift monitor — the pipeline health check every
    production training-data flow runs between ingest batches: split
    the stream into two periods (even/odd epoch day — the fixture
    has no explicit batch column), histogram `value` into fixed
    buckets per event_type, and score the shift with the symmetric
    chi-square statistic Σ(p−q)²/((p+q)/2). Chi-square instead of
    the textbook PSI because PSI's ln() is the classic cross-engine
    last-ulp divergence, while this is pure rational arithmetic on
    counts — bit-exact everywhere. Two map-side-combined aggregates
    over (type, bucket) then (type): the shuffle moves at most
    types×buckets rows regardless of corpus size."""
    ev = load(spark, sf_dir, "events")
    period = F.when(
        (F.unix_micros("ts") / F.lit(86400000000)).cast("long") % 2 == 0, F.lit("a")
    ).otherwise(F.lit("b"))
    bucket = F.least(
        F.floor(F.col("value") / DRIFT_BUCKET_W).cast("long"), F.lit(DRIFT_BUCKET_CAP)
    )
    cnt = (
        ev.select("event_type", period.alias("period"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).alias("nb"),
        )
    )
    wt = Window.partitionBy("event_type")
    p = F.col("na") * 1.0 / F.col("ta")
    q = F.col("nb") * 1.0 / F.col("tb")
    term = (p - q) * (p - q) / ((p + q) / 2)
    return (
        cnt.withColumn("ta", F.sum("na").over(wt))
        .withColumn("tb", F.sum("nb").over(wt))
        .withColumn("n_buckets", F.count("*").over(wt))
        .groupBy("event_type")
        .agg(
            F.round(F.sum(term), 6).alias("chi2"),
            F.max("ta").cast("long").alias("n_a"),
            F.max("tb").cast("long").alias("n_b"),
            F.max("n_buckets").cast("long").alias("n_buckets"),
        )
    )


# --- mergeable fixed-grid quantile sketch ---------------------------------

SKETCH_BINS = 512  # fixed grid over the value domain [0, 512)
_SKETCH_BIN_DUCK = f"CAST(LEAST(FLOOR(value), {SKETCH_BINS - 1}) AS INT)"


@register(
    "agg_quantile_sketch",
    oracle=(
        f"WITH h AS (SELECT event_type, {_SKETCH_BIN_DUCK} AS bin, count(*) AS c "
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), "
        "cw AS (SELECT event_type, bin, c, "
        "SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum, "
        "SUM(c) OVER (PARTITION BY event_type) AS n FROM h) "
        "SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, "
        "CAST(MIN(CASE WHEN cum * 100 >= 50 * n THEN bin END) AS BIGINT) AS p50_est, "
        "CAST(MIN(CASE WHEN cum * 100 >= 95 * n THEN bin END) AS BIGINT) AS p95_est, "
        "CAST(MIN(CASE WHEN cum * 100 >= 99 * n THEN bin END) AS BIGINT) AS p99_est "
        "FROM cw GROUP BY event_type ORDER BY event_type"
    ),
)
def agg_quantile_sketch(spark, sf_dir):
    """Mergeable fixed-grid quantile SKETCH — the 100 TB shape for
    percentiles: `agg_percentiles`' exact interpolated quantile is a
    sort-based aggregate (every value crosses the wire), while this
    histogram sketch is one map-side-combined count per (group, bin)
    — the shuffle moves <= groups x SKETCH_BINS rows at ANY corpus
    size, and partial histograms merge by addition (the same
    mergeability contract t-digest offers, minus the approximation
    opacity: a fixed grid's error bound is the bin width, stated up
    front). Quantile estimate = lower edge of the first bin whose
    cumulative count reaches ceil(q*n), computed with INTEGER
    cross-multiplication (cum*100 >= q*n) so the crossing decision
    is bit-exact on both engines — no float quantile arithmetic
    anywhere. The rank-over-bins second stage runs on the tiny
    histogram, not the data."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = F.least(F.floor(F.col("value")), F.lit(SKETCH_BINS - 1)).cast("int")
    h = ev.groupBy("event_type", b.alias("bin")).agg(F.count("*").alias("c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cw = h.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_all)
    )
    est = lambda pct: F.min(  # noqa: E731
        F.when(F.col("cum") * 100 >= F.lit(pct) * F.col("n"), F.col("bin"))
    ).cast("long")
    return (
        cw.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            est(50).alias("p50_est"),
            est(95).alias("p95_est"),
            est(99).alias("p99_est"),
        )
    )


# --- kappa-sigma clipped mean (robust coadd statistic) --------------------

_CLIP_KAPPA = 2  # clip at kappa * sigma; integer so the literal is exact

_SIGMA_CLIP_ORACLE = (
    "WITH s AS (SELECT user_id, value FROM events WHERE value IS NOT NULL), "
    "m AS (SELECT user_id, ROUND(AVG(value), 6) AS m0, "
    "ROUND(STDDEV_SAMP(value), 6) AS sd0, COUNT(*) AS n_raw "
    "FROM s GROUP BY user_id HAVING COUNT(*) >= 3), "
    "k AS (SELECT s.user_id, s.value, m.n_raw FROM s JOIN m USING (user_id) "
    f"WHERE ABS(s.value - m.m0) <= {_CLIP_KAPPA} * m.sd0) "
    "SELECT user_id, CAST(MAX(n_raw) AS BIGINT) AS n_raw, "
    "CAST(COUNT(*) AS BIGINT) AS n_kept, "
    "CAST(FLOOR(AVG(value) * 1000 + 0.5) AS BIGINT) AS clip_mean_milli "
    "FROM k GROUP BY user_id ORDER BY user_id"
)


@register("agg_sigma_clip", oracle=_SIGMA_CLIP_ORACLE)
def agg_sigma_clip(spark, sf_dir):
    """Kappa-sigma clipped mean per user — the robust stacking
    statistic of astronomical coaddition (reject outlier epochs at
    kappa*sigma, then average the survivors; one clip pass, fixed
    kappa=2, groups gated to n>=3 so sigma is always defined).

    Plan: window-based, join-free — mean/stddev/count are computed
    OVER (PARTITION BY user_id) so the per-group moments ride the
    same single hash exchange the final re-aggregation needs; the
    between-stage clip is a filter on the windowed columns. The
    moments are ROUND(,6)-ed BEFORE the clip comparison so both
    engines threshold on the identical literal (ulp-order summation
    differences vanish under the round; the same convention as the
    eta-statistic's variance guard).

    100 TB: one shuffle on the group key, no join-back of a
    corpus-sized moments table; the windowed first pass and the
    final groupBy share partitioning (exchange reuse). kappa-sigma
    outlier rejection at scale is per-group-bounded work — no
    global sort, no iteration (the fixed single pass is the
    standard coadd recipe; iterating to convergence would add one
    bounded filter+agg round per extra pass)."""
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "value")
    )
    w = Window.partitionBy("user_id")
    s = (
        s.withColumn("m0", F.round(F.avg("value").over(w), 6))
        .withColumn("sd0", F.round(F.stddev_samp("value").over(w), 6))
        .withColumn("n_raw", F.count("*").over(w))
        .filter(F.col("n_raw") >= 3)
        .filter(F.abs(F.col("value") - F.col("m0")) <= _CLIP_KAPPA * F.col("sd0"))
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.max("n_raw").cast("long").alias("n_raw"),
            F.count("*").cast("long").alias("n_kept"),
            F.floor(F.avg("value") * 1000 + 0.5).cast("long").alias("clip_mean_milli"),
        )
    )


# --- lightcurve structure function ---------------------------------------

_SF_LAG_US = 7 * 86_400_000_000  # lag bin width: 7 days in microseconds
_SF_NBINS = 8

_SF_ORACLE = (
    "WITH s AS (SELECT user_id, event_type, epoch_us(ts) AS us, value "
    "FROM events WHERE value IS NOT NULL), "
    "p AS (SELECT a.event_type, "
    f"CAST(LEAST(ABS(b.us - a.us) // {_SF_LAG_US}, {_SF_NBINS - 1}) AS INT) AS lag_bin, "
    "ABS(b.value - a.value) AS dv "
    "FROM s a JOIN s b ON a.user_id = b.user_id "
    "AND a.event_type = b.event_type AND a.us < b.us) "
    "SELECT event_type, lag_bin, CAST(COUNT(*) AS BIGINT) AS n_pairs, "
    "CAST(FLOOR(AVG(dv) * 1000 + 0.5) AS BIGINT) AS sf_milli "
    "FROM p GROUP BY event_type, lag_bin ORDER BY event_type, lag_bin"
)


@register("agg_structure_function", oracle=_SF_ORACLE)
def agg_structure_function(spark, sf_dir):
    """First-order structure function SF(tau) — the standard
    characterization of AGN/variable-star variability timescales
    (public formula, e.g. Schmidt et al. 2010): mean |delta value|
    over all epoch pairs of the same series, binned by time lag.
    Series key = (user_id, event_type); 7-day lag bins, capped at 8.

    Plan: per-series SELF-JOIN on the series key (one shuffle; both
    sides are the same scan, so the exchange is reused), forward
    pairs only (a.ts < b.ts), then a map-side-combined mean per
    (event_type, lag_bin) — output is types x bins rows regardless
    of corpus size. Lag binning is exact integer arithmetic on
    epoch microseconds; only the final mean is float, quantized to
    1e-3 for the cross-engine hash.

    100 TB: the pair count is quadratic in EPOCHS PER SERIES (a
    survey-cadence constant, ~10^2-10^3), never in catalog size —
    the same per-cell-bounded argument as LSD's lightcurve kernels;
    series are hash-partitioned so each task sees whole series and
    the quadratic stays in-memory per group."""
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "value",
        )
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.us") < F.col("b.us")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.least(
            F.expr(f"abs(b.us - a.us) div {_SF_LAG_US}"),
            F.lit(_SF_NBINS - 1).cast("long"),
        )
        .cast("int")
        .alias("lag_bin"),
        F.abs(F.col("b.value") - F.col("a.value")).alias("dv"),
    )
    return (
        pairs.groupBy("event_type", "lag_bin")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.floor(F.avg("dv") * 1000 + 0.5).cast("long").alias("sf_milli"),
        )
    )


# --- referential-integrity audit -----------------------------------------

_RI_EDGES = [
    # (child table, fk col, parent table, pk col)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

_RI_ORACLE = " UNION ALL ".join(
    f"SELECT '{c}.{fk}' AS fk_edge, "
    f"CAST((SELECT count(*) FROM {c}) AS BIGINT) AS n_child, "
    f"CAST((SELECT count(*) FROM {c} WHERE {fk} IS NULL) AS BIGINT) AS n_null, "
    f"CAST((SELECT count(*) FROM {c} WHERE {fk} IS NOT NULL "
    f"AND {fk} NOT IN (SELECT {pk} FROM {p} WHERE {pk} IS NOT NULL)) AS BIGINT) "
    f"AS n_orphan"
    for c, fk, p, pk in _RI_EDGES
) + " ORDER BY fk_edge"


@register("agg_referential_audit", oracle=f"SELECT * FROM ({_RI_ORACLE})")
def agg_referential_audit(spark, sf_dir):
    """Referential-integrity audit over the star schema's foreign-key
    edges — the ingest gate a pipeline runs before trusting a new
    data drop: per edge, child rows / NULL keys / ORPHANS (non-null
    keys with no parent). A nonzero orphan count means a broken
    import or a parent-side deletion that must cascade.

    Plan: each edge is a LEFT ANTI join child->parent (Catalyst
    turns the small parent side into a broadcast for every dim
    edge) plus one count aggregate; the five 1-row results union
    into the audit report. Output is |edges| rows at any scale.

    100 TB: anti-join against a broadcast parent is a map-only pass
    over the child; the lineitem->orders edge (fact->fact) shuffles
    once on the key — or zero times when both sides share the
    bucketed layout (sink_bucketed). Orphan checks on every edge
    are ONE scan per child table, not per edge-pair."""
    rows = []
    for child, fk, parent, pk in _RI_EDGES:
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent).select(pk).where(F.col(pk).isNotNull())
        orphans = (
            c.where(F.col(fk).isNotNull())
            .join(p, c[fk] == p[pk], "left_anti")
            .agg(F.count("*").alias("n_orphan"))
        )
        base = c.agg(
            F.count("*").alias("n_child"),
            F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0)).alias("n_null"),
        )
        rows.append(
            base.crossJoin(orphans).select(
                F.lit(f"{child}.{fk}").alias("fk_edge"),
                F.col("n_child").cast("long"),
                F.coalesce(F.col("n_null"), F.lit(0)).cast("long").alias("n_null"),
                F.col("n_orphan").cast("long"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# --- lag-k autocorrelation -------------------------------------------------

ACF_MAX_LAG = 3  # report r_1..r_3 per event type


# Shared closing expression for the exact-moment Pearson assembly:
# num/var terms are EXACT 128-bit integers, so the three casts to
# double (and the IEEE-correctly-rounded sqrt/divide that follow)
# are the only float steps — identical bit-for-bit on both engines.
_ACF_CLOSE = (
    "CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 "
    "THEN NULL ELSE CAST(FLOOR("
    "CAST(n * sxy - sx * sy AS DOUBLE) / "
    "(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) * "
    "SQRT(CAST(n * syy - sy * sy AS DOUBLE))) * 10000 + 0.5"
    ") AS BIGINT) END"
)


@register(
    "agg_autocorr",
    oracle=(
        "WITH q AS (SELECT event_type, user_id, ts, event_id, "
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vq FROM events), "
        "s AS (SELECT event_type, vq, "
        + ", ".join(
            f"LAG(vq, {k}) OVER (PARTITION BY user_id, event_type "
            f"ORDER BY epoch_us(ts), event_id) AS v{k}"
            for k in range(1, ACF_MAX_LAG + 1)
        )
        + " FROM q), u AS ("
        + " UNION ALL ".join(
            f"SELECT event_type, {k} AS lag, vq, v{k} AS v_lag "
            f"FROM s WHERE v{k} IS NOT NULL"
            for k in range(1, ACF_MAX_LAG + 1)
        )
        + "), m AS (SELECT event_type, lag, "
        "CAST(COUNT(*) AS HUGEINT) AS n, "
        "SUM(CAST(vq AS HUGEINT)) AS sx, "
        "SUM(CAST(v_lag AS HUGEINT)) AS sy, "
        "SUM(CAST(vq AS HUGEINT) * vq) AS sxx, "
        "SUM(CAST(v_lag AS HUGEINT) * v_lag) AS syy, "
        "SUM(CAST(vq AS HUGEINT) * v_lag) AS sxy "
        "FROM u GROUP BY event_type, lag) "
        "SELECT event_type, CAST(lag AS INTEGER) AS lag, "
        "CAST(n AS BIGINT) AS n_pairs, "
        f"{_ACF_CLOSE} AS acf_x1e4 FROM m "
        "ORDER BY event_type, lag"
    ),
)
def agg_autocorr(spark, sf_dir):
    """Lag-k autocorrelation function (ACF) per event type: Pearson
    correlation between a series value and its k-step-lagged self,
    k = 1..3, pooled over every (user, type) series — the standard
    first look at temporal structure (is the signal white noise or
    does it persist?).

    Values quantize to integer milli-units BEFORE any aggregation
    (round-7 ADVICE): engine corr() is a 5-accumulator double
    reduction whose partial-merge order is partitioning-dependent,
    so FLOOR(corr*1e4+0.5) could flip at a quantization boundary.
    Here the six moment sums (n, Σx, Σy, Σx², Σy², Σxy) accumulate
    as exact DECIMAL(38,0)/HUGEINT — merge-order-free — and Pearson
    assembles from n·Σxy−ΣxΣy and the two exact variance terms in
    one shared closing expression, so the only float steps are
    three correctly-rounded casts, one sqrt pair, one divide: both
    engines agree bit-for-bit regardless of partitioning. Decimal
    ceiling: n·Σx² < 1e38 holds past 1e9 pairs per (type, lag) at
    |vq| ~ 1e9; zero-variance groups yield NULL (matching corr()).

    Plan: ONE window pass per (user_id, event_type) series computes
    all three lag columns in a single sorted exchange; the lagged
    pairs are then stacked (map-side, no shuffle) and reduced by a
    map-side-combined 6-moment aggregate. Output is
    types x ACF_MAX_LAG rows at any corpus size.

    100 TB: the window key is high-cardinality (user x type), the
    final aggregate output is bounded; the moment sums are
    algebraic so the reduce is one combine tree, no row
    materialization."""
    ev = load(spark, sf_dir, "events").withColumn(
        "vq", F.floor(F.col("value") * 1000 + 0.5).cast("long")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    lagged = ev.select(
        "event_type",
        "vq",
        *[
            F.lag("vq", k).over(w).alias(f"v{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stack_expr = "stack({n}, {args}) AS (lag, v_lag)".format(
        n=ACF_MAX_LAG,
        args=", ".join(f"{k}, v{k}" for k in range(1, ACF_MAX_LAG + 1)),
    )
    pairs = lagged.select(
        "event_type", "vq", F.expr(stack_expr)
    ).filter(F.col("v_lag").isNotNull())
    dec = "decimal(38,0)"
    m = pairs.groupBy(
        "event_type", F.col("lag").cast("int").alias("lag")
    ).agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("vq").cast(dec)).alias("sx"),
        F.sum(F.col("v_lag").cast(dec)).alias("sy"),
        F.sum(F.col("vq").cast(dec) * F.col("vq")).alias("sxx"),
        F.sum(F.col("v_lag").cast(dec) * F.col("v_lag")).alias("syy"),
        F.sum(F.col("vq").cast(dec) * F.col("v_lag")).alias("sxy"),
    )
    return m.select(
        "event_type",
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(_ACF_CLOSE).alias("acf_x1e4"),
    )


# --- weighted median -------------------------------------------------------


@register(
    "agg_weighted_median",
    oracle=(
        "WITH s AS (SELECT l_returnflag AS flag, l_extendedprice AS v, "
        "CAST(l_quantity AS BIGINT) AS w FROM lineitem), "
        "c AS (SELECT flag, v, "
        "SUM(w) OVER (PARTITION BY flag ORDER BY v "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, "
        "SUM(w) OVER (PARTITION BY flag) AS tw FROM s) "
        "SELECT flag, CAST(FLOOR(MIN(v) * 100 + 0.5) AS BIGINT) "
        "AS wmedian_cents FROM c WHERE 2 * cw >= tw "
        "GROUP BY flag ORDER BY flag"
    ),
)
def agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag: the smallest
    price at which the running quantity weight reaches half the
    group total (the classic weighted-median definition; the
    UNWEIGHTED percentile family is agg_percentiles). The crossing
    test is exact integer arithmetic (2*cumw >= total on bigint
    weights), and equal prices make the answer independent of
    intra-tie ordering, so no float or tiebreak trap.

    Plan: one exchange on the group key; cumulative and total
    weights share the partition, then a map-side-combined MIN per
    group. 100 TB: the window partition is the GROUP (few, large) —
    acceptable here because the crossing filter runs inside the
    sorted pass and only group-sized partials survive; for
    high-cardinality groups this op would switch to the
    agg_percentiles sketch path."""
    s = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    wf = Window.partitionBy("flag").orderBy("v")
    c = s.select(
        "flag",
        "v",
        F.sum("w").over(wf.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.floor(F.min("v") * 100 + 0.5).cast("long").alias("wmedian_cents")
        )
    )


# --- Gini concentration ----------------------------------------------------

# The guarded closing expression (round-9 ADVICE #3: single source of
# truth — tests/test_aggregates_guard exercises THIS string, so moving
# a coalesce out of the divisor can't slip past the trip-side test).
# The sx guard sits in the DIVISOR: div's codegen evaluates the
# divisor first and short-circuits to NULL on a null divisor, so a
# numerator-side coalesce would never run for a null sx.
GINI_CLOSING_EXPR = (
    "CAST((40000 * coalesce(six, raise_error("
    "'agg_gini: decimal(38,0) overflow in sum(i*cents)')) "
    "+ sx * (n - 20000 * (n + 1))) "
    "div (2 * n * coalesce(sx, raise_error("
    "'agg_gini: decimal(38,0) overflow in sum(cents)'))) "
    "AS BIGINT)"
)


@register(
    "agg_gini",
    oracle=(
        "WITH s AS (SELECT o_orderpriority AS pri, "
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents "
        "FROM orders), "
        "r AS (SELECT pri, cents, ROW_NUMBER() OVER (PARTITION BY pri "
        "ORDER BY cents, 1) AS i FROM s), "
        "g AS (SELECT pri, COUNT(*) AS n, "
        "CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx, "
        "SUM(CAST(i AS HUGEINT) * cents) AS six FROM r GROUP BY pri) "
        "SELECT pri, CAST(n AS BIGINT) AS n, "
        "CAST((40000 * six + sx * (n - 20000 * (n + 1))) "
        "// (2 * n * sx) AS BIGINT) AS gini_x1e4 "
        "FROM g ORDER BY pri"
    ),
)
def agg_gini(spark, sf_dir):
    """Gini concentration coefficient of order value per priority
    class — the standard inequality measure (0 = all orders equal,
    1 = one order holds all the value), via the sorted-rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n (public, e.g. any
    statistics text). Prices quantize to integer cents FIRST and
    the rank-product sum accumulates as DECIMAL(38,0) (DuckDB:
    HUGEINT) — sum(i*cents) grows ~avg_cents*n^2/2 and wraps int64
    past ~1.1M rows per group (round-7 ADVICE), far below the
    contract scale. Ranks over tied cents contribute identically
    however the tie breaks (swapping ranks i,j between equal x
    leaves sum(i*x) unchanged).

    The published FLOOR(G*1e4 + 0.5) has the closed form
    (40000*six + sx*(n - 20000*(n+1))) div (2*n*sx) — one exact
    128-bit integer division (numerator >= 0 because G >= 0 for
    non-negative x), so no double ever touches the result and both
    engines agree bit-for-bit at any group size up to the decimal
    ceiling (~1e38 numerator: n*six < 1e38, i.e. beyond 1e12-row
    groups at TPC-H price scales).

    Past that ceiling the engines would diverge SILENTLY — Spark's
    non-ANSI decimal sum yields NULL on overflow while DuckDB's
    HUGEINT raises — so the closing expression pins the behavior
    loudly (round-8 ADVICE #4): each decimal accumulator is wrapped
    in coalesce(x, raise_error(...)), turning an overflow into the
    same hard failure DuckDB gives instead of a NULL gini. n >= 1
    and cents is non-null, so NULL here can ONLY mean overflow
    (tests/test_round9_ops.py pins both the trip and the no-trip
    side).

    Plan: one exchange on the priority key for the rank window,
    then a map-side-combined 3-accumulator aggregate; output is
    one row per class. 100 TB: same caveat as agg_weighted_median —
    the window partitions by GROUP; for high-cardinality entity
    keys the rank pass stays per-entity and small."""
    s = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    i = F.row_number().over(Window.partitionBy("pri").orderBy("cents"))
    r = s.select("pri", "cents", i.alias("i"))
    return (
        r.groupBy("pri")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
            F.sum(
                F.col("i").cast("decimal(38,0)") * F.col("cents")
            ).alias("six"),
        )
        .select(
            "pri",
            F.col("n").cast("long").alias("n"),
            F.expr(GINI_CLOSING_EXPR).alias("gini_x1e4"),
        )
    )


# --- Benford first-digit audit ---------------------------------------------

# FLOOR(log10(1 + 1/d) * 1e4 + 0.5) precomputed so both engines see
# the same literal (no cross-engine log10 evaluation)
_BENFORD_X1E4 = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792,
                 6: 669, 7: 580, 8: 512, 9: 458}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {v}" for d, v in _BENFORD_X1E4.items())
    + " END"
)


@register(
    "agg_benford",
    oracle=(
        "WITH s AS (SELECT CAST(SUBSTRING(CAST(CAST(FLOOR("
        "o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) "
        "AS INTEGER) AS digit FROM orders WHERE o_totalprice > 0), "
        "g AS (SELECT digit, COUNT(*) AS n FROM s GROUP BY digit), "
        "t AS (SELECT SUM(n) AS total FROM g) "
        "SELECT digit, CAST(n AS BIGINT) AS n, "
        "CAST(FLOOR(n * 10000.0 / total + 0.5) AS BIGINT) AS pct_x1e4, "
        f"CAST({_BENFORD_CASE} AS BIGINT) AS benford_x1e4 "
        "FROM g, t ORDER BY digit"
    ),
)
def agg_benford(spark, sf_dir):
    """Benford's-law first-digit audit over order totals — the
    classic forensic data-quality screen: natural multi-scale
    amounts follow P(d) = log10(1 + 1/d); a fabricated or truncated
    column visibly doesn't. Emits observed count/share per leading
    digit next to the Benford expectation (both x1e4 integers; the
    expectation is a precomputed literal so neither engine
    evaluates log10).

    The digit is extracted from the INTEGER cents via string head —
    never from float formatting, which renders differently across
    engines. Plan: map-side digit projection, 9-row hash aggregate,
    then a broadcast of the 1-row total onto the 9-row result —
    nothing here scales with corpus size except the first scan.
    100 TB: single pass, partial aggregation, 9-row shuffle."""
    s = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice") * 100 + 0.5)
                .cast("long")
                .cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
    )
    g = s.groupBy("digit").agg(F.count("*").alias("n"))
    t = g.agg(F.sum("n").alias("total"))
    return (
        g.join(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.floor(F.col("n") * 10000.0 / F.col("total") + 0.5)
            .cast("long")
            .alias("pct_x1e4"),
            F.expr(_BENFORD_CASE).cast("long").alias("benford_x1e4"),
        )
    )


# --- activity heatmap (hour x day-of-week) ----------------------------------

_US_PER_DAY = 86_400_000_000
_US_PER_HOUR = 3_600_000_000


@register(
    "agg_heatmap_hour_dow",
    oracle=(
        "WITH s AS (SELECT epoch_us(ts) AS us FROM events) "
        f"SELECT CAST((us // {_US_PER_DAY} + 4) % 7 AS INTEGER) AS dow, "
        f"CAST((us % {_US_PER_DAY}) // {_US_PER_HOUR} AS INTEGER) AS hour, "
        "CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM s GROUP BY dow, hour ORDER BY dow, hour"
    ),
)
def agg_heatmap_hour_dow(spark, sf_dir):
    """Activity heatmap: event counts per (day-of-week, hour-of-day)
    — the standard temporal-usage grid behind cadence planning and
    load dashboards. Both coordinates come from PURE INTEGER
    arithmetic on epoch microseconds (1970-01-01 was a Thursday, so
    dow = (days_since_epoch + 4) mod 7 with 0 = Sunday) — engine
    dayofweek() builtins disagree on week origin (Spark 1=Sunday,
    DuckDB 0=Sunday) and on session-timezone handling, so neither is
    used.

    Plan: map-side integer projection + one <=168-row hash
    aggregate. 100 TB: single scan, map-side combine, bounded
    output."""
    us = F.unix_micros("ts")
    return (
        load(spark, sf_dir, "events")
        .select(
            ((us / _US_PER_DAY).cast("long") + 4) % 7,
            (us % _US_PER_DAY / _US_PER_HOUR).cast("long"),
        )
        .toDF("dow", "hour")
        .select(F.col("dow").cast("int"), F.col("hour").cast("int"))
        .groupBy("dow", "hour")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


# --- Theil-Sen robust trend --------------------------------------------------

_TS_US_PER_DAY = 86_400_000_000.0


@register(
    "agg_theilsen_slope",
    oracle=(
        "WITH s AS (SELECT user_id, epoch_us(ts) AS us, value, event_id "
        "FROM events WHERE value IS NOT NULL), "
        "p AS (SELECT a.user_id, "
        f"(b.value - a.value) * {_TS_US_PER_DAY} / (b.us - a.us) AS slope, "
        "a.event_id AS ia, b.event_id AS ib "
        "FROM s a JOIN s b ON a.user_id = b.user_id AND a.us < b.us), "
        "r AS (SELECT user_id, slope, ROW_NUMBER() OVER ("
        "PARTITION BY user_id ORDER BY slope, ia, ib) AS rn, "
        "COUNT(*) OVER (PARTITION BY user_id) AS np FROM p) "
        "SELECT user_id, CAST(np AS BIGINT) AS n_pairs, "
        "CAST(FLOOR(slope * 1000 + 0.5) AS BIGINT) AS slope_milli_per_day "
        "FROM r WHERE rn = (np + 1) // 2 ORDER BY user_id"
    ),
)
def agg_theilsen_slope(spark, sf_dir):
    """Theil-Sen robust trend per user series: the median of all
    pairwise slopes (Theil 1950 / Sen 1968, public) — the estimator
    survey pipelines use for proper-motion and secular-variability
    fits because one bad epoch wrecks least squares but not a
    median. Lower median (rank (n+1)//2) with an id tiebreak, so
    the SELECTED slope is one concrete pair's value — both engines
    divide the identical doubles, order identically, pick the same
    row, and only then quantize.

    Plan: per-series self-join on user_id (one shuffle, exchange
    reused both sides — the structure-function pattern), then one
    rank window over the same partitioning. Pair count is quadratic
    in EPOCHS PER SERIES (a cadence constant), never in catalog
    size; series hash-partition so each task sees whole series.
    100 TB: same bounded-cell argument as agg_structure_function."""
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("us"), "value", "event_id")
    )
    a, b = s.alias("a"), s.alias("b")
    p = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.us") < F.col("b.us")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (
            (F.col("b.value") - F.col("a.value"))
            * _TS_US_PER_DAY
            / (F.col("b.us") - F.col("a.us"))
        ).alias("slope"),
        F.col("a.event_id").alias("ia"),
        F.col("b.event_id").alias("ib"),
    )
    w = Window.partitionBy("user_id")
    r = p.select(
        "user_id",
        "slope",
        F.row_number()
        .over(w.orderBy("slope", "ia", "ib"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("np"),
    )
    return (
        r.filter(F.col("rn") == F.expr("(np + 1) div 2"))
        .select(
            "user_id",
            F.col("np").cast("long").alias("n_pairs"),
            F.floor(F.col("slope") * 1000 + 0.5)
            .cast("long")
            .alias("slope_milli_per_day"),
        )
    )


# --- portable HyperLogLog ----------------------------------------------------

# m = 256 buckets (b = 8); the 60-bit md5 hash splits into bucket
# (low 8 bits) and a 52-bit pattern word. alpha_m * m^2 * 2^40
# precomputed in exact double so both engines divide the same literal.
_HLL_M = 256
_HLL_ALPHA_NUM = 5.175699493294551e16  # 0.7213/(1+1.079/256) * 256^2 * 2^40
_HLL_LC_THRESHOLD = 2.5 * _HLL_M  # below this, linear counting applies


@register(
    "agg_approx_distinct_portable",
    oracle=(
        "WITH h AS (SELECT ('0x' || substring(md5(CAST(l_orderkey "
        "AS VARCHAR)), 1, 15))::BIGINT AS h FROM lineitem), "
        f"b AS (SELECT h % {_HLL_M} AS bucket, h // {_HLL_M} AS w FROM h), "
        "r AS (SELECT bucket, MAX(CASE WHEN w = 0 THEN 53 "
        "ELSE 53 - length(bin(w)) END) AS mx FROM b GROUP BY bucket), "
        "s AS (SELECT COUNT(*) AS present, "
        "SUM(CAST(POW(2, 40 - LEAST(mx, 40)) AS BIGINT)) AS s_present "
        "FROM r), "
        "e AS (SELECT "
        f"{_HLL_ALPHA_NUM!r} / (s_present + ({_HLL_M} - present) * "
        "CAST(POW(2, 40) AS BIGINT)) AS e_raw, "
        f"{_HLL_M} - present AS v_empty FROM s), "
        "x AS (SELECT CASE WHEN e_raw <= "
        f"{_HLL_LC_THRESHOLD!r} AND v_empty > 0 "
        f"THEN {_HLL_M} * ln({_HLL_M}.0 / v_empty) ELSE e_raw END AS est "
        "FROM e), "
        "t AS (SELECT COUNT(DISTINCT l_orderkey) AS exact FROM lineitem) "
        "SELECT CAST(FLOOR(est + 0.5) AS BIGINT) AS est_distinct, "
        "CAST(exact AS BIGINT) AS exact_distinct, "
        "CAST(FLOOR(ABS(est - exact) * 1000000.0 / exact + 0.5) AS BIGINT) "
        "AS err_ppm FROM x, t"
    ),
)
def agg_approx_distinct_portable(spark, sf_dir):
    """HyperLogLog distinct-count estimate with a PORTABLE hash
    (Flajolet et al. 2007, public) — the upgrade that moves the
    approximate-distinct family from rows-only to hash-verified:
    the builtin approx_count_distinct sketches with engine-private
    xxhash, so its estimate can never cross-check; this op builds
    the SAME sketch in both engines from md5 bits. bucket = low 8
    hash bits, rho = leading-zero rank of the 52-bit remainder via
    length(bin(w)) — bin() strips leading zeros identically in both
    engines, so rho is exact integer arithmetic, and the register
    sum uses exact 2^(40-rho) bigints (accumulation-order-immune).
    The only floats are the final alpha*m^2/S division (identical
    literal / identical bigint) and the guarded linear-counting
    branch. Estimate lands within ~6.5% (1.04/sqrt(256)) of exact —
    err_ppm is part of the output so the driver hash pins the
    achieved accuracy, not just the estimate.

    Plan: one map-side projection, a <=256-row register aggregate
    (map-side max-combine — THE mergeable-sketch shape), plus the
    exact COUNT(DISTINCT) for the accuracy column. 100 TB: the
    sketch is 256 ints regardless of corpus; partials merge by
    register max, which Spark's partial aggregation does for free.
    The exact branch exists only to report the error; production
    use drops it."""
    from lsd_spark.llm.dedup import HASH60_SPARK

    li = load(spark, sf_dir, "lineitem")
    h60 = HASH60_SPARK.format(t="CAST(l_orderkey AS STRING)")
    b = li.select(
        F.expr(f"({h60}) % {_HLL_M}").alias("bucket"),
        F.expr(f"({h60}) div {_HLL_M}").alias("w"),
    )
    r = b.groupBy("bucket").agg(
        F.max(
            F.when(F.col("w") == 0, 53).otherwise(
                53 - F.length(F.expr("bin(w)"))
            )
        ).alias("mx")
    )
    s = r.agg(
        F.count("*").alias("present"),
        F.sum(
            F.pow(F.lit(2.0), 40 - F.least(F.col("mx"), F.lit(40)))
            .cast("long")
        ).alias("s_present"),
    )
    e = s.select(
        (
            F.lit(_HLL_ALPHA_NUM)
            / (
                F.col("s_present")
                + (_HLL_M - F.col("present")) * F.lit(2**40).cast("long")
            )
        ).alias("e_raw"),
        (_HLL_M - F.col("present")).alias("v_empty"),
    )
    x = e.select(
        F.when(
            (F.col("e_raw") <= _HLL_LC_THRESHOLD) & (F.col("v_empty") > 0),
            _HLL_M * F.log(_HLL_M / F.col("v_empty").cast("double")),
        )
        .otherwise(F.col("e_raw"))
        .alias("est")
    )
    t = li.agg(F.countDistinct("l_orderkey").alias("exact"))
    return x.join(F.broadcast(t)).select(
        F.floor(F.col("est") + 0.5).cast("long").alias("est_distinct"),
        F.col("exact").cast("long").alias("exact_distinct"),
        F.floor(F.abs(F.col("est") - F.col("exact")) * 1e6 / F.col("exact") + 0.5)
        .cast("long")
        .alias("err_ppm"),
    )


@register(
    "agg_rollup",
    oracle=(
        "SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_cust, "
        "CAST(FLOOR(SUM(c_acctbal) * 100 + 0.5) AS BIGINT) AS bal_cents, "
        "CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INTEGER) AS gid "
        "FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY ROLLUP (r_name, n_name) "
        "ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST"
    ),
)
def agg_rollup(spark, sf_dir):
    """ROLLUP along the region -> nation hierarchy: per-nation rows,
    per-region subtotals, and the grand total in ONE pass — the
    drill-down companion to agg_cube (which materializes every
    subset; ROLLUP only the hierarchy's prefixes, |levels|+1 grouping
    sets instead of 2^k). GROUPING() bits disambiguate a NULL key
    from a subtotal row, the classic rollup pitfall.

    Plan: both dimension joins broadcast (region/nation are tiny);
    Spark expands the rollup into grouping sets BEFORE the hash
    aggregate, so partial aggregation still applies per set. 100 TB:
    one fact scan, map-side combine per grouping set, output bounded
    by |nations| + |regions| + 1."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    j = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.floor(F.sum("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("bal_cents"),
            (F.grouping("r_name") * 2 + F.grouping("n_name"))
            .cast("int")
            .alias("gid"),
        )
        .select("r_name", "n_name", "n_cust", "bal_cents", "gid")
    )


# --- portable count-min sketch ------------------------------------------------

_CM_D = 4  # hash rows
_CM_W = 256  # counters per row
_CM_TOPQ = 10  # report the estimate for the 10 hottest true keys


def _cm_hash(dialect: str, key: str, i: int) -> str:
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5(CAST({key} AS STRING) || 'cm{i}'), 1, 15), "
            f"16, 10) AS BIGINT) % {_CM_W}"
        )
    return (
        f"('0x' || substring(md5(CAST({key} AS VARCHAR) || 'cm{i}'), 1, 15))"
        f"::BIGINT % {_CM_W}"
    )


@register(
    "agg_count_min_sketch",
    oracle=(
        "WITH cells AS ("
        + " UNION ALL ".join(
            f"SELECT {i} AS i, {_cm_hash('duck', 'o_custkey', i)} AS col, "
            "COUNT(*) AS c FROM orders GROUP BY col"
            for i in range(_CM_D)
        )
        + "), "
        "hot AS (SELECT o_custkey AS k, COUNT(*) AS true_cnt FROM orders "
        f"GROUP BY k ORDER BY true_cnt DESC, k LIMIT {_CM_TOPQ}), "
        "est AS (SELECT k, true_cnt, MIN(c) AS est_cnt FROM hot "
        "JOIN cells ON col = CASE cells.i "
        + " ".join(
            f"WHEN {i} THEN {_cm_hash('duck', 'k', i)}" for i in range(_CM_D)
        )
        + " END GROUP BY k, true_cnt) "
        "SELECT k, CAST(true_cnt AS BIGINT) AS true_cnt, "
        "CAST(est_cnt AS BIGINT) AS est_cnt FROM est ORDER BY k"
    ),
)
def agg_count_min_sketch(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005, public) with
    a PORTABLE hash — the frequency-estimation companion to
    agg_approx_distinct_portable's HLL: d=4 x w=256 integer
    counters, estimate = min over rows of the hashed cell, with the
    one-sided guarantee est >= true (never under). Both engines
    build the identical sketch from md5 bits, so the d*w cells AND
    the estimates hash-match exactly — zero floats anywhere in this
    op. Reported for the 10 hottest true keys next to their true
    counts, so the driver pins the overestimate bias achieved, not
    just the sketch.

    Plan: the d hash rows build from ONE scan — each input row
    explodes into its d (row, cell) coordinates and a single
    map-side-combined aggregate on (i, col) adds them (the
    mergeable-sketch shape: partials add; the explode's 4x row
    multiplication collapses to <= d*w cells per partition before
    the shuffle). The round-7 draft instead unioned d per-row
    groupBys, which Catalyst expanded into d FULL corpus scans —
    the same per-consumer subtree duplication the round-8 audit
    hunted everywhere else. The query side is a |hot| x d probe
    against the 1024-row sketch. 100 TB: sketch size is constant;
    this is how you count frequencies when the key space doesn't
    fit anywhere."""
    o = load(spark, sf_dir, "orders")
    coords = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.expr(
                            _cm_hash("spark", "o_custkey", i)
                        ).alias("col"),
                    )
                    for i in range(_CM_D)
                ]
            )
        ).alias("x")
    )
    cells = coords.groupBy(
        F.col("x.i").alias("i"), F.col("x.col").alias("col")
    ).agg(F.count("*").alias("c"))
    hot = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("k"))
        .limit(_CM_TOPQ)
    )
    probe = F.expr(
        "CASE i "
        + " ".join(
            f"WHEN {i} THEN {_cm_hash('spark', 'k', i)}"
            for i in range(_CM_D)
        )
        + " END"
    )
    return (
        hot.join(F.broadcast(cells), F.col("col") == probe)
        .groupBy("k", "true_cnt")
        .agg(F.min("c").alias("est_cnt"))
        .select(
            "k",
            F.col("true_cnt").cast("long").alias("true_cnt"),
            F.col("est_cnt").cast("long").alias("est_cnt"),
        )
    )


# --- deterministic mode --------------------------------------------------------


@register(
    "agg_mode_deterministic",
    oracle=(
        "WITH c AS (SELECT l_returnflag AS flag, "
        "CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS n "
        "FROM lineitem GROUP BY flag, q), "
        "r AS (SELECT flag, q, n, ROW_NUMBER() OVER ("
        "PARTITION BY flag ORDER BY n DESC, q ASC) AS rn FROM c) "
        "SELECT flag, CAST(q AS BIGINT) AS mode_qty, "
        "CAST(n AS BIGINT) AS n_occurrences FROM r WHERE rn = 1 "
        "ORDER BY flag"
    ),
)
def agg_mode_deterministic(spark, sf_dir):
    """Mode with a PINNED tiebreak (max count, then smallest value)
    — engine builtin mode() leaves ties implementation-defined
    (whichever value the hash table yields first), which is exactly
    the nondeterminism a differential harness can't tolerate and a
    reproducible pipeline shouldn't either. Completes the
    descriptive-stats family next to the weighted median and MAD.

    Plan: one map-side-combined (group, value) count, then a rank-1
    window per group over the counted table (|distinct values|-sized,
    not row-sized). 100 TB: the first aggregate collapses the corpus;
    everything after is value-cardinality."""
    c = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .agg(F.count("*").alias("n"))
    )
    rn = F.row_number().over(
        Window.partitionBy("flag").orderBy(F.desc("n"), F.asc("q"))
    )
    return (
        c.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "flag",
            F.col("q").cast("long").alias("mode_qty"),
            F.col("n").cast("long").alias("n_occurrences"),
        )
    )
