"""§2.E window functions — LSD's per-object time-ordered kernel work
(lightcurves: sort an object's detections by MJD, compute deltas)
[lsd:src/lsd/pool2.py reducers — UNVERIFIED] maps to Spark Window
specs partitioned by the object key: one shuffle on the partition
key, then per-partition sorted evaluation. At 100 TB the partition
key (user/object id) must be high-cardinality — all of these are —
and single-partition global windows are avoided except for bounded
outputs (win_ntile_percent notes the caveat).

Determinism: every ORDER BY inside a window carries a unique-key
tiebreak; time arithmetic uses integer microseconds (unix_micros /
epoch_us) on both engines so no float or second-truncation skew.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import register


@register(
    "win_row_number",
    oracle=(
        "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn FROM orders) "
        "WHERE rn <= 2 ORDER BY o_custkey, rn LIMIT 100"
    ),
)
def win_row_number(spark, sf_dir):
    """Top-2 orders per customer by price (tiebreak o_orderkey)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
        .orderBy("o_custkey", "rn")
        .limit(100)
    )


@register(
    "win_rank_dense",
    oracle=(
        "SELECT s_suppkey, s_nationkey, "
        "CAST(RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INTEGER) AS rnk, "
        "CAST(DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INTEGER) AS drnk "
        "FROM supplier"
    ),
)
def win_rank_dense(spark, sf_dir):
    """Rank suppliers by account balance within nation. rank/dense_rank
    are tie-stable (equal values share a rank) so no tiebreak needed."""
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_lag_lead",
    oracle=(
        "SELECT user_id, event_id, "
        "epoch_us(ts) - LAG(epoch_us(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us "
        "FROM events"
    ),
)
def win_lag_lead(spark, sf_dir):
    """Per-object inter-detection gap (lightcurve delta-t kernel)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return ev.select(
        "user_id", "event_id", (us - F.lag(us).over(w)).alias("gap_us")
    )


@register(
    "win_running_frame",
    oracle=(
        "SELECT user_id, event_id, "
        "ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum "
        "FROM events"
    ),
)
def win_running_frame(spark, sf_dir):
    """Running sum per user in event-time order. Both engines add
    left-to-right in frame order -> bit-identical before rounding."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 2).alias("running_sum")
    )


@register(
    "win_range_frame",
    oracle=(
        "SELECT user_id, event_id, "
        "CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) "
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_1h "
        "FROM events"
    ),
)
def win_range_frame(spark, sf_dir):
    """Trailing 1-hour event count per user — a value-range frame over
    integer microseconds (RANGE frames need a numeric order key in
    Spark; µs keeps it exact on both engines)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select("user_id", "event_id", F.count("*").over(w).alias("cnt_1h"))


# Width buckets for the two-pass global rank: each bucket's window
# sorts ~1/64 of the table; raise with cluster width at scale.
NTILE_BUCKETS = 64


@register(
    "win_ntile_percent",
    oracle=(
        "SELECT o_orderkey, "
        "CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile, "
        "ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pr "
        "FROM orders"
    ),
)
def win_ntile_percent(spark, sf_dir):
    """Quartile + percent_rank of order totalprice — two-pass
    RANGE-BUCKETED global rank (round 10; retires the last
    single-partition Window in the registry). Pass 1 computes the
    value range (one scalar agg, driver literals — the same
    driver-computed-geometry pattern as the xmatch zones); every row
    then maps to one of NTILE_BUCKETS width buckets, local ranks run
    in a window PARTITIONED BY bucket (parallel across buckets), and
    per-bucket row counts (an aggregate of ≤ NTILE_BUCKETS rows)
    yield cumulative offsets + the global total via an
    aggregate-sized window that is broadcast-joined back. Global
    rank = offset + local rank; percent_rank = (r-1)/(n-1) and
    ntile(4) by its closed form (rem = n mod 4 leading tiles get one
    extra row), evaluated map-side from the broadcast literals — so
    NO row ever crosses a single-partition boundary and the shuffle
    is an even ~1/NTILE_BUCKETS slice per task. Ordering key
    (o_totalprice, o_orderkey) is unique, so bucket boundaries can
    never split a tie group. At 100 TB: width buckets assume a
    non-pathological value distribution; a skewed column would swap
    pass 1 for sampled boundaries (repartitionByRange on a
    checkpointed pid frame) — same two-pass shape."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mn, mx = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    width = ((mx - mn) / NTILE_BUCKETS) or 1.0
    b = o.withColumn(
        "bucket",
        F.least(
            F.floor((F.col("o_totalprice") - F.lit(mn)) / F.lit(width)),
            F.lit(NTILE_BUCKETS - 1),
        ).cast("int"),
    )
    w_local = Window.partitionBy("bucket").orderBy("o_totalprice", "o_orderkey")
    ranked = b.withColumn("lr", F.row_number().over(w_local))
    counts = b.groupBy("bucket").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    side = counts.select(
        "bucket",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    # ntile(k) closed form in EXACT bigint arithmetic (DIV, never FP
    # division — a truncated double could mis-tile at billion-row
    # ranks): the first rem = n % 4 tiles hold base+1 = n DIV 4 + 1
    # rows. base = 0 only when n < 4, where r <= cutoff = n always
    # takes the WHEN branch, so the ELSE's DIV base never evaluates.
    return (
        ranked.join(F.broadcast(side), "bucket")
        .select(
            "o_orderkey",
            (F.col("off") + F.col("lr")).alias("r"),
            "n",
        )
        .selectExpr(
            "o_orderkey",
            "CAST(CASE WHEN r <= (n % 4) * (n DIV 4 + 1) "
            "THEN (r - 1) DIV (n DIV 4 + 1) + 1 "
            "ELSE n % 4 + (r - (n % 4) * (n DIV 4 + 1) - 1) DIV (n DIV 4) + 1 "
            "END AS INT) AS quartile",
            "ROUND(CAST(r - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) AS pr",
        )
    )


@register(
    "win_first_last",
    oracle=(
        "SELECT event_id, user_id, "
        "first_value(event_id) OVER w AS first_ev, "
        "last_value(event_id) OVER w AS last_ev, "
        "nth_value(event_id, 2) OVER w AS second_ev "
        "FROM events WHERE user_id < 20 "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
        "ORDER BY user_id, event_id"
    ),
)
def win_first_last(spark, sf_dir):
    """first/last/nth value over an unbounded frame per user — the
    per-object lightcurve endpoints kernel (first/latest detection of
    an object) as window built-ins. Deterministic tiebreak (ts,
    event_id) so both engines agree on frame order."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_id").over(w).alias("first_ev"),
        F.last("event_id").over(w).alias("last_ev"),
        F.nth_value("event_id", 2).over(w).alias("second_ev"),
    )


@register(
    "win_cume_dist",
    oracle=(
        "SELECT o_orderkey, o_orderstatus, "
        "ROUND(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice), 6) "
        "AS cd FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"
    ),
)
def win_cume_dist(spark, sf_dir):
    """cume_dist per status partition — value-based (tie rows share a
    value), so deterministic without an explicit tiebreak column."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "win_rolling_median",
    oracle=(
        "SELECT event_id, user_id, "
        "CAST(FLOOR(median(value) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) "
        "* 10000 + 0.5) AS BIGINT) AS med4 "
        "FROM events WHERE value IS NOT NULL ORDER BY event_id"
    ),
)
def win_rolling_median(spark, sf_dir):
    """Rolling median of the last 11 observations per user — the
    robust-trend / outlier-resistant detrending primitive (LSD-style
    lightcurve detrending uses exactly this). An order statistic in a
    moving frame: Spark evaluates median per frame natively; at
    100 TB the frame is bounded (11 rows) so per-row cost is
    constant. Spark's median() refuses ordered frames, so the frame
    is gathered with collect_list (bounded: <=11 values) and the
    median read off the sorted array — still JVM-side, no UDF.
    Quantized at 1e-4 for cross-engine interpolation."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-10, Window.currentRow)
    )
    med = F.expr(
        "CASE WHEN size(frame) % 2 = 1 "
        "THEN element_at(array_sort(frame), CAST((size(frame) + 1) div 2 AS INT)) "
        "ELSE (element_at(array_sort(frame), CAST(size(frame) div 2 AS INT)) "
        "+ element_at(array_sort(frame), CAST(size(frame) div 2 + 1 AS INT))) / 2 END"
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.collect_list("value").over(w).alias("frame"),
        )
        .select(
            "event_id",
            "user_id",
            F.floor(med * 10000 + 0.5).cast("bigint").alias("med4"),
        )
    )


@register(
    "win_streak",
    oracle=(
        "WITH d AS (SELECT DISTINCT user_id, "
        "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events), "
        "i AS (SELECT user_id, day, day - ROW_NUMBER() OVER ("
        "PARTITION BY user_id ORDER BY day) AS grp FROM d), "
        "s AS (SELECT user_id, grp, count(*) AS len FROM i GROUP BY user_id, grp) "
        "SELECT user_id, max(len) AS max_streak FROM s "
        "GROUP BY user_id ORDER BY user_id"
    ),
)
def win_streak(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern (day minus dense row_number is constant
    within an island). Integer day arithmetic (unix_micros / epoch_us
    div 86400e6) on both engines, no date-type or tz skew. Plan: one
    distinct shuffle on (user, day), one window sorted within the
    user partition, two map-side-combined aggs — the partition key
    (user) is high-cardinality, so nothing funnels at scale."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn("grp", F.col("day") - F.row_number().over(w))
    return (
        islands.groupBy("user_id", "grp")
        .agg(F.count("*").alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("max_streak"))
    )


SESSION_GAP_US = 21_600_000_000  # 6 h — sized to the fixture cadence
#   (~11 h mean inter-event gap per user) so sessions mix single- and
#   multi-event; the operator shape is gap-threshold-independent.


@register(
    "win_sessionize",
    oracle=(
        "WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, "
        "epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM events), "
        "s AS (SELECT user_id, t_us, CAST(SUM(CASE WHEN gap IS NULL OR gap > "
        f"{SESSION_GAP_US} THEN 1 ELSE 0 END) OVER "
        "(PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) "
        "AS session_id FROM g) "
        "SELECT user_id, session_id, COUNT(*) AS n_events, "
        "MIN(t_us) AS start_us, MAX(t_us) AS end_us, "
        "MAX(t_us) - MIN(t_us) AS duration_us "
        "FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"
    ),
)
def win_sessionize(spark, sf_dir):
    """Batch sessionization — the gap-threshold session assignment
    every event-log pipeline needs (the batch mirror of
    stream_session's session_window): a new session starts where the
    user's inter-event gap exceeds the threshold; the session id is
    the running count of such boundaries.

    Plan: ONE shuffle on user_id serves the lag window, the running
    sum (same window spec), and the (user_id, session_id) group
    aggregate — session_id refines user_id, so the groupBy reuses
    the window's partitioning; integer-microsecond arithmetic end to
    end (no float, no timezone surface)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros("ts")
    gap = t_us - F.lag(t_us).over(w)
    boundary = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    return (
        ev.withColumn("t_us", t_us)
        .withColumn("session_id", F.sum(boundary).over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("t_us").alias("start_us"),
            F.max("t_us").alias("end_us"),
            (F.max("t_us") - F.min("t_us")).alias("duration_us"),
        )
    )


INTERP_MASK_MOD = 7  # every 7th event's value is masked, then rebuilt


@register(
    "win_interpolate_linear",
    oracle=(
        "WITH m AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, "
        f"CASE WHEN event_id % {INTERP_MASK_MOD} = 0 THEN NULL ELSE value END AS v "
        "FROM events), "
        "ctx AS (SELECT event_id, user_id, t_us, v, "
        "last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t_us, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv, "
        "last_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY t_us, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt, "
        "first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t_us, event_id "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv, "
        "first_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY t_us, event_id "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt "
        "FROM m) "
        "SELECT event_id, user_id, (v IS NULL) AS was_masked, "
        "ROUND(CASE WHEN v IS NOT NULL THEN v "
        "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN "
        "pv + (nv - pv) * (t_us - pt) / (nt - pt) "
        "WHEN pv IS NOT NULL THEN pv ELSE nv END, 4) AS value_filled "
        "FROM ctx ORDER BY event_id"
    ),
)
def win_interpolate_linear(spark, sf_dir):
    """Linear gap interpolation over a per-user time series: every
    7th event's value is masked (the deterministic-corruption
    technique — the fixture has no nulls), then rebuilt from the
    time-weighted line between the nearest non-null neighbors
    (boundary gaps fall back to nearest-value). Two ordered window
    passes per user partition — both run in ONE exchange on user_id
    since they share partitioning and ordering; at 100 TB the state
    per task is O(1) (running last / pending first), the classic
    fill-forward shape. Timestamps compare in microseconds
    (unix_micros == DuckDB epoch_us) so the lerp arithmetic is
    bit-identical across engines."""
    ev = load(spark, sf_dir, "events")
    m = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.when(F.col("event_id") % INTERP_MASK_MOD == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    wb = w.rowsBetween(Window.unboundedPreceding, -1)
    wa = w.rowsBetween(1, Window.unboundedFollowing)
    vt = F.when(F.col("v").isNotNull(), F.col("t_us"))
    ctx = m.select(
        "event_id",
        "user_id",
        "t_us",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(vt, ignorenulls=True).over(wb).alias("pt"),
        F.first("v", ignorenulls=True).over(wa).alias("nv"),
        F.first(vt, ignorenulls=True).over(wa).alias("nt"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (F.col("t_us") - F.col("pt")) / (
        F.col("nt") - F.col("pt")
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), lerp)
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return ctx.select(
        "event_id",
        "user_id",
        F.col("v").isNull().alias("was_masked"),
        F.round(filled, 4).alias("value_filled"),
    )


EWMA_ALPHA = 0.5  # powers of 0.5 are exact binary doubles
EWMA_W = 8  # bounded horizon: last W observations


def _ewma_terms_duck() -> tuple[str, str]:
    """(numerator, denominator) lag-chain SQL for the oracle. The
    weights 0.5^k are exact in binary, so the literals are
    bit-identical across engines; the per-row tree (guarded lag
    terms summed left to right) mirrors the Spark column sum."""
    num, den = [], []
    for k in range(EWMA_W):
        w = EWMA_ALPHA**k
        lag = f"lag(value, {k}) OVER win"
        num.append(f"COALESCE({lag} * {w!r}, 0.0)")
        den.append(f"(CASE WHEN {lag} IS NOT NULL THEN {w!r} ELSE 0.0 END)")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM_DUCK, _EWMA_DEN_DUCK = _ewma_terms_duck()


@register(
    "win_ewma",
    oracle=(
        "SELECT event_id, user_id, "
        f"ROUND(({_EWMA_NUM_DUCK}) / ({_EWMA_DEN_DUCK}), 4) AS ewma "
        "FROM events "
        "WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) "
        "ORDER BY event_id"
    ),
)
def win_ewma(spark, sf_dir):
    """Bounded exponentially-weighted moving average per user time
    series: ewma_t = Σ α^k·v_{t-k} / Σ α^k over the last W=8
    observations (the truncated-horizon form every SQL engine can
    express — the infinite-horizon recurrence needs a recursive
    window no engine has). One exchange on user_id; all W lag terms
    share a single window frame, so the plan is one Window operator,
    not W. At 100 TB this is the standard smoothing pass over
    per-entity event streams (anomaly baselines, rate smoothing)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    num = sum(
        (
            F.coalesce(F.lag("value", k).over(w) * F.lit(EWMA_ALPHA**k), F.lit(0.0))
            for k in range(EWMA_W)
        ),
        F.lit(0.0),
    )
    den = sum(
        (
            F.when(F.lag("value", k).over(w).isNotNull(), F.lit(EWMA_ALPHA**k)).otherwise(
                F.lit(0.0)
            )
            for k in range(EWMA_W)
        ),
        F.lit(0.0),
    )
    return ev.select("event_id", "user_id", F.round(num / den, 4).alias("ewma"))


# --- rolling z-score anomaly flags ----------------------------------------

ZS_W = 16  # rolling baseline: the current row plus 15 predecessors
ZS_MIN_N = 8  # below this many observations the baseline is unstable
ZS_K = 3.0  # flag |value - mean| > K * stddev


@register(
    "win_zscore_anomaly",
    oracle=(
        "WITH q AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, "
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_m FROM events), "
        "s AS (SELECT event_id, user_id, v_m, "
        "SUM(v_m) OVER win AS s1, "
        "SUM(v_m * v_m) OVER win AS s2, "
        "COUNT(*) OVER win AS n FROM q "
        "WINDOW win AS (PARTITION BY user_id "
        "ORDER BY t_us, event_id "
        f"ROWS BETWEEN {ZS_W - 1} PRECEDING AND CURRENT ROW)) "
        "SELECT event_id, user_id, "
        "CAST(FLOOR((v_m * n - s1) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) "
        "AS dev_milli, "
        f"CAST(CASE WHEN n >= {ZS_MIN_N} AND "
        "(v_m * n - s1) * (v_m * n - s1) * (n - 1) > "
        f"{int(ZS_K * ZS_K)} * n * (n * s2 - s1 * s1) "
        "THEN 1 ELSE 0 END AS INTEGER) "
        "AS is_anomaly FROM s ORDER BY event_id"
    ),
)
def win_zscore_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detector over each user's event
    stream: a value is flagged when it sits more than K=3 rolling
    standard deviations from the rolling mean of its own trailing
    W=16-row baseline (the classic streaming-telemetry outlier
    rule). Rows with fewer than 8 baseline observations are never
    flagged — a 2-point "std" flags everything.

    Cross-engine determinism: the fixture's values sit on an exact
    milli grid, so a windowed mean lands EXACTLY on .5 quantization
    boundaries for ~3% of rows (sum/16 is exact binary) — a raw
    AVG/STDDEV formulation only hash-matches while both engines
    happen to share sum-then-divide arithmetic. Instead values
    quantize to integer milli-units first and everything — the
    deviation (v*n - S1) and the flag's cross-multiplied variance
    compare (dv^2*(n-1) > K^2*n*(n*S2 - S1^2)) — is EXACT bigint;
    the single output division is one correctly-rounded IEEE op.

    Plan: ONE exchange on user_id; S1/S2/count share a single
    window frame so Catalyst emits one Window operator. 100 TB:
    user_id is high-cardinality, so partitions stay small and the
    frame is O(W) memory per task — the standard per-entity anomaly
    pass on telemetry/lightcurve streams."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("v_m"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(-(ZS_W - 1), 0)
    )
    s1 = F.sum("v_m").over(w)
    s2 = F.sum(F.col("v_m") * F.col("v_m")).over(w)
    n = F.count(F.lit(1)).over(w)
    dv = F.col("v_m") * n - s1
    return ev.select(
        "event_id",
        "user_id",
        F.floor(dv / n.cast("double") + 0.5).cast("long").alias("dev_milli"),
        F.when(
            (n >= ZS_MIN_N)
            & (dv * dv * (n - 1) > int(ZS_K * ZS_K) * n * (n * s2 - s1 * s1)),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("is_anomaly"),
    )


# --- CUSUM drift statistic -------------------------------------------------


@register(
    "win_cusum_drift",
    oracle=(
        "WITH q AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, "
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_m FROM events), "
        "s AS (SELECT event_id, user_id, "
        "SUM(v_m) OVER (PARTITION BY user_id ORDER BY t_us, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_m, "
        "ROW_NUMBER() OVER (PARTITION BY user_id "
        "ORDER BY t_us, event_id) AS rn, "
        "SUM(v_m) OVER (PARTITION BY user_id) AS tot_m, "
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM q) "
        "SELECT event_id, user_id, "
        "CAST(FLOOR((run_m * n - rn * tot_m) / CAST(n AS DOUBLE) + 0.5) "
        "AS BIGINT) AS cusum_milli FROM s ORDER BY event_id"
    ),
)
def win_cusum_drift(spark, sf_dir):
    """CUSUM chart statistic per user series: the cumulative sum of
    deviations from the series mean, C_t = sum_{i<=t}(v_i - mean).
    A series whose level shifts mid-stream shows a persistent ramp
    in C_t — the textbook change-detection chart (Page 1954,
    public).

    Cross-engine determinism: values are quantized to integer
    milli-units FIRST (one identical IEEE expression per row), then
    C_t is assembled EXACTLY in bigint arithmetic as
    (run*n - rn*total)/n — summing raw doubles would accumulate
    float error in engine-specific order, and the first version of
    this op did flip quantization boundaries that way. The single
    final division is one correctly-rounded IEEE op on
    exactly-representable integers, identical in both engines.

    Plan: one exchange on user_id; the running sum, row number, and
    whole-partition totals all share that partitioning, so Catalyst
    runs them in one sorted pass (two Window operators, zero extra
    exchanges). 100 TB: same per-entity argument as win_ewma."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("v_m"),
    )
    ws = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    wp = Window.partitionBy("user_id")
    run_m = F.sum("v_m").over(ws.rowsBetween(Window.unboundedPreceding, 0))
    rn = F.row_number().over(ws)
    tot_m = F.sum("v_m").over(wp)
    n = F.count(F.lit(1)).over(wp)
    return ev.select(
        "event_id",
        "user_id",
        F.floor((run_m * n - rn * tot_m) / n.cast("double") + 0.5)
        .cast("long")
        .alias("cusum_milli"),
    )


# --- median absolute deviation -----------------------------------------------


@register(
    "win_mad_robust",
    oracle=(
        "WITH q AS (SELECT user_id, "
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_m FROM events), "
        "r AS (SELECT user_id, v_m, ROW_NUMBER() OVER "
        "(PARTITION BY user_id ORDER BY v_m) AS rn, "
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM q), "
        "med AS (SELECT user_id, v_m AS med_m FROM r "
        "WHERE rn = (n + 1) // 2), "
        "d AS (SELECT q.user_id, ABS(q.v_m - med.med_m) AS dev "
        "FROM q JOIN med USING (user_id)), "
        "r2 AS (SELECT user_id, dev, ROW_NUMBER() OVER "
        "(PARTITION BY user_id ORDER BY dev) AS rn, "
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM d) "
        "SELECT user_id, CAST(dev AS BIGINT) AS mad_milli FROM r2 "
        "WHERE rn = (n + 1) // 2 ORDER BY user_id"
    ),
)
def win_mad_robust(spark, sf_dir):
    """Median absolute deviation per user series — the robust scale
    estimator (breakdown point 50%, vs 0% for the standard
    deviation) that pairs with agg_theilsen_slope's robust location:
    MAD = median(|v - median(v)|), the dispersion measure variable-
    star pipelines quote when one bad epoch would wreck sigma.

    Both medians are LOWER medians (rank (n+1)//2) over values
    quantized to exact milli-integers first, so every comparison and
    both selections are pure integer — the same determinism recipe
    as win_cusum_drift. Plan: two rank windows and one join, all
    partitioned by user_id — a single exchange feeds every stage
    (Catalyst reuses the partitioning), and the join's right side is
    one row per user. 100 TB: per-entity windows, same argument as
    the rest of the family; for the corpus-wide MAD use the
    quantile-sketch path instead."""
    q = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("v_m"),
    )
    wp = Window.partitionBy("user_id")
    r = q.select(
        "user_id",
        "v_m",
        F.row_number().over(wp.orderBy("v_m")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "user_id", F.col("v_m").alias("med_m")
    )
    d = q.join(med, "user_id").select(
        "user_id", F.abs(F.col("v_m") - F.col("med_m")).alias("dev")
    )
    r2 = d.select(
        "user_id",
        "dev",
        F.row_number().over(wp.orderBy("dev")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return (
        r2.filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("user_id", F.col("dev").cast("long").alias("mad_milli"))
    )


# --- percent change ----------------------------------------------------------


@register(
    "win_pct_change",
    oracle=(
        "WITH q AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, "
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_m FROM events), "
        "s AS (SELECT event_id, user_id, v_m, "
        "LAG(v_m) OVER (PARTITION BY user_id ORDER BY t_us, event_id) "
        "AS pv FROM q) "
        "SELECT event_id, user_id, "
        "CAST(CASE WHEN pv IS NULL OR pv = 0 THEN NULL "
        "ELSE FLOOR((v_m - pv) * 10000.0 / pv + 0.5) END AS BIGINT) "
        "AS pct_x1e4 FROM s ORDER BY event_id"
    ),
)
def win_pct_change(spark, sf_dir):
    """Percent change vs the previous observation per user series —
    the return/growth-rate kernel. Values quantize to exact milli
    integers first (the round-7 milli-grid recipe), so the only
    float op is ONE division of exact bigints per row
    (correctly-rounded, identical both engines); a zero or missing
    predecessor yields NULL rather than a divide explosion.

    Plan: one exchange on user_id, one lag window. 100 TB:
    per-entity, same as win_lag_lead."""
    q = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("v_m"),
    )
    pv = F.lag("v_m").over(
        Window.partitionBy("user_id").orderBy("t_us", "event_id")
    )
    s = q.select("event_id", "user_id", "v_m", pv.alias("pv"))
    return s.select(
        "event_id",
        "user_id",
        F.when(
            F.col("pv").isNull() | (F.col("pv") == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(
            F.floor(
                (F.col("v_m") - F.col("pv")) * 10000.0 / F.col("pv") + 0.5
            ).cast("long")
        )
        .alias("pct_x1e4"),
    )
