"""§2.B projection / filter — LSD WHERE is a vectorized numpy boolean
expression over cell blocks [lsd:src/lsd/query_parser.py — UNVERIFIED];
here every predicate is a Catalyst expression (whole-stage codegen,
pushed to the Parquet scan where possible).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import register

# Per-row float rounding that is bit-identical across engines: both
# sides evaluate FLOOR(x*100 + 0.5)/100 in IEEE double. Spark's own
# ROUND (BigDecimal-on-repr, HALF_UP) and DuckDB's (scaled nearbyint)
# can disagree on values whose decimal repr ends in ...5 — avoid the
# pair entirely for per-row outputs (SURVEY.md §7 risk 1).
def r2(col):
    return (F.floor(col * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).cast("double")


R2_SQL = "CAST(FLOOR(({x}) * 100.0 + 0.5) / 100.0 AS DOUBLE)"


@register(
    "project_expr",
    oracle=(
        "SELECT l_orderkey, "
        + R2_SQL.format(x="l_extendedprice * (1 - l_discount) * (1 + l_tax)")
        + " AS charge FROM lineitem WHERE l_linenumber = 1"
    ),
)
def project_expr(spark, sf_dir):
    """SELECT list of arbitrary vectorized expressions with aliases."""
    li = load(spark, sf_dir, "lineitem")
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", r2(charge).alias("charge")
    )


@register(
    "filter_simple",
    oracle=(
        "SELECT count(*) AS cnt FROM orders "
        "WHERE o_totalprice > 150000 AND o_orderstatus = 'O'"
    ),
)
def filter_simple(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.filter((F.col("o_totalprice") > 150000) & (F.col("o_orderstatus") == "O")).agg(
        F.count("*").alias("cnt")
    )


@register(
    "filter_compound",
    oracle=(
        "SELECT count(*) AS cnt FROM orders "
        "WHERE o_orderpriority IN ('1-URGENT','2-HIGH') OR o_totalprice < 1000"
    ),
)
def filter_compound(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") | (F.col("o_totalprice") < 1000)
    ).agg(F.count("*").alias("cnt"))


@register(
    "filter_null",
    oracle="SELECT count(*) AS cnt FROM events WHERE value IS NOT NULL",
)
def filter_null(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("value").isNotNull()).agg(F.count("*").alias("cnt"))


@register(
    "filter_between_range",
    oracle=(
        "SELECT event_type, count(*) AS cnt FROM events "
        "WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' "
        "AND TIMESTAMP '2024-01-10 00:00:00' "
        "GROUP BY event_type ORDER BY event_type"
    ),
)
def filter_between_range(spark, sf_dir):
    """MJD-window analog: range predicate on the detection stream."""
    ev = load(spark, sf_dir, "events")
    lo = F.lit("2024-01-05 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-10 00:00:00").cast("timestamp")
    return (
        ev.filter(F.col("ts").between(lo, hi))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "filter_scalar_subquery",
    oracle=(
        "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders "
        "WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders) "
        "ORDER BY o_orderkey"
    ),
)
def filter_scalar_subquery(spark, sf_dir):
    """Scalar-subquery predicate: rows above 1.5x the table mean.
    Catalyst computes the scalar once (one-row subquery broadcast
    into the filter) — at 100 TB that's one agg pass + one map-side
    filter pass, never a per-row re-evaluation."""
    from lsd_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders "
        "WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)"
    )
