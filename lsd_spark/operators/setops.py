"""§2.G set operations — row-level analog of LSD's footprint algebra
(union/intersection of sky regions [lsd:src/lsd/bounds.py —
UNVERIFIED]). Spark set ops are hash-based distinct shuffles; at
100 TB prefer pre-partitioned inputs on the compared key so the
distinct is co-located.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import register


@register(
    "set_union_all",
    oracle=(
        "SELECT o_custkey AS k FROM orders "
        "UNION ALL SELECT s_suppkey AS k FROM supplier"
    ),
)
def set_union_all(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    return o.unionByName(s)


@register(
    "set_union_distinct",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "UNION SELECT s_nationkey AS k FROM supplier ORDER BY k"
    ),
)
def set_union_distinct(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.unionByName(s).distinct()


@register(
    "set_intersect",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k"
    ),
)
def set_intersect(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s)


@register(
    "set_except",
    oracle=(
        "SELECT c_nationkey AS k FROM customer "
        "EXCEPT SELECT s_nationkey AS k FROM supplier ORDER BY k"
    ),
)
def set_except(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.subtract(s)  # subtract == SQL EXCEPT (distinct)


@register(
    "set_except_all",
    oracle=(
        "SELECT c AS custkey FROM ("
        "SELECT o_custkey AS c FROM orders "
        "EXCEPT ALL "
        "SELECT DISTINCT c_custkey AS c FROM customer) t ORDER BY custkey"
    ),
)
def set_except_all(spark, sf_dir):
    """Multiset EXCEPT ALL: each customer's first order is cancelled
    by their catalog row, repeat orders survive with multiplicity —
    the bag-semantics complement (set_except is the set version)."""
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey")).distinct()
    return o.exceptAll(c)


@register(
    "set_intersect_all",
    oracle=(
        "SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F' "
        "INTERSECT ALL "
        "SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O' "
        "ORDER BY o_orderpriority"
    ),
)
def set_intersect_all(spark, sf_dir):
    """Multiset INTERSECT ALL (bag semantics — min of the two
    multiplicities), completing the set-op family next to
    set_except_all."""
    o = load(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    op_ = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.intersectAll(op_)


@register(
    "set_symmetric_diff",
    oracle=(
        "WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders "
        "WHERE year(o_orderdate) = 1994), "
        "b AS (SELECT DISTINCT o_custkey AS k FROM orders "
        "WHERE year(o_orderdate) = 1995) "
        "SELECT k, 'a_only' AS side FROM a WHERE k NOT IN (SELECT k FROM b) "
        "UNION ALL "
        "SELECT k, 'b_only' AS side FROM b WHERE k NOT IN (SELECT k FROM a) "
        "ORDER BY k, side"
    ),
)
def set_symmetric_diff(spark, sf_dir):
    """Symmetric difference with provenance: customers active in
    exactly one of two years, tagged with WHICH side they came from
    — the churn/new-cohort split (A-only = churned, B-only =
    acquired) that a plain EXCEPT throws away. Completes the set-op
    family (union/intersect/except all have ops already).

    Round 8: ONE presence-flag aggregate instead of two anti joins
    (the snapshot_diff decomposition): filter to the two years in
    one pruned scan, group by key with per-side presence maxes, keep
    keys present on exactly one side. Identical output; the old
    two-anti-join form scanned orders 4x and shuffled 4 times (two
    distincts + two joins), this is 1 scan + 1 shuffle. 100 TB: the
    combined year predicate still pushes to the scan; the aggregate
    is map-side combined on the key."""
    o = load(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    flags = (
        o.filter(y.isin(1994, 1995))
        .select(
            F.col("o_custkey").alias("k"),
            F.when(y == 1994, 1).otherwise(0).alias("a"),
            F.when(y == 1995, 1).otherwise(0).alias("b"),
        )
        .groupBy("k")
        .agg(F.max("a").alias("f_a"), F.max("b").alias("f_b"))
    )
    return (
        flags.filter(F.col("f_a") != F.col("f_b"))
        .select(
            "k",
            F.when(F.col("f_a") == 1, F.lit("a_only"))
            .otherwise(F.lit("b_only"))
            .alias("side"),
        )
    )
