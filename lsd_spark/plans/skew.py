"""Skew-aware joins: key salting (SURVEY.md §7 risk 6).

A shuffled join hashes rows by key; one hot key (the celebrity user,
the empty-string token, the null-ish sentinel) lands an entire 100 TB
partition on one task. AQE's skew-join splitting
(`spark.sql.adaptive.skewJoin.enabled`, on in our session defaults)
handles this at runtime for sort-merge joins; `salted_join` is the
explicit plan-level variant for when the skew is known and AQE can't
see it (e.g. a broadcast-ineligible dimension joined from a
streaming micro-batch, where AQE doesn't replan).

Shape: fact rows scatter across SALT sub-keys deterministically
(hash of the whole row, not rand() — reruns must produce identical
plans for the oracle); the dimension side replicates SALT times.
Join on (key, salt) — the hot key's rows now spread over SALT tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.functions import array_sql
from lsd_spark.registry import register

SALT = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt: int = SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join fact⋈dim on fact_key=dim_key with the fact side
    salted across `salt` sub-partitions. Result columns = fact.* +
    dim.* (minus the helper columns); row multiset identical to the
    unsalted join."""
    f = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt))
    )
    d = dim.withColumn("_salt", F.explode(F.expr(array_sql(range(salt)))))
    out = f.join(d, (F.col(fact_key) == F.col(dim_key)) & (f._salt == d._salt), how)
    return out.drop("_salt")


@register(
    "join_skew_salted",
    oracle=(
        "SELECT o_orderstatus, count(*) AS cnt, "
        "FLOOR(SUM(l_quantity) * 100 + 0.5) / 100 AS sq "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
)
def join_skew_salted(spark, sf_dir):
    """lineitem⋈orders computed through the salted plan; the oracle
    is the PLAIN join — salting must be invisible in the result."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            (F.floor(F.sum("l_quantity") * 100 + 0.5) / 100).alias("sq"),
        )
    )
