"""§2.C joins — LSD's repertoire is equi-joins through pre-computed
xmatch tables, an `(outer)` modifier, and nearest-neighbor-within-
radius spatial matching [lsd:src/lsd/join_ops.py, lsd-xmatch —
UNVERIFIED]. Spark supplies the full join zoo natively; the spatial/
nearest ops are expressed with the **zones technique** (SURVEY.md
§2.C design note): derive a bucket column, equi-join on bucket (so it
stays a shuffle/broadcast HASH join, never a cross product), refine
with the true predicate, then rank. That is LSD's cell + margin-cache
strategy re-expressed as a query shape — no custom Catalyst rule.

Scale notes (100 TB):
- dimension joins (nation, region) are broadcast — zero shuffle.
- fact-fact joins shuffle on the equi key; pre-bucketed layouts
  (sources/io_ops.sink_into writes partitioned/bucketed parquet)
  make them co-located.
- band joins keep an equality conjunct (user_id) so Spark picks
  SortMergeJoin/ShuffledHashJoin with a residual filter, never BNLJ.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import register


@register(
    "join_inner_hash",
    oracle=(
        "SELECT o_orderstatus, count(*) AS cnt FROM orders "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
)
def join_inner_hash(spark, sf_dir):
    """Object↔detection equi join (LSD's implicit _ID join)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "join_left_outer",
    oracle=(
        "SELECT count(*) AS cnt FROM customer LEFT JOIN orders "
        "ON c_custkey = o_custkey WHERE o_orderkey IS NULL"
    ),
)
def join_left_outer(spark, sf_dir):
    """LSD's `(outer)` table modifier: keep unmatched left rows."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .filter(F.col("o_orderkey").isNull())
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "join_multiway",
    oracle=(
        "SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name"
    ),
)
def join_multiway(spark, sf_dir):
    """Flagship 5-way join (TPC-H-Q5 style), planned for scale:

    - build the selective dimension chain first (region['ASIA'] ->
      nation -> customer) and BROADCAST it: the region filter prunes
      ~4/5 of customers before they ever meet a fact row;
    - join facts once on their natural key (orders ⋈ lineitem on
      orderkey) — a single shuffle; the naive c⋈o⋈li order would
      shuffle orders twice (custkey then orderkey);
    - the final agg groups 25 nations: map-side combine makes the
      post-join shuffle negligible.
    At 100 TB the same shape holds: dims stay broadcastable, the one
    fact-fact shuffle is unavoidable (or zero if both facts are
    bucketed by orderkey at write time — see sources/io_ops)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "join_semi",
    oracle=(
        "SELECT c_custkey FROM customer WHERE EXISTS ("
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_orderpriority = '1-URGENT')"
    ),
)
def join_semi(spark, sf_dir):
    """Footprint-membership filtering: customers with ≥1 urgent order.
    left_semi never duplicates or widens the left side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@register(
    "join_anti",
    oracle=(
        "SELECT p_partkey FROM part WHERE NOT EXISTS ("
        "SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"
    ),
)
def join_anti(spark, sf_dir):
    """Negated membership: parts never shipped."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey")


@register(
    "join_broadcast",
    oracle=(
        "SELECT n_name FROM nation JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'EUROPE' ORDER BY n_name"
    ),
)
def join_broadcast(spark, sf_dir):
    """Small-dim join: explicit broadcast (LSD: per-cell dict lookup).
    Zero shuffle — the 100 TB fact side never moves."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name")
    )


@register(
    "join_theta_range",
    oracle=(
        "SELECT count(*) AS cnt FROM events e1 JOIN events e2 "
        "ON e1.user_id = e2.user_id AND e2.ts > e1.ts "
        "AND e2.ts <= e1.ts + INTERVAL 5 MINUTE "
        "AND e1.event_id <> e2.event_id"
    ),
)
def join_theta_range(spark, sf_dir):
    """Temporal band join. The user_id equality conjunct keeps this a
    hash/sort-merge join with the ts-band as a residual predicate —
    the zones technique degenerate case (partition key = zone)."""
    ev = load(spark, sf_dir, "events")
    e1 = ev.alias("e1")
    e2 = ev.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 5 MINUTES"))
        & (F.col("e1.event_id") != F.col("e2.event_id"))
    )
    return e1.join(e2, cond, "inner").agg(F.count("*").alias("cnt"))


@register(
    "join_asof_nearest",
    oracle=(
        "SELECT purchase_id, click_id FROM ("
        "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
        "ROW_NUMBER() OVER (PARTITION BY p.event_id "
        "ORDER BY c.ts DESC, c.event_id DESC) AS rn "
        "FROM events p JOIN events c ON p.user_id = c.user_id "
        "AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR "
        "WHERE p.event_type = 'purchase' AND c.event_type = 'click') "
        "WHERE rn = 1"
    ),
)
def join_asof_nearest(spark, sf_dir):
    """LSD's signature xmatch(nmax=1) semantics: for each left row the
    single nearest match within a radius. Here: for each purchase, the
    latest prior click by the same user within 1 hour. Shape = band
    join (equi on user_id + time-band residual) then a window rank —
    exactly how lsd-xmatch's cell+margin matching re-expresses in
    Spark (SURVEY.md §3.3). Ties broken by event_id."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") < F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
    )
    w = Window.partitionBy(F.col("p.event_id")).orderBy(
        F.col("c.ts").desc(), F.col("c.event_id").desc()
    )
    return (
        p.join(c, cond, "inner")
        .select(
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.event_id").alias("click_id"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("purchase_id", "click_id")
    )


# Cross-engine-deterministic cosine similarity: cast float32 -> double
# elementwise, sequential fold (both engines sum left-to-right), then
# rank on the ROUNDED value with an id tiebreak so ordering never
# depends on sub-ulp differences.
COS_SPARK = (
    "AGGREGATE(ZIP_WITH({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v) / "
    "(SQRT(AGGREGATE({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) * "
    "SQRT(AGGREGATE({b}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
)
COS_DUCK = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(SQRT(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "SQRT(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)

# Factored pieces of COS_SPARK for hot candidate-refine paths: the
# per-vector norm is computed ONCE per vector and joined through,
# instead of twice per candidate pair — higher-order array functions
# are interpreted (never whole-stage codegen'd), so cutting the
# per-pair HOF count from 3 aggregates to 1 is a direct ~3x on the
# refine kernel. BIT-IDENTICAL to COS_SPARK: the same subexpressions
# produce the same doubles, and the division keeps the exact
# dot / (norm_a * norm_b) association.
DOT_SPARK = (
    "AGGREGATE(ZIP_WITH({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
NORM_SPARK = (
    "SQRT(AGGREGATE({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
)


@register(
    "join_xmatch_radius_knn",
    oracle=(
        "SELECT vec_id, neighbor_id, sim FROM ("
        "SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, "
        "ROUND(" + COS_DUCK.format(a="a.embedding", b="b.embedding") + ", 6) AS sim, "
        "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
        "ROUND(" + COS_DUCK.format(a="a.embedding", b="b.embedding") + ", 6) DESC, "
        "b.vec_id ASC) AS rn "
        "FROM embeddings a JOIN embeddings b "
        "ON a.label = b.label AND a.vec_id <> b.vec_id "
        "WHERE a.vec_id < 20) WHERE rn <= 3"
    ),
)
def join_xmatch_radius_knn(spark, sf_dir):
    """lsd-xmatch with nmax=k over real vectors: top-3 cosine
    neighbors among same-label peers for the first 20 vectors. The
    label equi-key is the 'zone': the join is hash-partitioned by
    label, never a cross product. At 100 TB the zone key becomes an
    LSH/IVF bucket (see llm/simsearch.py knn_ivf)."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < 20).alias("a")
    b = emb.alias("b")
    sim = F.round(
        F.expr(COS_SPARK.format(a="a.embedding", b="b.embedding")), 6
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
            "inner",
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("vec_id", "neighbor_id", "sim")
    )


@register(
    "join_cross",
    oracle="SELECT count(*) AS cnt FROM region CROSS JOIN nation",
)
def join_cross(spark, sf_dir):
    """Explicit Cartesian product (building block only; every scale
    operator in this engine prunes with a bucket equi-key first)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).agg(F.count("*").alias("cnt"))


@register(
    "join_full_outer",
    oracle=(
        "SELECT c.c_custkey, o.o_orderkey FROM "
        "(SELECT * FROM customer WHERE c_acctbal > 5000) c "
        "FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o "
        "ON c.c_custkey = o.o_custkey"
    ),
)
def join_full_outer(spark, sf_dir):
    """FULL OUTER: both inputs filtered so both null sides are
    populated (high-balance customers without big orders, big orders
    from low-balance customers). Shuffle hash/merge join on the key;
    full-outer can't broadcast either side, so at 100 TB this is the
    one join type that always pays the two-sided shuffle — bucketed
    layout (sink_bucketed) removes it."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "o_orderkey"
    )


INTERVAL_ZONE_US = 1_800_000_000  # 30 min >= the max interval length


@register(
    "join_interval_overlap",
    oracle=(
        "WITH p AS (SELECT event_id AS l_id, epoch_us(ts) AS ls, "
        "epoch_us(ts) + (5 + event_id % 25) * 60000000 AS le "
        "FROM events WHERE event_type = 'purchase'), "
        "c AS (SELECT event_id AS r_id, epoch_us(ts) AS rs, "
        "epoch_us(ts) + (5 + event_id % 25) * 60000000 AS re "
        "FROM events WHERE event_type = 'click') "
        "SELECT l_id, count(*) AS n_overlaps FROM p JOIN c "
        "ON ls < re AND rs < le GROUP BY l_id ORDER BY l_id"
    ),
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join via the zones technique: every interval
    (5-29 min, derived from event_id) explodes to the 30-min zones it
    touches (<=2), candidates meet in a zone equi-join, pair dedup,
    exact overlap refine, per-left count. The classic range-join that
    would otherwise be an O(n^2) theta join; zone width >= max
    interval length caps the fan-out at 2 — at 100 TB both sides are
    zone-partitioned on disk and the join is partition-local."""
    ev = load(spark, sf_dir, "events")
    dur_us = (5 + F.col("event_id") % 25) * 60_000_000

    def intervals(etype, id_alias, s_alias, e_alias):
        return ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(id_alias),
            F.unix_micros("ts").alias(s_alias),
            (F.unix_micros("ts") + dur_us).alias(e_alias),
        )

    p = intervals("purchase", "l_id", "ls", "le").withColumn(
        "zone",
        F.explode(
            F.sequence(
                F.expr(f"ls div {INTERVAL_ZONE_US}"), F.expr(f"le div {INTERVAL_ZONE_US}")
            )
        ),
    )
    c = intervals("click", "r_id", "rs", "re").withColumn(
        "zone",
        F.explode(
            F.sequence(
                F.expr(f"rs div {INTERVAL_ZONE_US}"), F.expr(f"re div {INTERVAL_ZONE_US}")
            )
        ),
    )
    return (
        p.join(c, "zone")
        .dropDuplicates(["l_id", "r_id"])
        .filter((F.col("ls") < F.col("re")) & (F.col("rs") < F.col("le")))
        .groupBy("l_id")
        .agg(F.count("*").alias("n_overlaps"))
    )


# --- Bloom-filter semi-join pruning --------------------------------------

_BLOOM_M = 4096  # bit-array size; k = 3 md5-derived hash functions
_BLOOM_PRICE = 490_000.0  # selective build-side predicate

# one md5-derived bit position per (key, hash index) — identical text
# on both engines modulo the hex-literal spelling
_BIT_SPARK = (
    "CAST(conv(substr(md5(concat(CAST({key} AS STRING), 'b{i}')), 1, 15), 16, 10) "
    f"AS BIGINT) % {_BLOOM_M}"
)
_BIT_DUCK = (
    "('0x' || substring(md5(CAST({key} AS VARCHAR) || 'b{i}'), 1, 15))::BIGINT "
    f"% {_BLOOM_M}"
)


def _bloom_union_duck(src: str, key: str) -> str:
    """UNION of the k=3 per-hash bit projections of `src`."""
    return " UNION ".join(
        f"SELECT {i} AS i, {_BIT_DUCK.format(key=key, i=i)} AS bit FROM {src}"
        for i in range(3)
    )


@register(
    "join_bloom_prune",
    oracle=(
        "WITH build AS (SELECT DISTINCT o_custkey FROM orders "
        f"WHERE o_totalprice > {_BLOOM_PRICE}), "
        f"bits AS (SELECT DISTINCT bit FROM ({_bloom_union_duck('build', 'o_custkey')})), "
        "probe AS (SELECT c_custkey, i, "
        "bit FROM (SELECT c_custkey FROM customer) c CROSS JOIN LATERAL ("
        f"SELECT 0 AS i, {_BIT_DUCK.format(key='c_custkey', i=0)} AS bit "
        f"UNION SELECT 1, {_BIT_DUCK.format(key='c_custkey', i=1)} "
        f"UNION SELECT 2, {_BIT_DUCK.format(key='c_custkey', i=2)}) h), "
        "pass AS (SELECT c_custkey FROM probe JOIN bits USING (bit) "
        "GROUP BY c_custkey HAVING COUNT(DISTINCT i) = 3) "
        "SELECT p.c_custkey, "
        "CAST(CASE WHEN b.o_custkey IS NULL THEN 0 ELSE 1 END AS INT) AS in_build "
        "FROM pass p LEFT JOIN build b ON p.c_custkey = b.o_custkey "
        "ORDER BY p.c_custkey"
    ),
)
def join_bloom_prune(spark, sf_dir):
    """Bloom-filter semi-join pruning — THE technique for shrinking a
    100 TB probe side before an expensive join: hash the (small)
    build side's keys into an m-bit filter with k hash functions,
    ship only the filter, and drop every probe row whose k bits are
    not all set. Spark's runtime-filter feature does exactly this
    under AQE (spark.sql.optimizer.runtime.bloomFilter.enabled);
    this operator is the technique spelled out declaratively — with
    DETERMINISTIC md5-derived hash positions, so the filter's exact
    false-positive set is reproducible cross-engine and the oracle
    is a full hash-match (Spark's builtin BloomFilterAggregate
    hashes with xxhash, which no other engine reproduces).

    Plan: build-side bits = distinct (i, bit) projection, <= m rows
    by construction -> BROADCAST to the probe's 3-bit explode; a
    probe key passes iff all k=3 hash indexes matched
    (COUNT(DISTINCT i) = 3 — counting i, not bit, so two of a key's
    hashes colliding into one bit cannot under-count). `in_build`
    labels the survivors: 0-rows are the filter's false positives
    (visible at fixture scale: m=4096 is sized to the sf0.01 build
    set; production sizes m from expectedNumItems the way Spark's
    BloomFilterImpl does, keeping fpp fixed as n grows).

    100 TB: the broadcast is <= m bits regardless of corpus size;
    the probe side is filtered BEFORE any shuffle (map-side explode
    + broadcast hash join + partial count), so the join that
    follows moves only passing keys. No corpus-sized collect, no
    two-sided shuffle."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    build = (
        orders.filter(F.col("o_totalprice") > _BLOOM_PRICE)
        .select("o_custkey")
        .distinct()
    )
    bit_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.expr(_BIT_SPARK.format(key="o_custkey", i=i)).alias("bit"),
            )
            for i in range(3)
        ]
    )
    bits = (
        build.select(F.explode(bit_structs).alias("h"))
        .select(F.col("h.bit").alias("bit"))
        .distinct()
    )
    probe_bits = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.expr(_BIT_SPARK.format(key="c_custkey", i=i)).alias("bit"),
            )
            for i in range(3)
        ]
    )
    probe = cust.select(
        "c_custkey", F.explode(probe_bits).alias("h")
    ).select("c_custkey", F.col("h.i").alias("i"), F.col("h.bit").alias("bit"))
    passed = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("c_custkey")
        .agg(F.countDistinct("i").alias("k_hit"))
        .filter(F.col("k_hit") == 3)
        .select("c_custkey")
    )
    return (
        passed.join(
            F.broadcast(build.withColumnRenamed("o_custkey", "c_custkey")
                        .withColumn("in_build", F.lit(1))),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            F.coalesce(F.col("in_build"), F.lit(0)).cast("int").alias("in_build"),
        )
    )


@register(
    "join_lateral_topn",
    oracle=(
        "SELECT n_name, c_name, "
        "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents "
        "FROM nation, LATERAL ("
        "SELECT c_name, c_acctbal FROM customer "
        "WHERE c_nationkey = n_nationkey "
        "ORDER BY c_acctbal DESC, c_name LIMIT 2) c "
        "ORDER BY n_name, bal_cents DESC, c_name"
    ),
)
def join_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery — top-2 customers per nation
    written the way SQL users write it (a per-row subquery with
    ORDER BY/LIMIT), exercised through Catalyst's
    DecorrelateInnerQuery: the optimizer rewrites the correlated
    limit into the same partitioned-rank shape win_row_number
    builds by hand, so the declared form and the window form share
    a physical plan family. Identical LATERAL text runs in DuckDB.

    100 TB: after decorrelation this is one shuffle on the
    correlation key + a rank filter — no per-row subquery execution
    survives; the win over a naive engine is exactly what 'let
    Catalyst optimize' means."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("lsd_lat_nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "lsd_lat_customer"
    )
    return spark.sql(
        "SELECT n_name, c_name, "
        "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents "
        "FROM lsd_lat_nation, LATERAL ("
        "SELECT c_name, c_acctbal FROM lsd_lat_customer "
        "WHERE c_nationkey = n_nationkey "
        "ORDER BY c_acctbal DESC, c_name LIMIT 2) c"
    )
