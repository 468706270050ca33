"""§2.H scalar function surface — LSD exposes numpy + registered
helpers inside query expressions (equgal, ffitskw, ...)
[lsd:src/lsd/query_parser.py function namespace — UNVERIFIED]. The
generic engine surface is Catalyst built-ins (JVM-side, codegen'd):
string, date, math, conditional, cast, array (LSD fixed-width
subarray columns), and JSON/map access (LSD's FITS-header blob
lookup analog). No Python in any of these paths.

Cross-engine parity notes baked into each oracle:
- int widths: Spark length/size/year -> INT; DuckDB -> BIGINT; the
  oracle casts to INTEGER to match.
- cast double->int: Spark truncates (ANSI off), DuckDB rounds — use
  FLOOR explicitly on both sides instead (fn_cast).
- element-wise float32 -> double casts before any arithmetic so both
  engines fold identical doubles (fn_array).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import register


@register(
    "fn_string",
    oracle=(
        "SELECT c_custkey, LOWER(c_name) AS nm_lower, "
        "CAST(LENGTH(c_name) AS INTEGER) AS ln, "
        "CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS INTEGER) AS suffix_num, "
        "CONCAT(TRIM(c_mktsegment), '_', SUBSTRING(c_name, 1, 8)) AS tag "
        "FROM customer WHERE c_name LIKE '%Customer%1%'"
    ),
)
def fn_string(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").like("%Customer%1%")).select(
        "c_custkey",
        F.lower("c_name").alias("nm_lower"),
        F.length("c_name").alias("ln"),
        F.regexp_extract("c_name", "([0-9]+)$", 1).cast("int").alias("suffix_num"),
        F.concat(F.trim(F.col("c_mktsegment")), F.lit("_"), F.substring("c_name", 1, 8)).alias(
            "tag"
        ),
    )


@register(
    "fn_string_split",
    oracle=(
        "SELECT string_split(p_type, ' ')[1] AS tok, count(*) AS cnt "
        "FROM part GROUP BY tok ORDER BY tok"
    ),
)
def fn_string_split(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return (
        p.select(F.split("p_type", " ").getItem(0).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "fn_date",
    oracle=(
        "SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS y, "
        "CAST(MONTH(o_orderdate) AS INTEGER) AS m, count(*) AS cnt, "
        "CAST(MIN(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS INTEGER) AS min_days "
        "FROM orders GROUP BY y, m ORDER BY y, m"
    ),
)
def fn_date(spark, sf_dir):
    """Epoch/month bucketing — the time-slice half of LSD's cell key."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")))
            .cast("int")
            .alias("min_days"),
        )
    )


@register(
    "fn_math",
    oracle=(
        "SELECT o_orderstatus, ROUND(AVG(LN(o_totalprice)), 6) AS avg_ln, "
        "ROUND(SUM(SQRT(o_totalprice)), 2) AS sum_sqrt, "
        "ROUND(MAX(ABS(o_totalprice)), 2) AS max_abs, "
        "CAST(SUM(o_orderkey % 7) AS BIGINT) AS mod_sum, "
        "count(*) AS cnt FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
)
def fn_math(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.avg(F.log(F.col("o_totalprice"))), 6).alias("avg_ln"),
            F.round(F.sum(F.sqrt(F.col("o_totalprice"))), 2).alias("sum_sqrt"),
            F.round(F.max(F.abs(F.col("o_totalprice"))), 2).alias("max_abs"),
            F.sum(F.col("o_orderkey") % 7).cast("long").alias("mod_sum"),
            F.count("*").alias("cnt"),
        )
    )


@register(
    "fn_conditional",
    oracle=(
        "SELECT CASE WHEN o_totalprice < 50000 THEN 'low' "
        "WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band, "
        "COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open, "
        "count(*) AS cnt FROM orders GROUP BY band, status_or_open "
        "ORDER BY band, status_or_open"
    ),
)
def fn_conditional(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    soo = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open"))
    return (
        o.groupBy(band.alias("band"), soo.alias("status_or_open"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "fn_cast",
    oracle=(
        "SELECT CAST(FLOOR(l_quantity) AS INTEGER) AS qi, count(*) AS cnt, "
        "strftime(MIN(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS mn_date, "
        "strftime(MAX(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS mx_date "
        "FROM lineitem GROUP BY qi ORDER BY qi"
    ),
)
def fn_cast(spark, sf_dir):
    """Dtype casts (LSD numpy astype). double->int via FLOOR on both
    sides (Spark's bare cast truncates while DuckDB's rounds); DATE
    results serialized to ISO strings — pandas bridges render Spark
    dates as date objects but DuckDB dates as midnight timestamps."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.floor("l_quantity").cast("int").alias("qi"))
        .agg(
            F.count("*").alias("cnt"),
            F.date_format(F.min(F.col("l_shipdate").cast("date")), "yyyy-MM-dd").alias("mn_date"),
            F.date_format(F.max(F.col("l_shipdate").cast("date")), "yyyy-MM-dd").alias("mx_date"),
        )
    )


# Sequential double fold over a float32 list — identical on both
# engines because every element is cast to double BEFORE summing.
_SUM_SPARK = "AGGREGATE({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE))"
_SUM_DUCK = "list_sum(CAST({a} AS DOUBLE[]))"


@register(
    "fn_array",
    oracle=(
        "SELECT label, count(*) AS cnt, "
        "CAST(MIN(len(embedding)) AS INTEGER) AS min_sz, "
        "ROUND(AVG(" + _SUM_DUCK.format(a="embedding") + "), 4) AS avg_vec_sum, "
        "ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS avg_first "
        "FROM embeddings GROUP BY label ORDER BY label"
    ),
)
def fn_array(spark, sf_dir):
    """LSD fixed-width array columns (per-epoch mags f4[5]) →
    ArrayType(Float): size / element access / higher-order fold."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.size("embedding").alias("sz"),
            F.expr(_SUM_SPARK.format(a="embedding")).alias("vec_sum"),
            F.element_at("embedding", 1).cast("double").alias("first_el"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("cnt"),
            F.min("sz").alias("min_sz"),
            F.round(F.avg("vec_sum"), 4).alias("avg_vec_sum"),
            F.round(F.avg("first_el"), 6).alias("avg_first"),
        )
    )


@register(
    "fn_array_explode",
    oracle=(
        "SELECT vec_id, p.pos AS pos, "
        "ROUND(CAST(embedding[p.pos + 1] AS DOUBLE), 6) AS val "
        "FROM embeddings, (VALUES (0), (1), (2), (3)) p(pos) "
        "WHERE vec_id < 10 ORDER BY vec_id, pos"
    ),
)
def fn_array_explode(spark, sf_dir):
    """Array -> rows (UDTF-ish): posexplode of the first 4 dims."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < 10)
        .select("vec_id", F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "v"))
        .select("vec_id", "pos", F.round(F.col("v").cast("double"), 6).alias("val"))
    )


@register(
    "fn_json",
    oracle=(
        "SELECT event_type, count(*) AS cnt, "
        "ROUND(AVG(CAST(props ->> 'k' AS INTEGER)), 4) AS avg_k, "
        "CAST(MAX(CAST(props ->> 'k' AS INTEGER)) AS INTEGER) AS max_k "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
)
def fn_json(spark, sf_dir):
    """Semi-structured access — LSD's FITS-keyword blob lookup analog
    [lsd:ffitskw — UNVERIFIED]: JSON path extraction, JVM-side."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
    )


@register(
    "fn_map",
    oracle=(
        "SELECT event_type, "
        "ROUND(SUM(CAST(props ->> 'k' AS INTEGER) * value), 2) AS weighted "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
)
def fn_map(spark, sf_dir):
    """MapType access: parse props into map<string,int> then key it."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        ev.select("event_type", (m.getItem("k") * F.col("value")).alias("kv"))
        .groupBy("event_type")
        .agg(F.round(F.sum("kv"), 2).alias("weighted"))
    )


@register(
    "fn_bitwise",
    oracle=(
        "SELECT (o_orderkey & 7) AS bucket, count(*) AS cnt, "
        "CAST(MIN(xor(o_orderkey, o_custkey)) AS BIGINT) AS mn_xor, "
        "CAST(MAX((o_orderkey << 1) | (o_custkey >> 2)) AS BIGINT) AS mx_sh "
        "FROM orders GROUP BY bucket ORDER BY bucket"
    ),
)
def fn_bitwise(spark, sf_dir):
    """Bitwise operators (& | ^ << >>) — the key-packing arithmetic
    LSD uses for its 64-bit _ID cells. Dialect note: DuckDB spells
    xor as a function (its ^ is exponentiation); Spark's ^ is xor."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy((F.col("o_orderkey").bitwiseAND(7)).alias("bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.col("o_orderkey").bitwiseXOR(F.col("o_custkey"))).cast("long").alias("mn_xor"),
            F.max(
                F.shiftleft(F.col("o_orderkey"), 1).bitwiseOR(F.shiftright(F.col("o_custkey"), 2))
            )
            .cast("long")
            .alias("mx_sh"),
        )
    )


@register(
    "fn_unpivot",
    oracle=(
        "SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value "
        "FROM orders WHERE o_orderkey < 5000 "
        "UNION ALL "
        "SELECT o_orderkey, 'custkey' AS metric, "
        "CAST(o_custkey AS DOUBLE) AS value "
        "FROM orders WHERE o_orderkey < 5000"
    ),
)
def fn_unpivot(spark, sf_dir):
    """UNPIVOT/melt via stack(): wide metrics to (key, metric, value)
    long form — one projection pass, no shuffle, the inverse of
    agg_pivot. (LSD fetches wide numpy blocks; long form is the
    relational equivalent of its per-column arrays.)"""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    return o.selectExpr(
        "o_orderkey",
        "stack(2, 'totalprice', o_totalprice, "
        "'custkey', CAST(o_custkey AS DOUBLE)) AS (metric, value)",
    )


@register(
    "fn_vector_math",
    oracle=(
        "SELECT vec_id, "
        "ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))), 6) AS l2, "
        "ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS s, "
        "ROUND(CAST(embedding[1] AS DOUBLE) * 2.0 + 1.0, 6) AS first_scaled "
        "FROM embeddings ORDER BY vec_id"
    ),
)
def fn_vector_math(spark, sf_dir):
    """Vector arithmetic over array<float> columns as JVM
    higher-order functions (no UDF, no MLlib): L2 norm, component
    sum, affine transform of a component — the building blocks under
    cosine search and normalization, map-only at any scale."""
    emb = load(spark, sf_dir, "embeddings")
    dbl = "CAST(x AS DOUBLE)"
    l2 = F.expr(
        f"ROUND(SQRT(AGGREGATE(embedding, 0D, (acc, x) -> acc + {dbl} * {dbl})), 6)"
    )
    s = F.expr(f"ROUND(AGGREGATE(embedding, 0D, (acc, x) -> acc + {dbl}), 6)")
    fs = F.expr("ROUND(CAST(element_at(embedding, 1) AS DOUBLE) * 2.0 + 1.0, 6)")
    return emb.select("vec_id", l2.alias("l2"), s.alias("s"), fs.alias("first_scaled"))


@register(
    "fn_anonymize",
    oracle=(
        "SELECT substring(md5('salt2026' || CAST(user_id AS VARCHAR)), 1, 12) AS user_token, "
        "count(*) AS n_events, count(DISTINCT event_type) AS n_types "
        "FROM events GROUP BY user_token HAVING count(*) >= 5 ORDER BY user_token"
    ),
)
def fn_anonymize(spark, sf_dir):
    """PII tokenization + k-anonymity gate: user ids replaced by a
    salted deterministic token (joinable across tables, not
    reversible without the salt), and only cohorts with >= 5 events
    released — the privacy shape every shared dataset export needs.
    Map-only hash + one agg."""
    ev = load(spark, sf_dir, "events")
    token = F.substring(
        F.md5(F.concat(F.lit("salt2026"), F.col("user_id").cast("string")).cast("binary")), 1, 12
    )
    return (
        ev.groupBy(token.alias("user_token"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("event_type").alias("n_types"),
        )
        .filter(F.col("n_events") >= 5)
    )


@register(
    "fn_variant",
    oracle=(
        "SELECT CAST(props ->> 'k' AS INTEGER) % 10 AS k_mod, "
        "CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(MIN(CAST(props ->> 'k' AS INTEGER)) AS INTEGER) AS min_k "
        "FROM events WHERE CAST(props ->> 'k' AS INTEGER) >= 20 "
        "GROUP BY k_mod ORDER BY k_mod"
    ),
)
def fn_variant(spark, sf_dir):
    """Spark 4 VARIANT ingestion: parse_json lifts the JSON blob
    into the binary semi-structured VARIANT type ONCE at scan time,
    then variant_get extracts typed fields with path expressions —
    the open-table-format answer to repeated get_json_object string
    re-parsing (one parse, many typed reads; Parquet can store the
    variant shredded so the extraction pushes down). Filter and
    group on the extracted field to prove predicate semantics
    survive the type.

    The oracle reads the same paths through DuckDB's JSON operators
    — VARIANT is engine-internal, so parity is pinned at the VALUE
    level, which is exactly what a lakehouse interchange requires.
    100 TB: parse-once beats per-expression re-parse linearly in
    the number of extracted fields; everything stays in codegen."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select(k.alias("k"))
        .filter(F.col("k") >= 20)
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.min("k").cast("int").alias("min_k"),
        )
    )


@register(
    "fn_arg_extrema",
    oracle=(
        "SELECT o_orderpriority AS pri, "
        "CAST(arg_max(o_orderkey, o_totalprice ORDER BY o_orderkey) "
        "AS BIGINT) AS key_of_max, "
        "CAST(arg_min(o_orderkey, o_totalprice ORDER BY o_orderkey) "
        "AS BIGINT) AS key_of_min, "
        "CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS max_cents "
        "FROM orders GROUP BY pri ORDER BY pri"
    ),
)
def fn_arg_extrema(spark, sf_dir):
    """max_by / min_by (DuckDB: arg_max / arg_min) — the
    which-row-held-the-extreme aggregate that otherwise costs a
    rank window or a self-join. TIES are the portability trap: when
    two rows share the extreme value each engine keeps whichever
    its combine order met first — and the 10x stress dir
    MANUFACTURES exact ties (replicated rows share totalprice under
    offset keys), which is how the naive first draft of this op was
    caught failing there. Pin: smallest key wins a tie on both
    sides — Spark maximizes struct(value, -key) / minimizes
    struct(value, key) (struct comparison is lexicographic on the
    raw double, no quantization assumption); DuckDB's arg_max/
    arg_min keep the FIRST row of an ORDER BY key ordered
    aggregate.

    Plan: a single map-side-combined aggregate — this is the entire
    point vs the window formulation (one pass, no sort, no
    shuffle beyond the group key). 100 TB: the canonical
    'latest detection per object' kernel."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.max_by(
                "o_orderkey",
                F.struct(F.col("o_totalprice"), -F.col("o_orderkey")),
            )
            .cast("long")
            .alias("key_of_max"),
            F.min_by(
                "o_orderkey",
                F.struct(F.col("o_totalprice"), F.col("o_orderkey")),
            )
            .cast("long")
            .alias("key_of_min"),
            F.floor(F.max("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("max_cents"),
        )
    )


@register(
    "fn_struct_nested",
    oracle=(
        "WITH s AS (SELECT n_nationkey, "
        "{'name': n_name, 'region': r_name} AS info "
        "FROM nation JOIN region ON n_regionkey = r_regionkey) "
        "SELECT n_nationkey, info.name AS nation_name, "
        "upper(info.region) AS region_uc, "
        "length(info.name) AS name_len "
        "FROM s ORDER BY n_nationkey"
    ),
)
def fn_struct_nested(spark, sf_dir):
    """Nested STRUCT round-trip: pack columns into a struct, read
    fields back with dot paths, compute on them — the columnar
    nested-type surface LSD's record arrays map onto (Parquet
    stores the struct shredded, so field access prunes to exactly
    the touched leaves — the scan never rebuilds the struct).
    Output is projected back to FLAT columns because the driver
    hash compares scalar columns; the struct exists across the
    plan, which is what the surface test needs.

    Plan: broadcast dim join + map-only struct pack/unpack inside
    whole-stage codegen; zero shuffles. 100 TB: leaf-pruned nested
    access is free; the trap is rebuilding whole structs per row in
    a UDF — never done here."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    s = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey",
        F.struct(
            F.col("n_name").alias("name"), F.col("r_name").alias("region")
        ).alias("info"),
    )
    return s.select(
        "n_nationkey",
        F.col("info.name").alias("nation_name"),
        F.upper(F.col("info.region")).alias("region_uc"),
        F.length(F.col("info.name")).alias("name_len"),
    )
