"""2-D spatial cross-match — the actual LSD geometry, re-expressed.

LSD's signature operation is the angular-radius cross-match over
(ra, dec) with BHpix cells bounding candidates
[lsd:src/lsd/bhpix.py, lsd-xmatch — UNVERIFIED]. The driver fixtures
carry no sky coordinates, so the geometry runs over a deterministic
synthetic plane: every event gets (x, y) in [0, 100)^2 derived from
integer arithmetic on event_id — bit-identical in Spark and DuckDB,
which is what lets a *spatial* join carry a full hash-match oracle.

The query shape is the zones technique in 2-D (plans/zones.py, here
with a 2-D cell key):

    1. cell = (floor(x/R), floor(y/R)) with cell size == match
       radius R — the BHpix-pixel analog;
    2. the probe side explodes to its 3x3 neighbor cells (constant
       9x fan-out, the margin-cache analog), the data side stays
       stationary in its single cell;
    3. EQUI-join on (cell_x, cell_y) — each qualifying pair meets in
       exactly ONE cell (the data point's own), so no dedup pass;
    4. refine with the exact euclidean predicate, rank nmax=1.

Candidate count scales with points-per-cell — at 100 TB the cell key
is computed at ingest, the catalog is partitioned by it, and a match
touches only its 9 neighbor partitions, exactly LSD's cell-local
join contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsd_spark import sizing
from lsd_spark.catalog import load, session_key
from lsd_spark.plans.zones import rank_nearest
from lsd_spark.registry import register

RADIUS = 0.5
CELL = RADIUS  # cell size == radius => 3x3 probe is sufficient

# deterministic synthetic plane: md5-derived portable 60-bit hash of
# event_id (the same engine-portable hash llm_sample_hash uses; two
# independent salts so x and y are uncorrelated — a pair of affine
# maps of event_id would put every point on a 1-D lattice with no
# close pairs) onto a 0.001-step grid in [0, 100) — identical
# doubles in both engines.
_X_SQL = (
    "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'x'), 1, 15))::BIGINT "
    "% 100000 AS DOUBLE) / 1000.0"
)
_Y_SQL = (
    "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'y'), 1, 15))::BIGINT "
    "% 100000 AS DOUBLE) / 1000.0"
)

_DIST_SQL = "sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))"


def _points_sql(etype: str) -> str:
    return (
        f"SELECT event_id, {_X_SQL} AS x, {_Y_SQL} AS y "
        f"FROM events WHERE event_type = '{etype}'"
    )


_CAND_SQL = (
    f"SELECT a.event_id AS l_id, b.event_id AS r_id, {_DIST_SQL} AS dist "
    f"FROM ({_points_sql('purchase')}) a JOIN ({_points_sql('click')}) b "
    f"ON {_DIST_SQL} <= {RADIUS}"
)


def points(spark, sf_dir: str, etype: str, spread: bool = False) -> DataFrame:
    """(event_id, x, y) for one event type on the synthetic plane.

    `spread=True` round-robins the filtered ids (`sizing.spread`)
    BEFORE the md5 projection, so the derivation and everything
    downstream of it run on every core; only (event_id) rows move."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == etype
    )
    if spread:
        ev = sizing.spread(ev.select("event_id"))
    x = (
        F.expr(
            "CAST(conv(substr(md5(CAST(event_id AS STRING) || 'x'), 1, 15), 16, 10) AS BIGINT)"
        )
        % 100000
    ).cast("double") / 1000.0
    y = (
        F.expr(
            "CAST(conv(substr(md5(CAST(event_id AS STRING) || 'y'), 1, 15), 16, 10) AS BIGINT)"
        )
        % 100000
    ).cast("double") / 1000.0
    return ev.select("event_id", x.alias("x"), y.alias("y"))


def radius_candidates(spark, sf_dir: str) -> DataFrame:
    """All (purchase, click) pairs within RADIUS, via the 3x3 cell
    equi-join. Columns: l_id, r_id, dist (exact euclidean)."""
    cell = lambda c: F.floor(F.col(c) / F.lit(CELL))  # noqa: E731
    probe_cells = F.array(
        *[
            F.struct(
                (cell("x") + dx).alias("cx"), (cell("y") + dy).alias("cy")
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    l = (
        points(spark, sf_dir, "purchase")
        .select(
            F.col("event_id").alias("l_id"),
            F.col("x").alias("lx"),
            F.col("y").alias("ly"),
            F.explode(probe_cells).alias("pc"),
        )
        .select("l_id", "lx", "ly", F.col("pc.cx").alias("cx"), F.col("pc.cy").alias("cy"))
    )
    r = points(spark, sf_dir, "click").select(
        F.col("event_id").alias("r_id"),
        F.col("x").alias("rx"),
        F.col("y").alias("ry"),
        cell("x").alias("r_cx"),
        cell("y").alias("r_cy"),
    )
    dist = F.sqrt(
        (F.col("lx") - F.col("rx")) * (F.col("lx") - F.col("rx"))
        + (F.col("ly") - F.col("ry")) * (F.col("ly") - F.col("ry"))
    )
    return (
        l.join(r, (F.col("cx") == F.col("r_cx")) & (F.col("cy") == F.col("r_cy")))
        .withColumn("dist", dist)
        .filter(F.col("dist") <= RADIUS)
        .select("l_id", "r_id", "dist")
    )


@register(
    "join_xmatch_2d",
    oracle=(
        f"WITH cand AS ({_CAND_SQL}) "
        "SELECT l_id, r_id, ROUND(dist, 9) AS dist FROM ("
        "SELECT l_id, r_id, dist, ROW_NUMBER() OVER ("
        "PARTITION BY l_id ORDER BY dist ASC, r_id ASC) AS rn FROM cand) "
        "WHERE rn = 1 ORDER BY l_id"
    ),
)
def join_xmatch_2d(spark, sf_dir):
    """lsd-xmatch in 2-D: nearest click within RADIUS of each
    purchase (nmax=1), candidates bounded by the 3x3 cell probe.
    The oracle is DuckDB's brute-force distance join — physically
    different plan, identical answer."""
    best = rank_nearest(
        radius_candidates(spark, sf_dir),
        partition_cols=["l_id"],
        order_cols=[F.col("dist").asc(), F.col("r_id").asc()],
        nmax=1,
    )
    return best.select("l_id", "r_id", F.round("dist", 9).alias("dist"))


@register(
    "xmatch_2d_count",
    oracle=(
        f"WITH cand AS ({_CAND_SQL}) "
        "SELECT l_id, count(*) AS n_neighbors FROM cand "
        "GROUP BY l_id ORDER BY l_id"
    ),
)
def xmatch_2d_count(spark, sf_dir):
    """Radius-join aggregate: neighbor count within RADIUS per
    purchase — the source-density / blend-detection primitive. Same
    candidate plan, map-side-combined count."""
    return (
        radius_candidates(spark, sf_dir)
        .groupBy("l_id")
        .agg(F.count("*").alias("n_neighbors"))
    )


def _morton_sql(x: str, y: str, bits: int = 8) -> str:
    """Bit-interleave expression (Morton/Z-order) portable to both
    engines: sum over bit k of x's bit at 2k and y's bit at 2k+1."""
    terms = []
    for k in range(bits):
        terms.append(f"(((({x}) >> {k}) & 1) * {1 << (2 * k)})")
        terms.append(f"(((({y}) >> {k}) & 1) * {1 << (2 * k + 1)})")
    return "(" + " + ".join(terms) + ")"


@register(
    "fn_morton_key",
    oracle=(
        "SELECT event_id, cx, cy, "
        + _morton_sql("cx", "cy")
        + " AS morton FROM ("
        "SELECT event_id, "
        "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'x'), 1, 15))::BIGINT "
        "% 100000 AS BIGINT) // 500 AS cx, "
        "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'y'), 1, 15))::BIGINT "
        "% 100000 AS BIGINT) // 500 AS cy "
        "FROM events WHERE event_type = 'purchase') ORDER BY event_id"
    ),
)
def fn_morton_key(spark, sf_dir):
    """Morton (Z-order) cell key — the BHpix-style space-filling
    index [lsd:src/lsd/bhpix.py — UNVERIFIED]: interleave the bits of
    the 2-D cell coordinates so that sorting by one integer clusters
    spatial neighbors. Writing data ordered by this key gives
    min/max row-group pruning on BOTH spatial dimensions from a
    single sort — the lakehouse Z-ORDER primitive, computed here as
    pure JVM bitwise arithmetic (no UDF)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hx = (
        "CAST(conv(substr(md5(CAST(event_id AS STRING) || 'x'), 1, 15), 16, 10) AS BIGINT)"
        " % 100000"
    )
    hy = (
        "CAST(conv(substr(md5(CAST(event_id AS STRING) || 'y'), 1, 15), 16, 10) AS BIGINT)"
        " % 100000"
    )
    return (
        ev.selectExpr("event_id", f"({hx}) div 500 AS cx", f"({hy}) div 500 AS cy")
        .selectExpr("event_id", "cx", "cy", _morton_sql("cx", "cy") + " AS morton")
    )


# --- packed _ID primary key: LSD's 64-bit (epoch, cell, index) key ------

# field widths: 20 bits of within-cell index, 16 bits of Morton cell
# (two 8-bit axes), the rest (27 bits used here) for the time epoch —
# the [lsd:src/lsd/table.py _ID packing — UNVERIFIED] layout where a
# detection's primary key IS its (when, where, which) coordinates, so
# range scans on the key ARE spatio-temporal scans.
PACK_CELL_SHIFT = 1 << 20
PACK_EPOCH_SHIFT = 1 << 36


def stamp_packed_id(df, epoch_col: str, cx_col: str, cy_col: str, order_col: str):
    """Add the packed 64-bit `_id` column:

        _id = epoch * 2^36 + morton(cx, cy) * 2^20 + index

    where `index` is the row's rank within its (epoch, cell) group
    ordered by `order_col` (deterministic, gap-free). Pure field
    addition over non-overlapping bit ranges — the same integer on
    any engine, no bitwise-OR dialect issues. One shuffle on
    (epoch, cell): exactly the physical partitioning the key is
    DESIGNED to express, so the write that follows is already
    co-located. Used by `DB.ingest(id_spec=...)` and
    `cli import --stamp-id`."""
    from pyspark.sql import Window

    cell = F.expr(_morton_sql(cx_col, cy_col))
    w = Window.partitionBy(F.col(epoch_col), cell).orderBy(order_col)
    idx = (F.row_number().over(w) - 1).cast("long")
    packed = (
        F.col(epoch_col).cast("long") * F.lit(PACK_EPOCH_SHIFT)
        + cell * F.lit(PACK_CELL_SHIFT)
        + idx
    )
    return df.withColumn("_id", packed)


def _purchase_detections(spark, sf_dir):
    """(event_id, epoch, cx, cy) for the purchase detections — the
    shared derivation behind source_packed_id / sink_zorder."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hx = (
        "CAST(conv(substr(md5(CAST(event_id AS STRING) || 'x'), 1, 15), 16, 10) "
        "AS BIGINT) % 100000"
    )
    hy = (
        "CAST(conv(substr(md5(CAST(event_id AS STRING) || 'y'), 1, 15), 16, 10) "
        "AS BIGINT) % 100000"
    )
    return ev.selectExpr(
        "event_id",
        "unix_micros(ts) div 86400000000 AS epoch",
        f"({hx}) div 500 AS cx",
        f"({hy}) div 500 AS cy",
    )


_PACKED_HX = (
    "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'x'), 1, 15))::BIGINT "
    "% 100000 AS BIGINT) // 500"
)
_PACKED_HY = (
    "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'y'), 1, 15))::BIGINT "
    "% 100000 AS BIGINT) // 500"
)
_PACKED_CTE = (
    "WITH d AS (SELECT event_id, "
    "CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS epoch, "
    f"{_PACKED_HX} AS cx, {_PACKED_HY} AS cy "
    "FROM events WHERE event_type = 'purchase'), "
    "k AS (SELECT event_id, epoch, "
    + _morton_sql("cx", "cy")
    + " AS cell, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY epoch, "
    + _morton_sql("cx", "cy")
    + " ORDER BY event_id) - 1 AS BIGINT) AS idx FROM d) "
)

_PACKED_ORACLE = (
    _PACKED_CTE
    + f"SELECT event_id, epoch * {PACK_EPOCH_SHIFT} + cell * {PACK_CELL_SHIFT} "
    "+ idx AS _id, epoch, cell, idx FROM k ORDER BY event_id"
)


@register("source_packed_id", oracle=_PACKED_ORACLE, cacheable=False)
def source_packed_id(spark, sf_dir):
    """Packed `_ID` primary key END-TO-END (round-5 VERDICT #6): the
    purchase detections are ingested through `api.DB.ingest` with
    `id_spec`, which stamps `_id = epoch<<36 | morton(cx,cy)<<20 |
    index` at write time [lsd:src/lsd/table.py _ID packing —
    UNVERIFIED]; the written table is then read back and the key is
    UNPACKED with the `fn_bitwise` arithmetic (div/mod over the
    field shifts). The oracle computes pack + fields directly from
    `events` in DuckDB, so a hash match proves (a) the Spark packing
    matches the reference arithmetic bit-for-bit and (b) the
    parquet round-trip through the warehouse preserves the key —
    unpack(pack(x)) == x across the storage boundary."""
    from lsd_spark.plans.materialize import materialized

    def build(tmp: str) -> str:
        from lsd_spark.api import DB

        db = DB(spark, sf_dir, warehouse=tmp)
        db.ingest(
            _purchase_detections(spark, sf_dir), "detections",
            id_spec=("epoch", "cx", "cy", "event_id"),
        )
        return tmp

    base = materialized(spark, "packed_id", sf_dir, build)
    back = spark.read.parquet(f"{base}/detections.parquet")
    return back.selectExpr(
        "event_id",
        "_id",
        f"_id div {PACK_EPOCH_SHIFT} AS epoch",
        f"(_id div {PACK_CELL_SHIFT}) % {PACK_EPOCH_SHIFT // PACK_CELL_SHIFT} AS cell",
        f"_id % {PACK_CELL_SHIFT} AS idx",
    )


_ZORDER_ORACLE = (
    _PACKED_CTE
    + "SELECT epoch, count(*) AS n_det, MIN(cell) AS mn_cell, "
    "MAX(cell) AS mx_cell, CAST(SUM(idx) AS BIGINT) AS sum_idx "
    "FROM k WHERE epoch = (SELECT min(epoch) FROM k) "
    "GROUP BY epoch ORDER BY epoch"
)


@register("sink_zorder", oracle=_ZORDER_ORACLE, cacheable=False)
def sink_zorder(spark, sf_dir):
    """Z-ordered layout on the packed `_ID`: detections written
    RANGE-PARTITIONED AND SORTED by the key, then queried through a
    key-range predicate — the property the packing exists for
    [lsd:src/lsd/bhpix.py space-filling layout — UNVERIFIED]. Because
    _id orders as (epoch, cell, index), a one-epoch query is the
    literal range [e*2^36, (e+1)*2^36), which reaches the parquet
    scan as a pushed min/max filter; with the sorted layout the
    per-file _id ranges are disjoint, so the scan opens ~1 of the 8
    files (tests/test_plans.py pins both the pushdown and the
    disjointness from the parquet footers). The oracle recomputes
    the min-epoch aggregate from the source table, so a hash match
    proves the pruned read loses no rows."""
    from lsd_spark.plans.materialize import materialized

    def build(tmp: str) -> str:
        det = stamp_packed_id(
            _purchase_detections(spark, sf_dir),
            "epoch", "cx", "cy", "event_id",
        )
        # the range layout is the point: file min/max stats on _id
        # are what let the zone-map read below prune files
        (
            det.repartitionByRange(8, "_id")
            .sortWithinPartitions("_id")
            .write.mode("overwrite")
            .parquet(f"{tmp}/zorder")
        )
        return tmp

    base = materialized(spark, "zorder", sf_dir, build)
    back = spark.read.parquet(f"{base}/zorder")
    e0 = back.agg(F.min("_id")).collect()[0][0] // PACK_EPOCH_SHIFT
    lo, hi = e0 * PACK_EPOCH_SHIFT, (e0 + 1) * PACK_EPOCH_SHIFT - 1
    return (
        back.filter((F.col("_id") >= lo) & (F.col("_id") <= hi))
        .selectExpr(
            f"_id div {PACK_EPOCH_SHIFT} AS epoch",
            f"(_id div {PACK_CELL_SHIFT}) % {PACK_EPOCH_SHIFT // PACK_CELL_SHIFT} AS cell",
            f"_id % {PACK_CELL_SHIFT} AS idx",
        )
        .groupBy("epoch")
        .agg(
            F.count("*").alias("n_det"),
            F.min("cell").alias("mn_cell"),
            F.max("cell").alias("mx_cell"),
            F.sum("idx").cast("long").alias("sum_idx"),
        )
    )


@register(
    "join_xmatch_2d_knn",
    oracle=(
        f"WITH cand AS ({_CAND_SQL}) "
        "SELECT l_id, r_id, ROUND(dist, 9) AS dist, rn FROM ("
        "SELECT l_id, r_id, dist, CAST(ROW_NUMBER() OVER ("
        "PARTITION BY l_id ORDER BY dist ASC, r_id ASC) AS INTEGER) AS rn FROM cand) "
        "WHERE rn <= 3 ORDER BY l_id, rn"
    ),
    cacheable=False,
)
def join_xmatch_2d_knn(spark, sf_dir):
    """lsd-xmatch nmax=3 in 2-D: up to three nearest clicks within
    RADIUS per purchase — same cell-bounded candidates as
    join_xmatch_2d, rank depth 3 (LSD's nmax parameter)."""
    best = rank_nearest(
        radius_candidates(spark, sf_dir),
        partition_cols=["l_id"],
        order_cols=[F.col("dist").asc(), F.col("r_id").asc()],
        nmax=3,
    )
    return best.select(
        "l_id",
        "r_id",
        F.round("dist", 9).alias("dist"),
        F.col("_rn").cast("int").alias("rn"),
    )


# --- 2-D margin layout: LSD's neighbor cache in its native geometry ------

MARGIN_CELL = 10.0  # coarse layout cell (20x RADIUS): 100 dirs over the plane


def build_margin_2d(spark, sf_dir: str) -> str:
    """Write the click catalog partitioned by coarse 2-D cell, with
    every point ALSO copied into each adjacent cell whose boundary it
    sits within RADIUS of (flagged _cached=true) — LSD's neighbor
    cache, literally [lsd:src/lsd/table.py — UNVERIFIED]. Write
    amplification is only the boundary strip (~2R/W per axis, ~20%
    here), not 9x: the shared `strip_copies` builder emits copies
    conditionally per direction. Reads become cell-local: a
    cross-match probes ONE cell."""
    from lsd_spark.plans.margin import StripDim, strip_copies
    from lsd_spark.plans.materialize import materialized

    def build(base: str) -> str:
        pts = points(spark, sf_dir, "click").select(
            F.col("event_id").alias("r_id"),
            F.col("x").alias("rx"),
            F.col("y").alias("ry"),
        )
        W, R = MARGIN_CELL, RADIUS
        expanded = strip_copies(
            pts,
            [
                StripDim("mcx", F.col("rx"), W, R, R),
                StripDim("mcy", F.col("ry"), W, R, R),
            ],
        )
        out = base + "/clicks"
        # repartition by cell first: one file per cell dir, no task x
        # cell sliver explosion (same lesson as plans/margin.py)
        expanded.repartition("mcx", "mcy").write.mode("overwrite").partitionBy(
            "mcx", "mcy"
        ).parquet(out)
        return out

    return materialized(spark, "margin_2d", sf_dir, build, prefix="lsd_margin2d_")


@register(
    "join_xmatch_2d_margin",
    oracle=(
        f"WITH cand AS ({_CAND_SQL}) "
        "SELECT l_id, r_id, ROUND(dist, 9) AS dist FROM ("
        "SELECT l_id, r_id, dist, ROW_NUMBER() OVER ("
        "PARTITION BY l_id ORDER BY dist ASC, r_id ASC) AS rn FROM cand) "
        "WHERE rn = 1 ORDER BY l_id"
    ),
    cacheable=False,
)
def join_xmatch_2d_margin(spark, sf_dir):
    """2-D cross-match against the margin-duplicated layout: the
    probe side joins ONLY its own coarse cell (margin copies stand in
    for the 8 neighbors — no probe-side explode at query time), then
    exact-distance refine + rank. Third physically-distinct plan for
    the same spatial semantics (3x3 probe / brute oracle / margin
    layout), one oracle. At 100 TB both sides are partitioned by cell
    on disk: the join is partition-local, zero shuffle of the
    catalog."""
    path = build_margin_2d(spark, sf_dir)
    margin = spark.read.parquet(path)
    W = MARGIN_CELL
    l = points(spark, sf_dir, "purchase").select(
        F.col("event_id").alias("l_id"),
        F.col("x").alias("lx"),
        F.col("y").alias("ly"),
        F.floor(F.col("x") / W).alias("mcx"),
        F.floor(F.col("y") / W).alias("mcy"),
    )
    dist = F.sqrt(
        (F.col("lx") - F.col("rx")) * (F.col("lx") - F.col("rx"))
        + (F.col("ly") - F.col("ry")) * (F.col("ly") - F.col("ry"))
    )
    cands = (
        l.join(margin, ["mcx", "mcy"])
        .withColumn("dist", dist)
        .filter(F.col("dist") <= RADIUS)
    )
    best = rank_nearest(
        cands,
        partition_cols=["l_id"],
        order_cols=[F.col("dist").asc(), F.col("r_id").asc()],
        nmax=1,
    )
    return best.select("l_id", "r_id", F.round("dist", 9).alias("dist"))


# --- 2-D friends-of-friends: the literal make-object-catalog ------------

FOF2D_R = 0.3  # linking length: SUBCRITICAL at every test SF (avg degree
#   ~0.06 at sf0.01, ~0.57 at sf0.1) — the physically meaningful FoF regime;
#   a supercritical radius percolates the catalog into one giant 'object'


def _points_sql_type(etype: str) -> str:
    return (
        f"SELECT event_id, {_X_SQL} AS x, {_Y_SQL} AS y "
        f"FROM events WHERE event_type = '{etype}'"
    )


_FOF2D_PAIRS_SQL = (
    "SELECT a.event_id AS u, b.event_id AS v "
    f"FROM ({_points_sql_type('view')}) a JOIN ({_points_sql_type('view')}) b "
    f"ON a.event_id < b.event_id AND {_DIST_SQL} <= {FOF2D_R}"
)


def self_radius_pairs(spark, sf_dir: str, etype: str, radius: float):
    """Same-set pairs within `radius` (cell size == radius), output
    contract (u, v) with u < v, each unordered pair exactly once.

    Probe geometry: a SELF-join only needs the forward HALF-PLANE of
    neighbor cells, not the full 3x3. Any within-radius pair spans
    cell displacement d with |dx|,|dy| <= 1; for d != 0 exactly one
    of {d, -d} lies in the forward set {(0,1),(1,-1),(1,0),(1,1)},
    so emitting probes for home + those 4 directions generates every
    cross-cell pair once (from its lower cell) and same-cell pairs
    twice, deduped by the u < v guard that applies ONLY when the
    probe is the home cell. 5 probe copies instead of 9: ~44% less
    exploded join input — at 100 TB this is the dominant shuffle of
    the FoF job, so the half-plane cut is nearly a 2x on the wire.
    (The cross-set variant, radius_candidates, keeps the full 3x3 —
    there is no symmetry to exploit between two distinct sets.)"""
    # coalesce(-1) never fires (x, y are md5-derived, never null) —
    # it makes the cell join keys STATICALLY non-nullable so
    # constraint inference doesn't push asymmetric isnotnull(FLOOR..)
    # filters under the two sides' exchanges: with identical children
    # the ReuseExchangeAndSubquery rule folds the self-join's two
    # serial cached-events scans into ONE (the [[numeric-traps]]
    # Divide-nullability lesson, applied for plan reuse instead of
    # md5-copy suppression).
    cell = lambda c: F.coalesce(  # noqa: E731
        F.floor(F.col(c) / F.lit(radius)), F.lit(-1)
    )
    probe_cells = F.array(
        *[
            F.struct(
                (cell("x") + dx).alias("cx"),
                (cell("y") + dy).alias("cy"),
                F.lit(dx == 0 and dy == 0).alias("home"),
            )
            for dx, dy in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
        ]
    )
    # probe side spread=True: the exploded 5x probe copies and the
    # join's streamed distance refine are the dominant compute of the
    # whole FoF job
    pts = points(spark, sf_dir, etype, spread=True)
    l = pts.select(
        F.col("event_id").alias("u"),
        F.col("x").alias("lx"),
        F.col("y").alias("ly"),
        F.explode(probe_cells).alias("pc"),
    ).select(
        "u", "lx", "ly",
        F.col("pc.cx").alias("cx"),
        F.col("pc.cy").alias("cy"),
        F.col("pc.home").alias("home"),
    )
    r = pts.select(
        F.col("event_id").alias("v"),
        F.col("x").alias("rx"),
        F.col("y").alias("ry"),
        cell("x").alias("r_cx"),
        cell("y").alias("r_cy"),
    )
    dist = F.sqrt(
        (F.col("lx") - F.col("rx")) * (F.col("lx") - F.col("rx"))
        + (F.col("ly") - F.col("ry")) * (F.col("ly") - F.col("ry"))
    )
    # shuffle_hash, not broadcast: a SELF-join's build side is the
    # full point set — never broadcastable at 100 TB — and at bench
    # scale each BroadcastExchange materializes as its OWN Spark job
    # (round-12 profile: q_fof's cost is job-count x job-floor, so a
    # hint that folds the join into the parent job's stage graph is
    # worth more than any kernel micro-optimization). SHJ over SMJ:
    # cell keys are near-unique per (cx, cy), no sort needed.
    return (
        l.join(
            r.hint("shuffle_hash"),
            (F.col("cx") == F.col("r_cx"))
            & (F.col("cy") == F.col("r_cy"))
            & (~F.col("home") | (F.col("u") < F.col("v"))),
        )
        .withColumn("dist", dist)
        .filter((F.col("dist") <= radius) & (F.col("u") != F.col("v")))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
    )


# Tile edge for the fused FoF contraction, in units of the linking
# length (cells). Halo duplication is the boundary-cell ring,
# ~4/TILE_CELLS of each tile's area — 25% at 16. Larger tiles mean
# fewer cross-tile merges (smaller quotient) but more per-task state;
# per-task state stays bounded by points-per-tile, the same envelope
# a hash aggregate's biggest group needs.
FOF_TILE_CELLS = 16

# Max rows per vectorized pairing batch inside the tiled FoF kernel
# (round-14): bounds the probe frame / candidate merge / union-find
# dict per batch (~tens of MB at 5 probes x 131072 rows) while
# keeping the hash-merge one vectorized call per batch instead of
# one per tile. A single tile larger than this still processes as
# one batch — the per-tile envelope is the true lower bound.
FOF_KERNEL_BATCH_ROWS = 131072


def tiled_local_labels(spark, sf_dir: str, etype: str, radius: float) -> DataFrame:
    """Tile-partitioned FoF contraction: ONE shuffle of the point set
    (with halo copies), then pairing + union-find FUSED in a single
    Arrow kernel per tile. Emits (vec_id, lmin) rows with the same
    contract as plans/cluster._local_cc_labels — a node split across
    tiles emits one row per tile, resolved by the fixpoint's
    min/collect_set aggregate — plus one property the join-based edge
    generation cannot give: EVERY point appears (isolated points
    label themselves), so the fixpoint's seed needs no join back to
    the point set (seed_complete=True).

    This is the guide-§8 "move heavy bytes once" restructure applied
    to FoF, and it is LSD's own cell+margins sharding: points are
    hash-partitioned by spatial tile, each point is duplicated into
    the neighbor tile(s) whose region lies within one cell of it (the
    margin/halo cache), and each tile solves its local subgraph
    independently; only partition-local LABELS cross the network
    afterwards. Versus the round-12 shape (5-way probe explode ->
    shuffle-hash self-join -> distance refine -> union-find kernel:
    two scans, three exchanges before the label aggregate) this is
    one scan and one exchange of ~1.26x the point rows, and the
    pairing runs as vectorized numpy instead of codegen'd row joins.

    Pair discovery is exhaustive: a within-R pair spans cells
    differing by <=1 in each axis; every point is shipped to every
    tile covering its 3x3 cell neighborhood, so both endpoints of any
    qualifying pair meet in at least one tile (a pair discovered in
    two tiles unions twice — idempotent). Within a tile the kernel
    uses the same forward-half-plane 5-direction probe as
    self_radius_pairs, vectorized as one pandas hash-merge per task.

    100 TB: the shuffle moves (id, x, y, cell, tile) rows — never
    payloads. Per-task memory (round-14 ADVICE — the old docstring
    overclaimed "bounded by tile area x density"): a task buffers its
    whole shuffle partition's point rows (every tile hashed to it,
    ~1.26x halo — bounded by data/partitions via the explicit
    kernel-stage partition count below), and the QUADRATIC
    structures — the 5-direction probe frame, the candidate
    hash-merge, and the union-find dict — are bounded by
    FOF_KERNEL_BATCH_ROWS per tile-aligned batch (or one tile's
    area x density where a single tile exceeds it). The label
    aggregate and the driver-side quotient solve are unchanged from
    the round-12 audit.

    The distance predicate is sqrt(dx*dx + dy*dy) <= radius —
    operand-for-operand the SAME float64 expression self_radius_pairs
    and the DuckDB oracle evaluate (round-14 ADVICE: the previous
    d2 <= radius*radius form is not bit-equivalent at the boundary;
    fl(d2) slightly above fl(R*R) can still give fl(sqrt(d2)) <= R,
    so a boundary pair kept by the fallback/oracle could be dropped
    here, splitting a component)."""
    pts = points(spark, sf_dir, etype)
    cell = lambda c: F.floor(F.col(c) / F.lit(radius))  # noqa: E731
    tiles = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.floor((cell("x") + dx) / FOF_TILE_CELLS).alias("tx"),
                    F.floor((cell("y") + dy) / FOF_TILE_CELLS).alias("ty"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    tagged = (
        pts.select(
            "event_id",
            "x",
            "y",
            cell("x").alias("cx"),
            cell("y").alias("cy"),
            F.explode(tiles).alias("t"),
        )
        .select(
            "event_id", "x", "y", "cx", "cy",
            F.col("t.tx").alias("tx"), F.col("t.ty").alias("ty"),
        )
        .repartition(sizing.kernel_width(pts), F.col("tx"), F.col("ty"))
    )
    def kernel(batches):
        # self-contained on purpose: closing over module-level helpers
        # pickles them by reference and executors without lsd_spark on
        # sys.path die with ModuleNotFoundError (see _uf_roots note)
        import numpy as np
        import pandas as pd

        dfs = list(batches)
        if not dfs:
            return
        whole = pd.concat(dfs, ignore_index=True)
        if not len(whole):
            return
        # Tile-aligned ROW BATCHES (round-14): the round-14 ADVICE fix
        # processed one tile per loop iteration, which bounded the
        # quadratic structures but paid per-tile pandas overhead —
        # 2x the kernel time at the 10x stress dir (441 tiles). A
        # batch groups whole tiles up to FOF_KERNEL_BATCH_ROWS and
        # runs ONE vectorized 5-probe hash-merge keyed by
        # (tx, ty, cx, cy) — the tile keys in the join mean pairs
        # still form only within a tile, and the probe frame, the
        # candidate merge and the union-find dict stay bounded by the
        # batch size (max(batch, largest single tile)), preserving
        # the ADVICE's memory envelope. A shared halo node occurring
        # in two tiles of one batch may union their labels early —
        # sound (only real pairs are ever unioned; the fixpoint's
        # converged component minima are unchanged, pinned by the
        # tiled-vs-join equality test).
        whole = whole.sort_values(
            ["tx", "ty"], kind="stable", ignore_index=True
        )
        sizes = whole.groupby(["tx", "ty"], sort=False).size().to_numpy()
        cuts = [0]
        acc = 0
        pos = 0
        for s in sizes:
            if acc and acc + s > FOF_KERNEL_BATCH_ROWS:
                cuts.append(pos)
                acc = 0
            acc += int(s)
            pos += int(s)
        cuts.append(len(whole))
        for lo, hi in zip(cuts, cuts[1:]):
            df = whole.iloc[lo:hi].reset_index(drop=True)
            home = df[["tx", "ty", "cx", "cy"]].copy()
            home["idx"] = np.arange(len(df))
            probes = []
            for dx, dy, is_home in (
                (0, 0, True), (0, 1, False), (1, -1, False),
                (1, 0, False), (1, 1, False),
            ):
                p = df[["tx", "ty"]].copy()
                p["cx"] = df["cx"] + dx
                p["cy"] = df["cy"] + dy
                p["pidx"] = np.arange(len(df))
                p["home"] = is_home
                probes.append(p)
            cand = pd.concat(probes, ignore_index=True).merge(
                home, on=["tx", "ty", "cx", "cy"]
            )
            ui = cand["pidx"].to_numpy()
            vi = cand["idx"].to_numpy()
            uh = cand["home"].to_numpy()
            uid = df["event_id"].to_numpy()
            x = df["x"].to_numpy()
            y = df["y"].to_numpy()
            u, v = uid[ui], uid[vi]
            # home cell: u < v emits each same-cell pair once; forward
            # cells: u != v (each cross-cell pair reached from its lower
            # cell only — the self_radius_pairs half-plane argument)
            keep = np.where(uh, u < v, u != v)
            dx_ = x[ui] - x[vi]
            dy_ = y[ui] - y[vi]
            # sqrt(d2) <= radius, NOT d2 <= radius^2: bit-identical to
            # the JVM/oracle predicate (round-14 ADVICE, see docstring)
            keep &= np.sqrt(dx_ * dx_ + dy_ * dy_) <= radius
            u, v = u[keep], v[keep]
            parent: dict[int, int] = {}

            def find(a: int) -> int:
                while parent[a] != a:
                    parent[a] = parent[parent[a]]
                    a = parent[a]
                return a

            for n in uid:  # every point: isolated ones label themselves
                n = int(n)
                if n not in parent:
                    parent[n] = n
            for a, b in zip(u, v):
                a, b = int(a), int(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            nodes = list(parent)
            yield pd.DataFrame(
                {"vec_id": nodes, "lmin": [find(n) for n in nodes]}
            )

    return tagged.mapInPandas(kernel, "vec_id bigint, lmin bigint")


@register(
    "cluster_fof_2d",
    oracle=(
        "WITH RECURSIVE pairs AS (" + _FOF2D_PAIRS_SQL + "), "
        "e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs), "
        "reach(src, node) AS ("
        f"SELECT event_id, event_id FROM ({_points_sql_type('view')}) "
        "UNION "
        "SELECT r.src, e.v FROM reach r JOIN e ON r.node = e.u) "
        "SELECT src AS point_id, min(node) AS object_id FROM reach "
        "GROUP BY src ORDER BY point_id"
    ),
    cacheable=False,
)
def cluster_fof_2d(spark, sf_dir):
    """Friends-of-friends in the REAL 2-D geometry — the literal
    lsd-make-object-catalog semantics: link every pair of 'view'
    points within the linking length (cell-bounded candidate join,
    never all-pairs), take connected components via the shared
    min-label fixpoint. Oracle = recursive CTE over DuckDB's
    brute-force distance pairs — a physically different candidate
    plan reaching the identical component labeling."""
    from lsd_spark.plans.cluster import min_label_fixpoint
    from lsd_spark.registry import cached_plan

    pts = cached_plan(
        spark, sf_dir, "fof2d_pts",
        lambda: points(spark, sf_dir, "view").select(
            F.col("event_id").alias("vec_id")
        ),
    )
    # heavy-fallback edge plan only (lazy; executes IFF the quotient
    # overflows its single-task cap) — the happy paths run entirely
    # off the fused tile contraction below
    pairs = cached_plan(
        spark, sf_dir, "fof2d_pairs",
        lambda: self_radius_pairs(spark, sf_dir, "view", FOF2D_R),
    )
    local = cached_plan(
        spark, sf_dir, "fof2d_tiled",
        lambda: tiled_local_labels(spark, sf_dir, "view", FOF2D_R),
    )
    labels = min_label_fixpoint(
        pts, pairs, local_labels=local, seed_complete=True
    )
    return labels.select(F.col("vec_id").alias("point_id"), "object_id")


@register(
    "agg_object_coadd",
    oracle=(
        "WITH RECURSIVE pairs AS (" + _FOF2D_PAIRS_SQL + "), "
        "e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs), "
        "reach(src, node) AS ("
        f"SELECT event_id, event_id FROM ({_points_sql_type('view')}) "
        "UNION "
        "SELECT r.src, e.v FROM reach r JOIN e ON r.node = e.u), "
        "lab AS (SELECT src AS point_id, min(node) AS object_id "
        "FROM reach GROUP BY src) "
        f"SELECT object_id, count(*) AS n_det, "
        "CAST(FLOOR(SUM(CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) * 10.0 "
        "/ count(*)) AS BIGINT) AS cx_q, "
        "CAST(FLOOR(SUM(CAST(FLOOR(y * 1000 + 0.5) AS BIGINT)) * 10.0 "
        "/ count(*)) AS BIGINT) AS cy_q "
        f"FROM ({_points_sql_type('view')}) p JOIN lab "
        "ON p.event_id = lab.point_id "
        "GROUP BY object_id ORDER BY object_id"
    ),
    cacheable=False,
)
def agg_object_coadd(spark, sf_dir):
    """Object coadd — the averaging step that finishes
    lsd-make-object-catalog: after FoF links detections into
    objects, each object's catalog row is the MEAN position of its
    member detections plus the detection count
    [lsd:lsd-make-object-catalog — UNVERIFIED, SURVEY.md §3.3].
    Plan: the same cell-bounded pair join + min-label fixpoint as
    cluster_fof_2d, then ONE equi-join back to positions and a
    map-side-combined groupBy(object_id) — label propagation moves
    only (id, label) pairs; positions are touched exactly twice
    (pair generation, final coadd). Mean positions are EXACT-INTEGER
    arithmetic in 1e-4 units: positions live on a 1/1000 grid, so a
    4-member mean lands exactly on a 1e-4 half-boundary about half
    the time and decimal ROUND's half-case handling diverges between
    engines (caught at sf0.1); summing the exact milli-integers and
    flooring the correctly-rounded integer quotient is
    boundary-free."""
    from lsd_spark.plans.cluster import min_label_fixpoint
    from lsd_spark.registry import cached_plan

    pts = points(spark, sf_dir, "view")
    ids = pts.select(F.col("event_id").alias("vec_id"))
    pairs = cached_plan(
        spark, sf_dir, "fof2d_pairs",
        lambda: self_radius_pairs(spark, sf_dir, "view", FOF2D_R),
    )
    local = cached_plan(
        spark, sf_dir, "fof2d_tiled",
        lambda: tiled_local_labels(spark, sf_dir, "view", FOF2D_R),
    )
    labels = min_label_fixpoint(
        ids, pairs, local_labels=local, seed_complete=True
    )
    return (
        pts.join(labels, pts.event_id == labels.vec_id)
        .groupBy("object_id")
        .agg(
            F.count("*").alias("n_det"),
            F.floor(
                F.sum(F.floor(F.col("x") * 1000 + 0.5).cast("bigint")) * 10.0
                / F.count("*")
            )
            .cast("bigint")
            .alias("cx_q"),
            F.floor(
                F.sum(F.floor(F.col("y") * 1000 + 0.5).cast("bigint")) * 10.0
                / F.count("*")
            )
            .cast("bigint")
            .alias("cy_q"),
        )
    )


# Supercritical linking length: at sf0.1 the match graph has avg
# degree ~6.2 and a giant component holding 98.7% of the 19,941
# 'view' points (measured) — min-label propagation would need
# O(plane diameter / R) ~ 100+ rounds and correctly RAISES at its
# cap. The alternating large-star/small-star path converges in
# O(log n) rounds. At sf0.01 the same radius is subcritical (max
# component 8), so the driver's recursive-CTE oracle is cheap where
# it runs; the supercritical regime is exactness-checked at sf0.1 by
# a numpy union-find third opinion in tests/test_plans.py.
FOF2D_R_SUPER = 1.0

_FOF2D_SUPER_PAIRS_SQL = (
    "SELECT a.event_id AS u, b.event_id AS v "
    f"FROM ({_points_sql_type('view')}) a JOIN ({_points_sql_type('view')}) b "
    f"ON a.event_id < b.event_id AND {_DIST_SQL} <= {FOF2D_R_SUPER}"
)


@register(
    "cluster_fof_2d_super",
    oracle=(
        "WITH RECURSIVE pairs AS (" + _FOF2D_SUPER_PAIRS_SQL + "), "
        "e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs), "
        "reach(src, node) AS ("
        f"SELECT event_id, event_id FROM ({_points_sql_type('view')}) "
        "UNION "
        "SELECT r.src, e.v FROM reach r JOIN e ON r.node = e.u) "
        "SELECT src AS point_id, min(node) AS object_id FROM reach "
        "GROUP BY src ORDER BY point_id"
    ),
    cacheable=False,
)
def cluster_fof_2d_super(spark, sf_dir):
    """cluster_fof_2d at a SUPERCRITICAL linking length — the
    catalog-build regime a real survey cannot opt out of (object
    density is what it is).

    Round 13: solved through the same tile-contraction + quotient
    fixpoint as cluster_fof_2d. Supercriticality makes PROPAGATION
    loops slow (the giant component's min-label eccentricity is
    O(plane diameter / R)), but it does not bloat the label QUOTIENT:
    a giant component spread over T tiles contributes at most
    T x (halo overlap) quotient labels, so the loop-free driver-side
    union-find solves it in one bounded collect. Measured at sf0.1
    (avg degree ~6.2, giant component 98.7% of 19,941 points):
    alternating large-star/small-star loop 48.5 s -> 0.90 s, labels
    bit-identical. Graphs whose quotient overflows the single-task
    cap still route to the degree-adaptive heavy paths inside
    min_label_fixpoint — at supercritical density that is the same
    alternating loop this op used to call directly (still exercised
    by tests/test_plans.py's forced-fallback and the direct
    alternating_cc equality test)."""
    from lsd_spark.plans.cluster import min_label_fixpoint
    from lsd_spark.registry import cached_plan

    pts = points(spark, sf_dir, "view").select(F.col("event_id").alias("vec_id"))
    pairs = cached_plan(
        spark, sf_dir, "fof2d_pairs_super",
        lambda: self_radius_pairs(spark, sf_dir, "view", FOF2D_R_SUPER),
    )
    local = cached_plan(
        spark, sf_dir, "fof2d_tiled_super",
        lambda: tiled_local_labels(spark, sf_dir, "view", FOF2D_R_SUPER),
    )
    labels = min_label_fixpoint(
        pts, pairs, local_labels=local, seed_complete=True
    )
    return labels.select(F.col("vec_id").alias("point_id"), "object_id")
