"""Footprint / region algebra — LSD's query-bounds surface
[lsd:src/lsd/bounds.py — UNVERIFIED, SURVEY.md §1.1/§2.G/§4 row 1]:
``beam(ra, dec, radius)`` cones, RA/Dec rectangles, polygon
footprints, and union / intersection / difference of sky regions,
used to scope every catalog query.

Two-phase compile, the LSD cell-walk re-expressed for Spark:

1. **Cell pruning (driver-side, pure Python).** A region compiles to
   a SUPERSET of (dec zone, cos(dec)-scaled RA bucket) cells on the
   same literal zone grid the spherical cross-match partitions by
   (plans/sphere.py zone_counts — driver-computed integers, zero
   cross-engine trig). Over the materialized zone-partitioned layout
   this becomes genuine Catalyst partition pruning (`z IN (...)`
   lands in PartitionFilters, so only candidate directories are
   listed/read); the bucket set prunes within the zone.
2. **Exact refine (engine-neutral SQL).** The region's exact
   predicate — haversine for cones, interval tests for rectangles,
   literal-slope ray-casting for polygons — as ONE text that runs
   identically through Spark's F.expr and DuckDB, which is what lets
   every region operator keep a full hash-match oracle (the oracle
   is the refine alone, brute-forced over all rows: a physically
   different plan that agrees iff the candidate cell set truly is a
   superset). Both phases reach the JVM as ONE filter text, one py4j
   call whatever the region's size. The cell test and the refine
   read ra/dec through a lambda binding, so a derived ra/dec is
   computed once per row rather than once per reference. Lambdas run
   interpreted, so the region's literals stay out of the generated
   code: a fetch of a new region reuses the compiled classes of the
   last one. A zone test stays outside the lambda: over the zone
   layout a plain `z IN (...)`, because Spark prunes directories
   only on a predicate it can see over the partition column; over
   derived ra/dec a compiled `array_contains` on an array literal,
   which drops rows outside the region's dec band before the slower
   interpreted lambda runs.

Superset bound for the cone's per-zone RA half-width: from the
haversine identity hav(r) = hav(Δdec) + cos d0 cos d1 hav(Δra) ≥
cos d0 cos d1 hav(Δra), any point of the zone within distance r of
the center satisfies sin²(Δra/2) ≤ sin²(r/2) / (cos d0 cos d_edge)
with d_edge the zone's largest |dec|; dra = 2 asin(min(1, √·)) plus
a 1e-9 deg pad absorbs float rounding at the boundary. Zones whose
edge reaches the pole cap keep every bucket (they hold one bucket in
the grid anyway).

100 TB shape: the candidate cells are literals in the plan — the
scan prunes partitions BEFORE reading a byte, the refine is a
map-only JVM filter, and no shuffle exists anywhere. Region algebra
composes at the cell level too: union unions cell sets, intersection
intersects them, difference keeps the left side's (the result can
only shrink), so a composite footprint query still touches only the
cells its positive terms cover.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.functions import array_sql
from lsd_spark.plans.sphere import (
    DIST_SPHERE,
    _sphere_points_sql,
    sphere_points,
    zone_counts,
)
from lsd_spark.registry import register

GRID = 1.0  # zone height (deg) of the region grid == sphere grid
_NB = zone_counts(GRID)
_NZ = len(_NB)
_CID = 1000  # cell id = z * _CID + b  (max nb < 1000 at GRID=1)


def _zones_for(dec_lo: float, dec_hi: float) -> range:
    zlo = max(0, int(math.floor(dec_lo + 90.0)))
    zhi = min(_NZ - 1, int(math.floor(dec_hi + 90.0)))
    return range(zlo, zhi + 1)


def _buckets_for(z: int, ra_lo: float, ra_hi: float) -> set[int]:
    """Buckets of zone z overlapping RA interval [ra_lo, ra_hi]
    (unwrapped — ra_lo may be negative, ra_hi may exceed 360), via
    the SAME floor(ra*nb/360) key the data side computes."""
    nb = _NB[z]
    if ra_hi - ra_lo >= 360.0:
        return set(range(nb))
    klo = int(math.floor(ra_lo * nb / 360.0))
    khi = int(math.floor(ra_hi * nb / 360.0))
    return {k % nb for k in range(klo, khi + 1)}


class Region:
    """Base: a sky footprint compiling to (cells, refine SQL)."""

    def cells(self) -> set[tuple[int, int]]:
        raise NotImplementedError

    def refine_sql(self, ra: str, dec: str) -> str:
        """Exact membership predicate; IDENTICAL text must be valid
        in Spark SQL and DuckDB (engine-neutral subset)."""
        raise NotImplementedError

    def __or__(self, other: "Region") -> "Region":
        return _Union(self, other)

    def __and__(self, other: "Region") -> "Region":
        return _Intersect(self, other)

    def __sub__(self, other: "Region") -> "Region":
        return _Difference(self, other)


class Cone(Region):
    """beam(ra, dec, radius): all points within `radius` degrees of
    (ra0, dec0) angular separation — LSD's beam()."""

    def __init__(self, ra0: float, dec0: float, radius: float):
        if not (0.0 <= ra0 < 360.0 and -90.0 <= dec0 <= 90.0):
            raise ValueError("cone center out of range")
        self.ra0, self.dec0, self.radius = float(ra0), float(dec0), float(radius)

    def cells(self) -> set[tuple[int, int]]:
        r = self.radius
        out: set[tuple[int, int]] = set()
        for z in _zones_for(self.dec0 - r, self.dec0 + r):
            lo, hi = -90.0 + z * GRID, -90.0 + (z + 1) * GRID
            d_edge = min(90.0, max(abs(lo), abs(hi)))
            denom = math.cos(math.radians(self.dec0)) * math.cos(math.radians(d_edge))
            if d_edge >= 89.9 or denom <= 0.0:
                dra = 180.0
            else:
                u = math.sin(math.radians(r) / 2.0) / math.sqrt(denom)
                dra = math.degrees(2.0 * math.asin(min(1.0, u))) + 1e-9
            if dra >= 180.0:
                out.update((z, b) for b in range(_NB[z]))
            else:
                out.update(
                    (z, b) for b in _buckets_for(z, self.ra0 - dra, self.ra0 + dra)
                )
        return out

    def refine_sql(self, ra: str, dec: str) -> str:
        # literals parenthesized: a negative dec0 would otherwise
        # render `x--35.0`, which SQL lexes as a line comment
        d = DIST_SPHERE.format(
            ldec=f"({dec})",
            rdec=f"({self.dec0!r})",
            lra=f"({ra})",
            rra=f"({self.ra0!r})",
        )
        return f"({d} <= {self.radius!r})"


class Rect(Region):
    """RA/Dec rectangle [ra_lo, ra_hi] x [dec_lo, dec_hi], inclusive;
    ra_lo > ra_hi means the box wraps across RA 0/360."""

    def __init__(self, ra_lo: float, ra_hi: float, dec_lo: float, dec_hi: float):
        if dec_lo > dec_hi:
            raise ValueError("dec_lo > dec_hi")
        self.ra_lo, self.ra_hi = float(ra_lo), float(ra_hi)
        self.dec_lo, self.dec_hi = float(dec_lo), float(dec_hi)

    def cells(self) -> set[tuple[int, int]]:
        out: set[tuple[int, int]] = set()
        wrap = self.ra_lo > self.ra_hi
        for z in _zones_for(self.dec_lo, self.dec_hi):
            if wrap:
                bs = _buckets_for(z, self.ra_lo, 360.0) | _buckets_for(z, 0.0, self.ra_hi)
            else:
                bs = _buckets_for(z, self.ra_lo, self.ra_hi)
            out.update((z, b) for b in bs)
        return out

    def refine_sql(self, ra: str, dec: str) -> str:
        dec_t = f"({dec}) >= {self.dec_lo!r} AND ({dec}) <= {self.dec_hi!r}"
        if self.ra_lo > self.ra_hi:  # wraps the 0/360 seam
            ra_t = f"(({ra}) >= {self.ra_lo!r} OR ({ra}) <= {self.ra_hi!r})"
        else:
            ra_t = f"(({ra}) >= {self.ra_lo!r} AND ({ra}) <= {self.ra_hi!r})"
        return f"({dec_t} AND {ra_t})"


class Poly(Region):
    """Polygon footprint; edges are straight lines in the (ra, dec)
    plane (cylindrical projection — the same convention the oracle
    evaluates, so the two engines agree bit-for-bit). Vertices must
    not cross the RA 0/360 seam; split seam-crossing footprints into
    a union of two polygons. Membership is even-odd ray casting with
    the edge slopes folded to Python-computed literals, so the SQL is
    a flat sum of comparisons — no division at query time."""

    def __init__(self, vertices: list[tuple[float, float]]):
        if len(vertices) < 3:
            raise ValueError("polygon needs >= 3 vertices")
        self.vertices = [(float(x), float(y)) for x, y in vertices]

    def cells(self) -> set[tuple[int, int]]:
        xs = [v[0] for v in self.vertices]
        ys = [v[1] for v in self.vertices]
        return Rect(min(xs), max(xs), min(ys), max(ys)).cells()

    def refine_sql(self, ra: str, dec: str) -> str:
        terms = []
        n = len(self.vertices)
        for i in range(n):
            x1, y1 = self.vertices[i]
            x2, y2 = self.vertices[(i + 1) % n]
            if y1 == y2:
                continue  # horizontal edge: never crossed (strict >)
            slope = (x2 - x1) / (y2 - y1)  # literal, folded driver-side
            cross = (
                f"(({y1!r} > ({dec})) <> ({y2!r} > ({dec}))) "
                f"AND (({ra}) < (({dec}) - {y1!r}) * {slope!r} + {x1!r})"
            )
            terms.append(f"(CASE WHEN {cross} THEN 1 ELSE 0 END)")
        return "((" + " + ".join(terms) + ") % 2 = 1)"


class _Union(Region):
    def __init__(self, a: Region, b: Region):
        self.a, self.b = a, b

    def cells(self):
        return self.a.cells() | self.b.cells()

    def refine_sql(self, ra, dec):
        return f"({self.a.refine_sql(ra, dec)} OR {self.b.refine_sql(ra, dec)})"


class _Intersect(Region):
    def __init__(self, a: Region, b: Region):
        self.a, self.b = a, b

    def cells(self):
        return self.a.cells() & self.b.cells()

    def refine_sql(self, ra, dec):
        return f"({self.a.refine_sql(ra, dec)} AND {self.b.refine_sql(ra, dec)})"


class _Difference(Region):
    def __init__(self, a: Region, b: Region):
        self.a, self.b = a, b

    def cells(self):
        return self.a.cells()  # result ⊆ a: b cannot grow it

    def refine_sql(self, ra, dec):
        return f"({self.a.refine_sql(ra, dec)} AND NOT {self.b.refine_sql(ra, dec)})"


# --- query compilation ----------------------------------------------------


def _bind_once(fields: dict[str, str], body: str) -> str:
    """A predicate that evaluates each of `fields` ONCE per row and
    reads them in `body` as ``p.<name>``.

    Predicate pushdown substitutes a derived column into every
    reference inside a pushed predicate, so a filter naming a
    derived ra/dec N times runs its md5 derivation N times per row.
    A higher-order function evaluates its array argument once, so
    ``exists(array(named_struct(...)), p -> body)`` is a
    let-binding: the fields are derived once, and `body` touches
    only the cheap lambda-struct fields. Higher-order functions run
    interpreted, so the literals in `body` stay out of the generated
    Java: a new region reuses the compiled class instead of
    compiling its own."""
    struct = ", ".join(f"'{k}', {v}" for k, v in fields.items())
    return f"exists(array(named_struct({struct})), p -> {body})"


def _zone_sql(dec: str) -> str:
    """Dec zone of the region grid; engine-neutral text."""
    return f"CAST(LEAST(FLOOR(({dec} + 90.0) / {GRID}), {_NZ - 1}) AS INT)"


def _bucket_sql(ra: str, z: str) -> str:
    """cos(dec)-scaled RA bucket within zone `z`."""
    return f"CAST(FLOOR({ra} * element_at({array_sql(_NB)}, {z} + 1) / 360.0) AS INT)"


def region_select(pts, region: Region, keep_all: bool = False):
    """Compile `region` over a DataFrame with ra/dec columns
    (event_id, ra, dec[, z, b]) into ONE filter, sent to the JVM as
    one SQL text: one py4j call, however many cells the region has.
    Its conjuncts, cheapest first:

    - The zone test. Over the zone layout it is a plain
      ``z IN (...)``, because Spark prunes partition directories only
      on a predicate over the partition column itself. Over derived
      ra/dec it is ``array_contains(<zones>, <zone of dec>)``:
      compiled code that drops rows outside the region's dec band for
      one derivation of dec. Generated code reads an array literal by
      reference instead of inlining it, so every region shares the
      class.
    - The cell test (the row's (zone, bucket) id IN the candidate
      cells, on the same literal grid) and the exact refine. They
      read ra/dec through `_bind_once`, so a derived ra/dec is
      computed once per row, not once per reference. Lambdas run
      interpreted, so the region's literals stay out of the generated
      code, and a repeat fetch compiles nothing.

    ``keep_all=True`` preserves every input column (the api.py
    ``fetch(bounds=...)`` path, where the query's projection is the
    user's business)."""
    cells = sorted(region.cells())
    zones = sorted({z for z, _ in cells})
    cids = ", ".join(str(z * _CID + b) for z, b in cells)
    pz = _zone_sql("p.dec")
    cell_id = f"{pz} * {_CID} + {_bucket_sql('p.ra', pz)}"
    member = _bind_once(
        {"ra": "ra", "dec": "dec"},
        f"{cell_id} IN ({cids}) AND {region.refine_sql('p.ra', 'p.dec')}",
    )
    if "z" in pts.columns:
        zone_test = f"z IN ({', '.join(map(str, zones))})"
    else:
        zone_test = f"array_contains({array_sql(zones)}, {_zone_sql('dec')})"
    out = pts.filter(f"{zone_test} AND {member}" if cells else "false")
    if keep_all:
        return out
    return out.select("event_id", "ra", "dec")


def build_region_layout(spark, sf_dir: str) -> str:
    """Materialize the events sky positions zone-PARTITIONED (LSD's
    cell directories as Parquet `partitionBy(z)`), once per session.
    Region queries over this layout get true partition pruning: the
    candidate zone list lands in the scan's PartitionFilters and
    non-candidate directories are never opened. At 100 TB this is the
    ingest-time layout (partitionBy zone, bucketBy b)."""
    from lsd_spark.plans.materialize import materialized

    def build(base: str) -> str:
        pts = (
            sphere_points(spark, sf_dir, None)
            .withColumn("z", F.expr(_zone_sql("dec")))
            .withColumn("b", F.expr(_bucket_sql("ra", "z")))
        )
        path = os.path.join(base, "sky")
        # one file per zone dir at test scale (repartition by the
        # partition column so 32 tasks don't each open 180 writers)
        pts.repartition("z").write.mode("overwrite").partitionBy("z").parquet(path)
        return path

    return materialized(spark, "region_layout", sf_dir, build, prefix="lsd_region_")


# --- registered operators -------------------------------------------------

CONE = Cone(40.0, 10.0, 8.0)
POLY = Poly(
    [
        (192.0005, -22.0005),
        (207.0005, -25.0005),
        (212.0005, -36.0005),
        (200.0005, -44.0005),
        (188.0005, -33.0005),
    ]
)
ALGEBRA = (Cone(320.0, 45.0, 10.0) | Rect(300.0, 340.0, 30.0, 50.0)) - Cone(
    320.0, 45.0, 4.0
)


def _region_oracle(region: Region) -> str:
    return (
        f"WITH p AS ({_sphere_points_sql(None)}) "
        f"SELECT event_id, ra, dec FROM p "
        f"WHERE {region.refine_sql('ra', 'dec')} ORDER BY event_id"
    )


@register("filter_region_cone", oracle=_region_oracle(CONE), cacheable=False)
def filter_region_cone(spark, sf_dir):
    """Cone (beam) footprint query over the zone-partitioned layout:
    LSD's `db.query(...).fetch(bounds=beam(ra, dec, r))`
    [lsd:src/lsd/bounds.py — UNVERIFIED]. The candidate zones land in
    PartitionFilters (directory pruning before any I/O), the bucket
    cells prune within the zone, and the haversine refine is exact.
    Oracle: the refine alone brute-forced over every row — a
    different plan that agrees iff the cell set is a true superset."""
    path = build_region_layout(spark, sf_dir)
    pts = spark.read.parquet(path)
    return region_select(pts, CONE)


@register("filter_region_poly", oracle=_region_oracle(POLY))
def filter_region_poly(spark, sf_dir):
    """Polygon footprint query (survey footprints are polygons):
    bbox cells + even-odd ray casting with literal slopes, derived
    cell keys (no layout needed — the same compile serves ad-hoc
    tables)."""
    return region_select(sphere_points(spark, sf_dir, None), POLY)


@register("filter_region_algebra", oracle=_region_oracle(ALGEBRA))
def filter_region_algebra(spark, sf_dir):
    """Region ALGEBRA: (cone ∪ rect) − inner cone — LSD's footprint
    union/intersection/difference [lsd:src/lsd/bounds.py —
    UNVERIFIED]. Cell sets compose set-wise (union of candidates,
    minus keeps the left side's), the refine composes boolean-wise;
    the whole composite is still one map-only scan."""
    return region_select(sphere_points(spark, sf_dir, None), ALGEBRA)


# --- HEALPix covering: the second pruning geometry ------------------------

HPX_NSIDE = 16
HPX_BOUND_DEG = 4.5  # >= max center-to-member-point separation at
#   nside 16 (3.70 deg measured over 2e5 random points against the
#   engine-neutral ang2pix text; tests/test_region.py pins < 4.5)


def hpx_ring_centers(nside: int):
    """Pixel centers (ra_deg, dec_deg) for every RING pixel — the
    standard pix2ang inverse (Gorski et al. 2005, public formulas),
    driver-side numpy. Validated empirically against the SQL
    ang2pix: every sampled sky point lies within HPX_BOUND_DEG of
    its assigned pixel's center (tests/test_region.py)."""
    import numpy as np

    npix = 12 * nside * nside
    ncap = 2 * nside * (nside - 1)
    p = np.arange(npix)
    z = np.empty(npix)
    phi = np.empty(npix)
    m = p < ncap  # north cap
    hip = (p[m] + 1) / 2.0
    iring = np.floor(np.sqrt(hip - np.sqrt(np.floor(hip)))).astype(int) + 1
    iphi = p[m] + 1 - 2 * iring * (iring - 1)
    z[m] = 1.0 - iring**2 / (3.0 * nside * nside)
    phi[m] = (iphi - 0.5) * np.pi / (2.0 * iring)
    m = (p >= ncap) & (p < npix - ncap)  # equatorial belt
    ip = p[m] - ncap
    iring = ip // (4 * nside) + nside
    iphi = ip % (4 * nside) + 1
    fodd = 0.5 * (1 + (iring + nside) % 2)
    z[m] = (2.0 * nside - iring) * 2.0 / (3.0 * nside)
    phi[m] = (iphi - fodd) * np.pi / (2.0 * nside)
    m = p >= npix - ncap  # south cap
    ip = npix - p[m]
    hip = ip / 2.0
    iring = np.floor(np.sqrt(hip - np.sqrt(np.floor(hip)))).astype(int) + 1
    iphi = 4 * iring + 1 - (ip - 2 * iring * (iring - 1))
    z[m] = -1.0 + iring**2 / (3.0 * nside * nside)
    phi[m] = (iphi - 0.5) * np.pi / (2.0 * iring)
    return np.degrees(phi) % 360.0, np.degrees(np.arcsin(np.clip(z, -1, 1)))


def cone_healpix_pixels(ra0: float, dec0: float, radius: float, nside: int):
    """Sorted candidate RING pixels for a cone: every pixel whose
    CENTER is within radius + HPX_BOUND_DEG of the cone center.
    Superset by the triangle inequality: a member point p in pixel
    q has dist(center_q, cone) <= dist(center_q, p) + dist(p, cone)
    <= HPX_BOUND_DEG + radius — given the empirically-pinned lemma
    that every point sits within HPX_BOUND_DEG of its own pixel's
    center."""
    import numpy as np

    cra, cdec = hpx_ring_centers(nside)
    r1, d1 = math.radians(ra0), math.radians(dec0)
    r2, d2 = np.radians(cra), np.radians(cdec)
    h = (
        np.sin((d2 - d1) / 2) ** 2
        + math.cos(d1) * np.cos(d2) * np.sin((r2 - r1) / 2) ** 2
    )
    sep = np.degrees(2 * np.arcsin(np.minimum(1.0, np.sqrt(h))))
    return sorted(int(x) for x in np.nonzero(sep <= radius + HPX_BOUND_DEG)[0])


HPX_CONE = Cone(205.0, -35.0, 6.0)


@register("filter_region_healpix", oracle=_region_oracle(HPX_CONE))
def filter_region_healpix(spark, sf_dir):
    """Cone footprint compiled to a HEALPix pixel IN-list — the same
    two-phase compile as filter_region_cone but on the RING
    pixelization instead of the (zone, bucket) grid: candidate
    pixels are driver-computed literals (center within radius +
    HPX_BOUND_DEG), membership is the engine-neutral ang2pix text
    (map-only, no trig divergence risk beyond a measure-zero ring
    boundary), then the exact haversine refine. At 100 TB the pixel
    is the ingest partition/bucket key (fn_healpix_nest documents
    the hierarchical layout), so the IN-list becomes partition
    pruning exactly like the zone layout's PartitionFilters. Oracle:
    the refine alone, brute-forced — agrees iff the covering is a
    true superset.

    The membership predicate is one `_bind_once` let-binding rather
    than a filter over derived ra/dec columns: the pixel formula
    references its inputs ~15 times each, and the naive
    `withColumn + filter` plan executed 67 md5 derivations per row
    (150 s over the 100x sky dir vs 25 s for this shape; round-10
    profile). The lambda binds ra/dec/z/tt ONCE per row; the body
    references only the cheap lambda-struct fields. Deterministic,
    JVM-side, no materialization — the idiomatic fix when the
    filter key is an expensive derived expression."""
    from lsd_spark.plans.sphere import (
        DEC_SPARK_SQL,
        RA_SPARK_SQL,
        healpix_ring_zt_sql,
    )

    pix = cone_healpix_pixels(
        HPX_CONE.ra0, HPX_CONE.dec0, HPX_CONE.radius, HPX_NSIDE
    )
    pix_list = ", ".join(str(p) for p in pix)
    body = healpix_ring_zt_sql("p.z", "p.tt", HPX_NSIDE)
    member = _bind_once(
        {
            "ra": RA_SPARK_SQL,
            "dec": DEC_SPARK_SQL,
            "z": f"sin(radians({DEC_SPARK_SQL}))",
            "tt": f"((({RA_SPARK_SQL} % 360.0 + 360.0) % 360.0) / 90.0 % 4.0)",
        },
        f"({body}) IN ({pix_list}) AND ({HPX_CONE.refine_sql('p.ra', 'p.dec')})",
    )
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(member)
        .selectExpr(
            "event_id",
            f"{RA_SPARK_SQL} AS ra",
            f"{DEC_SPARK_SQL} AS dec",
        )
    )


# --- space x time bounds: the full LSD query-bounds product ---------------

T_LO_US = 1_704_672_000_000_000  # 2024-01-08 UTC
T_HI_US = 1_705_881_600_000_000  # 2024-01-22 UTC (exclusive)


@register(
    "filter_region_time",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None, ('ts',))}) "
        f"SELECT event_id, ra, dec, epoch_us(ts) AS t_us FROM p "
        f"WHERE ({CONE.refine_sql('ra', 'dec')}) "
        f"AND epoch_us(ts) >= {T_LO_US} AND epoch_us(ts) < {T_HI_US} "
        "ORDER BY event_id"
    ),
)
def filter_region_time(spark, sf_dir):
    """The FULL LSD query bound: footprint × time interval — LSD
    intersects (space region, time interval) with each table's cell
    index, where cells are keyed by (sky cell, temporal epoch)
    [lsd:src/lsd/bounds.py intervalset × footprint — UNVERIFIED,
    SURVEY.md §1.1/§3.1 stage 3]. Here both dimensions prune: the
    cone compiles to candidate (zone, bucket) cells exactly like
    filter_region_cone, and the epoch predicate is an integer-
    microsecond range that reaches the parquet scan as a pushed
    filter (row-group min/max skipping; over an epoch-bucketed
    layout it becomes directory pruning, the second axis of LSD's
    cell grid). Map-only after the scan; no shuffle."""
    pts = sphere_points(spark, sf_dir, None, cols=("ts",))
    t_us = F.unix_micros("ts")
    pts = pts.withColumn("t_us", t_us).filter(
        (t_us >= T_LO_US) & (t_us < T_HI_US)
    )
    return (
        region_select(pts, CONE, keep_all=True)
        .select("event_id", "ra", "dec", "t_us")
    )


# --- spatial join: points against a polygon footprint table ---------------


def _quad_inside_sql(ra: str, dec: str) -> str:
    """Point-in-convex-quad as four half-plane tests against per-row
    vertex columns (x1..x4, y1..y4, CCW) — one engine-neutral text;
    planar (ra, dec) geometry by definition (footprints here are
    small and away from the RA wrap)."""
    edges = []
    for i, j in ((1, 2), (2, 3), (3, 4), (4, 1)):
        edges.append(
            f"((x{j} - x{i}) * (({dec}) - y{i}) - "
            f"(y{j} - y{i}) * (({ra}) - x{i}) >= 0.0)"
        )
    return " AND ".join(edges)


# poly_id -> CCW vertices; convexity + CCW pinned in tests/test_region.py
QUAD_POLYGONS = {
    1: [(40.0, 5.0), (60.0, 5.0), (60.0, 20.0), (40.0, 20.0)],
    2: [(100.0, -10.0), (110.0, 0.0), (100.0, 10.0), (90.0, 0.0)],
    3: [(200.0, 40.0), (230.0, 45.0), (225.0, 60.0), (205.0, 58.0)],
}
_BAND_DEG = 10.0  # coarse dec-band join key (10-deg bands)


def _quad_band_rows() -> list[tuple]:
    """(poly_id, band, x1, y1, ..., x4, y4) — one row per dec band a
    polygon's bbox overlaps (driver-side literals, like region
    cells)."""
    rows = []
    for pid, vs in sorted(QUAD_POLYGONS.items()):
        lo = int((min(y for _, y in vs) + 90.0) // _BAND_DEG)
        hi = int((max(y for _, y in vs) + 90.0) // _BAND_DEG)
        flat = [c for v in vs for c in v]
        for band in range(lo, hi + 1):
            rows.append(tuple([pid, band] + flat))
    return rows


_BAND_SQL = "CAST(FLOOR((dec + 90.0) / 10.0) AS INT)"


def _quad_values_sql() -> str:
    vals = ", ".join(
        "(" + ", ".join(repr(c) for c in row) + ")" for row in _quad_band_rows()
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS q(poly_id, band, x1, y1, x2, y2, x3, y3, x4, y4)"
    )


@register(
    "join_point_in_polygon",
    oracle=(
        f"WITH p AS (SELECT *, {_BAND_SQL} AS band FROM "
        f"({_sphere_points_sql(None)})), q AS ({_quad_values_sql()}) "
        "SELECT p.event_id, q.poly_id FROM p JOIN q ON p.band = q.band "
        f"AND ({_quad_inside_sql('p.ra', 'p.dec')}) "
        "ORDER BY event_id, poly_id"
    ),
)
def join_point_in_polygon(spark, sf_dir):
    """Spatial join of a point catalog against a polygon-footprint
    table (which survey field does each detection fall in?) — the
    join form of filter_region_poly, LSD's footprint test applied
    per polygon row [lsd:src/lsd/bounds.py — UNVERIFIED].

    Plan: polygons explode driver-side to one row per overlapped
    dec band (literal rows, like region cells), points derive the
    same band key in-plan, and the join is a BROADCAST EQUI-join on
    the band with the exact half-plane refine in the join condition
    — never a nested-loop over all (point, polygon) pairs. At 100 TB
    the polygon side is always broadcast-size (footprint tables are
    thousands of rows) and the band key bounds each point's
    candidate set; a denser grid (the (zone, bucket) cells) drops in
    for skinnier candidates without changing the shape."""
    from pyspark.sql.functions import broadcast

    pts = sphere_points(spark, sf_dir, None).withColumn("band", F.expr(_BAND_SQL))
    schema = "poly_id INT, band INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE, x3 DOUBLE, y3 DOUBLE, x4 DOUBLE, y4 DOUBLE"
    quads = spark.createDataFrame(_quad_band_rows(), schema=schema)
    cond = (pts["band"] == quads["band"]) & F.expr(_quad_inside_sql("ra", "dec"))
    return (
        pts.join(broadcast(quads), cond, "inner")
        .select("event_id", "poly_id")
    )


# --- dynamic partition pruning over the zone layout -----------------------

TARGET_MOD = 9973  # deterministic rare target list: event_id % mod == 0

_Z_SQL = _zone_sql("dec")


@register(
    "scan_partition_prune_dynamic",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None)}), "
        f"pz AS (SELECT event_id, {_Z_SQL} AS z FROM p), "
        f"t AS (SELECT DISTINCT z FROM pz WHERE event_id % {TARGET_MOD} = 0) "
        "SELECT pz.z, count(*) AS n_pts FROM pz JOIN t ON pz.z = t.z "
        "GROUP BY pz.z ORDER BY pz.z"
    ),
    cacheable=False,
)
def scan_partition_prune_dynamic(spark, sf_dir):
    """DYNAMIC partition pruning: fetch the full contents of every
    zone containing a target-list object — LSD's neighborhood
    retrieval ("give me the cells my targets live in"), and the
    partition-pruning case `scan_partition_prune` can NOT express:
    the zone set comes from DATA (a runtime subquery), not from a
    literal predicate, so static pruning is impossible by
    construction.

    Plan: the zone-PARTITIONED sky layout (build_region_layout —
    at 100 TB the ingest-time directory layout) joined on the
    partition column `z` to the filtered target list. Catalyst
    inserts a DPP filter — the fact scan's PartitionFilters gain
    `dynamicpruningexpression(z IN subquery)`, executed as a reused
    broadcast — so non-target zone DIRECTORIES are never opened:
    at sf0.1 the scan reads ~11 of 180 zone dirs, and at 100 TB the
    same plan reads only the target cells' bytes
    (tests/test_plans.py pins the dynamicpruning marker in the
    executed plan). The target list itself is a full scan of the
    layout but keeps ~1/10000 of rows (selective filter -> tiny
    broadcast); per-zone counts are map-side combined."""
    path = build_region_layout(spark, sf_dir)
    fact = spark.read.parquet(path)
    targets = (
        spark.read.parquet(path)
        .filter(F.col("event_id") % TARGET_MOD == 0)
        .select("z")
        .distinct()
    )
    return (
        fact.join(F.broadcast(targets), "z")
        .groupBy("z")
        .agg(F.count("*").alias("n_pts"))
    )
