"""Coordinate transforms — LSD's registered astro helpers usable
inside query expressions (``equgal`` and friends)
[lsd:src/lsd/query_parser.py function namespace — UNVERIFIED,
SURVEY.md §2.H].

Equatorial (ra, dec, J2000) -> galactic (l, b) is the standard
rotation through the north galactic pole (public IAU constants:
NGP at ra 192.85948°, dec 27.12825°; galactic longitude of the
north celestial pole 122.93192°):

    sin b = sin δ sin δ_G + cos δ cos δ_G cos(α − α_G)
    l = l_NCP − atan2(cos δ sin(α − α_G),
                      sin δ cos δ_G − cos δ sin δ_G cos(α − α_G))

Emitted as ONE engine-neutral SQL text (the fn_healpix trick): the
identical expression runs through Spark's F.expr and DuckDB, so both
engines execute the same IEEE sequence; outputs are rounded to 1e-6
deg (3.6 mas), far above any 1-ulp libm divergence, which is what
lets a trig-heavy scalar function keep a full hash-match oracle.

Map-only at any scale: a narrow projection, no shuffle, whole-stage
codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.plans.sphere import (
    N_SIDE,
    _sphere_points_sql,
    healpix_bound,
    healpix_ring_sql,
    sphere_points,
)
from lsd_spark.registry import register

_HPX_DUCK_RING = healpix_ring_sql("ra", "dec", N_SIDE)

RA_NGP = 192.85948
DEC_NGP = 27.12825
L_NCP = 122.93192


def equgal_sql(ra: str, dec: str) -> tuple[str, str]:
    """(l_expr, b_expr) in degrees, engine-neutral SQL text."""
    sd, cd = f"sin(radians({dec}))", f"cos(radians({dec}))"
    sdg, cdg = f"sin(radians({DEC_NGP!r}))", f"cos(radians({DEC_NGP!r}))"
    dra = f"radians(({ra}) - {RA_NGP!r})"
    sinb = f"({sd} * {sdg} + {cd} * {cdg} * cos({dra}))"
    b = f"degrees(asin(greatest(-1.0, least(1.0, {sinb}))))"
    l = (
        f"(({L_NCP!r} - degrees(atan2({cd} * sin({dra}), "
        f"{sd} * {cdg} - {cd} * {sdg} * cos({dra})))) % 360.0 + 360.0) % 360.0"
    )
    return l, b


def galequ_sql(l: str, b: str) -> tuple[str, str]:
    """(ra_expr, dec_expr) in degrees — the inverse rotation
    (galactic -> equatorial, same public IAU constants):

        sin δ = sin b sin δ_G + cos b cos δ_G cos(l_NCP − l)
        α = α_G + atan2(cos b sin(l_NCP − l),
                        sin b cos δ_G − cos b sin δ_G cos(l_NCP − l))
    """
    sb, cb = f"sin(radians({b}))", f"cos(radians({b}))"
    sdg, cdg = f"sin(radians({DEC_NGP!r}))", f"cos(radians({DEC_NGP!r}))"
    dl = f"radians({L_NCP!r} - ({l}))"
    sind = f"({sb} * {sdg} + {cb} * {cdg} * cos({dl}))"
    dec = f"degrees(asin(greatest(-1.0, least(1.0, {sind}))))"
    ra = (
        f"(({RA_NGP!r} + degrees(atan2({cb} * sin({dl}), "
        f"{sb} * {cdg} - {cb} * {sdg} * cos({dl})))) % 360.0 + 360.0) % 360.0"
    )
    return ra, dec


_L_SQL, _B_SQL = equgal_sql("ra", "dec")
_RA_EQ_SQL, _DEC_EQ_SQL = galequ_sql("ra", "dec")  # events (ra,dec) read as (l,b)


@register(
    "fn_equgal",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None)}) "
        f"SELECT event_id, ROUND({_L_SQL}, 6) AS gal_l, "
        f"ROUND({_B_SQL}, 6) AS gal_b "
        "FROM p ORDER BY event_id"
    ),
)
def fn_equgal(spark, sf_dir):
    """equgal(ra, dec) -> (l, b) over every event's sky position —
    LSD registers this transform in its query function namespace so
    users write `SELECT equgal(ra, dec) FROM catalog` directly
    [lsd:src/lsd/query_parser.py — UNVERIFIED]. Identical expression
    text runs in the DuckDB oracle; rounded to 1e-6 deg."""
    pts = sphere_points(spark, sf_dir, None)
    return pts.select(
        "event_id",
        F.round(F.expr(_L_SQL), 6).alias("gal_l"),
        F.round(F.expr(_B_SQL), 6).alias("gal_b"),
    )


@register(
    "fn_galequ",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None)}) "
        f"SELECT event_id, ROUND({_RA_EQ_SQL}, 6) AS eq_ra, "
        f"ROUND({_DEC_EQ_SQL}, 6) AS eq_dec "
        "FROM p ORDER BY event_id"
    ),
)
def fn_galequ(spark, sf_dir):
    """galequ(l, b) -> (ra, dec): the inverse of fn_equgal, also in
    LSD's query function namespace [lsd:src/lsd/query_parser.py —
    UNVERIFIED]. The events sky positions are read as galactic input
    here (any (lon, lat) pair is a valid domain point for the
    rotation); tests/test_region.py pins the analytic inverse
    property galequ(equgal(ra, dec)) == (ra, dec) to 1e-6 deg.
    Identical expression text runs in the DuckDB oracle; map-only,
    whole-stage codegen, no shuffle."""
    pts = sphere_points(spark, sf_dir, None)
    return pts.select(
        "event_id",
        F.round(F.expr(_RA_EQ_SQL), 6).alias("eq_ra"),
        F.round(F.expr(_DEC_EQ_SQL), 6).alias("eq_dec"),
    )


# --- proper motion: per-object linear fit over the detection history ------

T0_US = 1_704_067_200_000_000  # 2024-01-01 UTC — conditioning offset only
#   (an OLS slope is shift-invariant; centering just keeps the co-moment
#   sums small). Fixture events span ~30 days from this instant.

_PM_T_DUCK = f"(CAST(epoch_us(ts) AS DOUBLE) - {T0_US}.0) / 86400000000.0"


@register(
    "agg_proper_motion",
    oracle=(
        f"SELECT user_id, COUNT(*) AS n_det, "
        f"CAST(FLOOR(regr_slope(ra, {_PM_T_DUCK}) * 1000 + 0.5) AS BIGINT) "
        "AS pm_ra_q, "
        f"CAST(FLOOR(regr_slope(dec, {_PM_T_DUCK}) * 1000 + 0.5) AS BIGINT) "
        "AS pm_dec_q "
        f"FROM ({_sphere_points_sql(None, ('ts', 'user_id'))}) p "
        "GROUP BY user_id HAVING COUNT(*) >= 3 ORDER BY user_id"
    ),
)
def agg_proper_motion(spark, sf_dir):
    """Per-object proper-motion fit — THE Pan-STARRS use case LSD was
    built for: regress each object's (ra, dec) detection history
    against epoch and report the slope (deg/day here; mas/yr in a
    real catalog) [lsd:lsd-make-object-catalog + kernels over
    detections — UNVERIFIED, SURVEY.md §3.2/§3.3].

    Spark shape: regr_slope is a built-in declarative aggregate
    (JVM-side co-moment accumulation, map-side combined) — ONE hash
    aggregate, one shuffle of one co-moment tuple per object at any
    scale; never a per-object collect or Python fit. Slopes are
    FLOOR-quantized at 1e-3 deg/day (agg_stats_corr convention) so
    both engines' single-pass co-moment reassociation (~1e-12
    relative) hashes identically. Objects need >= 3 epochs for a
    meaningful fit (and to dodge the n=1 NULL-variance edge)."""
    pts = sphere_points(spark, sf_dir, None, cols=("ts", "user_id"))
    t_day = (F.unix_micros("ts").cast("double") - F.lit(float(T0_US))) / 86400000000.0
    return (
        pts.groupBy("user_id")
        .agg(
            F.count("*").alias("n_det"),
            F.floor(F.regr_slope(F.col("ra"), t_day) * 1000 + 0.5)
            .cast("bigint")
            .alias("pm_ra_q"),
            F.floor(F.regr_slope(F.col("dec"), t_day) * 1000 + 0.5)
            .cast("bigint")
            .alias("pm_dec_q"),
        )
        .filter(F.col("n_det") >= 3)
    )


# --- sexagesimal formatting: deg -> HH:MM:SS.mmm / ±DD:MM:SS.mm -----------


def _sexa_sql(ra: str, dec: str) -> tuple[str, str]:
    """(ra_hms_expr, dec_dms_expr) — engine-neutral SQL text. All
    arithmetic runs on exact BIGINT millisecond counts (one double
    multiply + FLOOR at the top, integer / % below), so there is no
    printf/format divergence surface between engines; the double
    division by the ms-per-unit constants can't cross a floor
    boundary because the true quotient is never within 2.8e-7 of an
    integer while the IEEE error is ~1e-15 relative."""
    ms_ra = f"CAST(FLOOR(({ra}) * 240000.0 + 0.5) AS BIGINT)"  # ra deg -> hour-ms
    ms_de = f"CAST(FLOOR(abs({dec}) * 3600000.0 + 0.5) AS BIGINT)"  # deg-arcms

    def f2(x: str) -> str:
        return f"lpad(CAST({x} AS STRING), 2, '0')"

    def hms(ms: str, frac_digits: int) -> str:
        h = f"CAST(FLOOR({ms} / 3600000.0) AS BIGINT)"
        m = f"CAST(FLOOR(({ms} % 3600000) / 60000.0) AS BIGINT)"
        s = f"CAST(FLOOR(({ms} % 60000) / 1000.0) AS BIGINT)"
        fr = f"lpad(CAST(CAST(FLOOR(({ms} % 1000) / "
        fr += f"{10 ** (3 - frac_digits)}.0) AS BIGINT) AS STRING), {frac_digits}, '0')"
        return f"{f2(h)} || ':' || {f2(m)} || ':' || {f2(s)} || '.' || {fr}"

    sign = f"CASE WHEN ({dec}) < 0 THEN '-' ELSE '+' END"
    return hms(ms_ra, 3), f"{sign} || {hms(ms_de, 2)}"


_RA_HMS, _DEC_DMS = _sexa_sql("ra", "dec")


@register(
    "fn_sexagesimal",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None)}) "
        f"SELECT event_id, {_RA_HMS} AS ra_hms, {_DEC_DMS} AS dec_dms "
        "FROM p ORDER BY event_id"
    ),
)
def fn_sexagesimal(spark, sf_dir):
    """Sexagesimal coordinate formatting (deg -> 'HH:MM:SS.mmm' /
    '±DD:MM:SS.mm') — the catalog-output convention every LSD query
    report uses [lsd:src/lsd/query_parser.py function namespace —
    UNVERIFIED]. Identical expression text both engines; map-only,
    whole-stage codegen, no shuffle."""
    pts = sphere_points(spark, sf_dir, None)
    return pts.select(
        "event_id",
        F.expr(_RA_HMS).alias("ra_hms"),
        F.expr(_DEC_DMS).alias("dec_dms"),
    )


# --- sky coverage: occupied-HEALPix summary of a catalog ------------------

_NPIX = 12 * N_SIDE * N_SIDE  # 3072 at nside 16
_SKY_DEG2_X100 = 4125296.125  # full-sky solid angle, deg^2 * 100


@register(
    "agg_sky_coverage",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None)}) "
        f"SELECT COUNT(DISTINCT {_HPX_DUCK_RING}) AS npix_hit, "
        f"{_NPIX} AS npix_total, "
        f"CAST(FLOOR(COUNT(DISTINCT {_HPX_DUCK_RING}) * 1000000.0 / {_NPIX}.0 "
        "+ 0.5) AS BIGINT) AS coverage_ppm, "
        f"CAST(FLOOR(COUNT(DISTINCT {_HPX_DUCK_RING}) * {_SKY_DEG2_X100} / "
        f"{_NPIX}.0 + 0.5) AS BIGINT) AS area_cdeg2 "
        "FROM p"
    ),
)
def agg_sky_coverage(spark, sf_dir):
    """Survey sky-coverage summary: occupied HEALPix pixels, covered
    fraction, and solid angle — the footprint audit LSD derives from
    its cell index [lsd:src/lsd/bounds.py footprint area —
    UNVERIFIED]. Plan: map-side partial distinct on the 12*nside^2
    pixel key (bounded domain — the shuffle moves at most npix_total
    rows regardless of catalog size), then a 1-row global agg; the
    pixel values are the shared engine-neutral ang2pix formula,
    computed via healpix_bound's column binding (round-11 VERDICT #4:
    the single-expression text re-evaluates its z/tt copies per row;
    binding them as columns cut the ring family ~4x at the 100x sky
    dir with identical pixel values)."""
    pts = sphere_points(spark, sf_dir, None)
    hit = F.countDistinct("hpx")
    return healpix_bound(pts, N_SIDE, "ring", "hpx").agg(
        hit.alias("npix_hit"),
        F.lit(_NPIX).cast("int").alias("npix_total"),
        F.floor(hit * 1000000.0 / float(_NPIX) + 0.5)
        .cast("bigint")
        .alias("coverage_ppm"),
        F.floor(hit * _SKY_DEG2_X100 / float(_NPIX) + 0.5)
        .cast("bigint")
        .alias("area_cdeg2"),
    )


# --- MJD <-> timestamp conversion ----------------------------------------

_MJD_UNIX_EPOCH = 40587  # 1970-01-01 00:00 UTC in Modified Julian Days
_US_PER_DAY = 86_400_000_000


@register(
    "fn_mjd_convert",
    oracle=(
        "WITH e AS (SELECT event_id, ts, "
        "epoch_us(ts) AS us FROM events WHERE event_type = 'click'), "
        f"m AS (SELECT event_id, ts, us + CAST({_MJD_UNIX_EPOCH} AS BIGINT) "
        f"* {_US_PER_DAY} AS mjd_us FROM e) "
        f"SELECT event_id, CAST(mjd_us // {_US_PER_DAY} AS BIGINT) AS mjd_day, "
        f"CAST(mjd_us % {_US_PER_DAY} AS BIGINT) AS mjd_frac_us, "
        f"CAST(FLOOR((CAST(mjd_us AS DOUBLE) / {_US_PER_DAY}) * 100000 + 0.5) "
        "AS BIGINT) AS mjd_x1e5, "
        f"CAST(CASE WHEN make_timestamp(mjd_us - CAST({_MJD_UNIX_EPOCH} AS BIGINT) "
        f"* {_US_PER_DAY}) = ts THEN 1 ELSE 0 END AS INT) AS roundtrip_ok "
        "FROM m ORDER BY event_id"
    ),
)
def fn_mjd_convert(spark, sf_dir):
    """Modified-Julian-Date conversion — the astronomical time axis
    LSD stamps on every detection (epoch keys, proper-motion
    baselines). Both directions, EXACT: timestamp -> MJD as integer
    microseconds since the MJD epoch (Unix epoch == MJD 40587, a
    public constant), split into whole days + intra-day microseconds
    by integer division — no float time arithmetic anywhere, so the
    oracle is bit-exact by construction; the conventional fractional
    MJD is emitted only as a quantized display column (x1e5 ~ 0.9 s
    resolution). The inverse direction is verified in-row:
    make_timestamp/timestamp_micros(mjd_us - epoch_offset) must
    reproduce the source timestamp (roundtrip_ok == 1 for every
    row).

    Map-only projection, whole-stage codegen, no shuffle at any
    scale — the canonical cheap derived-column stamp an ingest
    pipeline fuses into its first pass."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "ts")
    )
    us = F.unix_micros(F.col("ts"))
    mjd_us = us + F.lit(_MJD_UNIX_EPOCH).cast("long") * F.lit(_US_PER_DAY)
    back = F.timestamp_micros(
        mjd_us - F.lit(_MJD_UNIX_EPOCH).cast("long") * F.lit(_US_PER_DAY)
    )
    return ev.select(
        "event_id",
        (mjd_us / F.lit(_US_PER_DAY)).cast("long").alias("mjd_day"),
        (mjd_us % F.lit(_US_PER_DAY)).cast("long").alias("mjd_frac_us"),
        F.floor((mjd_us.cast("double") / _US_PER_DAY) * 100000 + 0.5)
        .cast("long")
        .alias("mjd_x1e5"),
        F.when(back == F.col("ts"), 1).otherwise(0).cast("int").alias("roundtrip_ok"),
    )


# --- sky dipole moment ------------------------------------------------------

_DIP_SCALE = 1_000_000  # per-object unit-vector components on a 1e-6 grid

# identical expression text in both engines: unit vector of (ra, dec),
# each component quantized to an exact integer BEFORE any aggregation
# (per-element trig agrees across engines to well below 1e-6 — the
# xmatch family pins distances at 1e-9 — and integer sums are exact,
# so no accumulation-order skew can reach the output)
_DIP_X = (
    f"CAST(FLOOR(cos(radians(dec)) * cos(radians(ra)) * {_DIP_SCALE} + 0.5) "
    "AS BIGINT)"
)
_DIP_Y = (
    f"CAST(FLOOR(cos(radians(dec)) * sin(radians(ra)) * {_DIP_SCALE} + 0.5) "
    "AS BIGINT)"
)
_DIP_Z = f"CAST(FLOOR(sin(radians(dec)) * {_DIP_SCALE} + 0.5) AS BIGINT)"


@register(
    "agg_dipole_sky",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None)}), "
        f"v AS (SELECT {_DIP_X} AS x, {_DIP_Y} AS y, {_DIP_Z} AS z FROM p), "
        "s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, "
        "SUM(z) AS sz FROM v) "
        "SELECT CAST(n AS BIGINT) AS n, "
        "CAST(FLOOR(sx / (100.0 * n) + 0.5) AS BIGINT) AS x_x1e4, "
        "CAST(FLOOR(sy / (100.0 * n) + 0.5) AS BIGINT) AS y_x1e4, "
        "CAST(FLOOR(sz / (100.0 * n) + 0.5) AS BIGINT) AS z_x1e4, "
        "CAST(FLOOR(SQRT(CAST(sx AS DOUBLE) * sx + CAST(sy AS DOUBLE) * sy "
        "+ CAST(sz AS DOUBLE) * sz) / (100.0 * n) + 0.5) AS BIGINT) "
        "AS amp_x1e4 FROM s"
    ),
)
def agg_dipole_sky(spark, sf_dir):
    """Sky-distribution dipole moment: the mean unit vector of every
    source position and its amplitude — the standard isotropy test
    for a catalog (a uniform sky gives amplitude ~ 1/sqrt(N); a
    hemispheric depth bias or galactic-plane excess shows up as a
    significant dipole; the same statistic CMB and quasar-catalog
    anisotropy studies use, all public formulas).

    Each object's (x, y, z) unit vector is quantized to an exact
    1e-6-grid integer BEFORE summing, so the aggregate is exact
    bigint arithmetic and immune to accumulation order; only the
    final normalization divides (one correctly-rounded IEEE op per
    output). Plan: map-side projection + a single 4-accumulator
    global aggregate — one row out, map-side combine, no shuffle
    wider than the combine tree. 100 TB: the cheapest full-catalog
    statistic there is."""
    pts = sphere_points(spark, sf_dir, None)
    v = pts.select(
        F.expr(_DIP_X).alias("x"),
        F.expr(_DIP_Y).alias("y"),
        F.expr(_DIP_Z).alias("z"),
    )
    s = v.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.floor(F.col("sx") / (100.0 * F.col("n")) + 0.5)
        .cast("long")
        .alias("x_x1e4"),
        F.floor(F.col("sy") / (100.0 * F.col("n")) + 0.5)
        .cast("long")
        .alias("y_x1e4"),
        F.floor(F.col("sz") / (100.0 * F.col("n")) + 0.5)
        .cast("long")
        .alias("z_x1e4"),
        F.floor(
            F.sqrt(
                F.col("sx").cast("double") * F.col("sx")
                + F.col("sy").cast("double") * F.col("sy")
                + F.col("sz").cast("double") * F.col("sz")
            )
            / (100.0 * F.col("n"))
            + 0.5
        )
        .cast("long")
        .alias("amp_x1e4"),
    )


# --- galactic-latitude profile ----------------------------------------------

_GLAT_NBINS = 12  # |b| in [0, 90], 7.5-degree bins


@register(
    "agg_galactic_profile",
    oracle=(
        f"WITH p AS ({_sphere_points_sql(None)}), "
        f"g AS (SELECT ROUND({_B_SQL}, 6) AS b FROM p) "
        f"SELECT CAST(LEAST(FLOOR(ABS(b) / 7.5), {_GLAT_NBINS - 1}) "
        "AS INTEGER) AS b_bin, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM g GROUP BY b_bin ORDER BY b_bin"
    ),
)
def agg_galactic_profile(spark, sf_dir):
    """Source counts vs absolute galactic latitude — the classic
    star-counts profile (disk surveys rise steeply toward the
    plane; extragalactic catalogs dip there from extinction; LSD's
    own demos plot exactly this curve). The latitude reuses the
    fn_equgal rotation, rounded to 1e-6 deg BEFORE binning — the
    same pin that keeps fn_equgal hash-stable cross-engine — then
    binned in 7.5-degree |b| bands.

    Plan: map-side rotation + one bounded hash aggregate; output is
    12 rows at any corpus size. 100 TB: single scan, map-side
    combine, whole-stage codegen through the trig."""
    pts = sphere_points(spark, sf_dir, None)
    b = F.round(F.expr(_B_SQL), 6)
    return (
        pts.select(
            F.least(F.floor(F.abs(b) / 7.5), F.lit(_GLAT_NBINS - 1))
            .cast("int")
            .alias("b_bin")
        )
        .groupBy("b_bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
