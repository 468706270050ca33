"""LSD-style public API façade (lsd_spark/api.py): the db.query /
fetch / iterate / INTO / kernel-chain workflow a reference user
migrates to."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lsd_spark.api import DB, Map, Reduce
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def db(spark):
    return DB(spark, SF_DIR)


def test_query_fetch_matches_oracle(db, duck):
    pdf = db.query(
        "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag"
    ).fetch()
    want = dict(
        duck.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1").fetchall()
    )
    got = dict(zip(pdf.l_returnflag, pdf.cnt))
    assert got == want


def test_iterate_streams_all_rows(db):
    n = sum(1 for _ in db.query("SELECT r_name FROM region").iterate())
    assert n == db.query("SELECT * FROM region").count() == 5


def test_into_ctas_roundtrip(db):
    db.query("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders").into(
        "orders_slim", partition_by=["o_orderstatus"]
    )
    assert "orders_slim" in db.tables()
    back = db.query("SELECT count(*) AS c FROM orders_slim").fetch()
    orig = db.query("SELECT count(*) AS c FROM orders").fetch()
    assert back.c[0] == orig.c[0]


def test_kernel_chain_matches_sql(db, duck):
    """Map (project charge) -> Reduce (per-flag mean) must equal the
    equivalent plain SQL: the pool2-chain surface is semantics-free
    plumbing."""

    def charge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "flag": pdf["l_returnflag"],
                "charge": pdf["l_extendedprice"] * (1 - pdf["l_discount"]),
            }
        )

    def mean_charge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"flag": [key[0]], "avg_charge": [pdf["charge"].mean()]})

    out = (
        db.query("SELECT l_returnflag, l_extendedprice, l_discount FROM lineitem")
        .execute(
            [
                Map(charge, "flag string, charge double"),
                Reduce(mean_charge, "flag string, avg_charge double", key=["flag"]),
            ]
        )
        .toPandas()
    )
    want = dict(
        duck.sql(
            "SELECT l_returnflag, AVG(l_extendedprice * (1 - l_discount)) "
            "FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    got = dict(zip(out.flag, out.avg_charge))
    assert set(got) == set(want)
    for k in want:
        assert np.isclose(got[k], want[k], rtol=1e-9)


def test_map_kernel_can_expand_rows(db):
    """A Map kernel may emit != 1 output row per input row (LSD
    kernels yield freely)."""

    def tokenize(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = [
            {"doc_id": d, "token": t}
            for d, txt in zip(pdf["doc_id"], pdf["text"])
            for t in str(txt).split()[:3]
        ]
        return pd.DataFrame(rows, columns=["doc_id", "token"])

    out = (
        db.query("SELECT doc_id, text FROM documents WHERE doc_id < 20")
        .execute([Map(tokenize, "doc_id bigint, token string")])
        .toPandas()
    )
    assert len(out) > 20  # expanded
    assert set(out.columns) == {"doc_id", "token"}


def test_sink_compact_reduces_files(spark, tmp_path):
    """Compaction: 8 fragment files -> 1, identical rows."""
    from lsd_spark.catalog import load

    n = load(spark, "/root/testdata/sf0.001", "nation").select("n_nationkey")
    frag_dir, comp_dir = str(tmp_path / "frag"), str(tmp_path / "comp")
    n.repartition(8).write.parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    frag.coalesce(1).write.parquet(comp_dir)
    import glob

    n_frag = len(glob.glob(f"{frag_dir}/part-*"))
    n_comp = len(glob.glob(f"{comp_dir}/part-*"))
    assert n_frag == 8 and n_comp == 1, (n_frag, n_comp)
    assert spark.read.parquet(comp_dir).count() == n.count()


def test_db_op_accessor(spark):
    from lsd_spark.api import DB

    db = DB(spark, "/root/testdata/sf0.001")
    rows = db.op("agg_distinct").collect()
    assert len(rows) > 0
    try:
        db.op("nonexistent_op")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_declared_join_implicit_from_syntax(spark):
    """LSD's signature implicit-xmatch-join: after declare_join, a
    comma between the two tables in FROM resolves THROUGH the
    mapping; the result must equal the explicit 3-way join, and an
    UNDECLARED comma-join must keep cross-join semantics."""
    from lsd_spark.api import DB
    from lsd_spark.plans.sphere import R_SPHERE, sphere_points, sphere_xmatch

    sf = "/root/testdata/sf0.001"
    db = DB(spark, sf)
    p = sphere_points(spark, sf, "purchase")
    c = sphere_points(spark, sf, "click")
    db.query("SELECT 1").df()  # force base views
    p.createOrReplaceTempView("p_pts")
    c.createOrReplaceTempView("c_pts")

    mapping = sphere_xmatch(p, c, R_SPHERE).select("l_id", "r_id", "dist")
    db.declare_join(
        "p_pts", "c_pts", mapping, left_id="event_id", right_id="event_id"
    )

    implicit = db.query(
        "SELECT count(*) AS n FROM p_pts, c_pts"
    ).fetch()["n"][0]
    explicit = db.query(
        "SELECT count(*) AS n FROM p_pts "
        "JOIN _join_p_pts_c_pts j ON p_pts.event_id = j.l_id "
        "JOIN c_pts ON j.r_id = c_pts.event_id"
    ).fetch()["n"][0]
    assert implicit == explicit == mapping.count() > 0

    # reversed comma order resolves through the SAME mapping (inner
    # join is symmetric; silently cross-joining here was the round-3
    # ADVICE bug)
    rev = db.query("SELECT count(*) AS n FROM c_pts, p_pts").fetch()["n"][0]
    assert rev == implicit

    # undeclared pair: plain cross join is preserved
    db.table("nation").createOrReplaceTempView("nation")
    db.table("region").createOrReplaceTempView("region")
    cross = db.query("SELECT count(*) AS n FROM nation, region").fetch()["n"][0]
    assert cross == db.table("nation").count() * db.table("region").count()

    # DataFrame face carries the mapping extras (dist)
    xj = db.xjoin("p_pts", "c_pts")
    assert "dist" in xj.columns
    assert xj.count() == implicit


def test_implicit_join_rewriter_unit():
    """Pure-function tests of the FROM-list rewriter (round-3 ADVICE:
    the old whole-SQL regex missed reversed order, 3-table lists,
    unescaped names, and fired inside string literals)."""
    from lsd_spark.api import _rewrite_from_lists

    joins = {("obj", "det"): ("l_id", "r_id", "oid", "did")}
    exp = ("obj JOIN _join_obj_det ON obj.oid = _join_obj_det.l_id "
           "JOIN det ON _join_obj_det.r_id = det.did")

    # declared order
    assert _rewrite_from_lists("SELECT * FROM obj, det", joins) == \
        f"SELECT * FROM {exp}"
    # reversed order resolves too
    assert _rewrite_from_lists("SELECT * FROM det, obj", joins) == \
        f"SELECT * FROM {exp}"
    # pair anywhere in a 3-table comma list; third table kept
    assert _rewrite_from_lists("SELECT * FROM obj, extra, det", joins) == \
        f"SELECT * FROM {exp}, extra"
    # inside a string literal: untouched
    s = "SELECT 'FROM obj, det' AS lit FROM other"
    assert _rewrite_from_lists(s, joins) == s
    # inside a line comment: untouched
    s = "SELECT 1 -- FROM obj, det\nFROM other"
    assert _rewrite_from_lists(s, joins) == s
    # subquery FROM list is rewritten as well
    out = _rewrite_from_lists(
        "SELECT * FROM (SELECT oid FROM obj, det) t", joins)
    assert exp in out
    # aliased declared pair: loud error, never a silent cross join
    import pytest
    with pytest.raises(ValueError, match="comma-joined"):
        _rewrite_from_lists("SELECT * FROM obj o, det d", joins)
    # regex metachars in a declared name must not blow up matching
    joins2 = {("a$b", "c"): ("l", "r", "l", "r")}
    assert "JOIN _join_a$b_c" in _rewrite_from_lists(
        "SELECT * FROM a$b, c", joins2)
    # undeclared comma join: untouched (cross-join semantics kept)
    s = "SELECT * FROM nation, region"
    assert _rewrite_from_lists(s, joins) == s
    # EXTRACT's FROM is not a table list
    s = "SELECT EXTRACT(YEAR FROM ts) FROM obj"
    assert _rewrite_from_lists(s, joins) == s


# Spark-dialect twin of _sphere_points_sql (conv() for the hex parse;
# DuckDB uses its :: cast) — the same derived ra/dec, computed in the
# query the bounds scope, as an analyst's fetch computes them
SKY_SQL = (
    "SELECT event_id, "
    "CAST(CAST(conv(substr(md5(CAST(event_id AS STRING) || 'r'), 1, 15), 16, 10) "
    "AS BIGINT) % 360000 AS DOUBLE) / 1000.0 AS ra, "
    "CAST(CAST(conv(substr(md5(CAST(event_id AS STRING) || 'd'), 1, 15), 16, 10) "
    "AS BIGINT) % 180000 AS DOUBLE) / 1000.0 - 90.0 AS dec "
    "FROM events"
)


def _duck_ids(duck, region) -> set:
    from lsd_spark.plans.sphere import _sphere_points_sql

    return {
        r[0]
        for r in duck.sql(
            f"SELECT event_id FROM ({_sphere_points_sql(None)}) "
            f"WHERE {region.refine_sql('ra', 'dec')}"
        ).fetchall()
    }


def _plan_md5(df) -> int:
    """md5 derivations the executed plan evaluates: every operator
    line except the scan, whose DataFilters merely lists the filter
    it sits under."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(ln.count("md5") for ln in plan.splitlines() if "FileScan" not in ln)


def test_fetch_bounds_scopes_to_footprint(db, duck):
    """LSD's fetch(bounds=beam(...)) contract through the API: each
    bounds-scoped fetch must equal the brute-force refine evaluated
    by DuckDB over the same derived sky positions, and the API must
    reject projections lacking ra/dec. The regions cover each compile
    path: a union, a rectangle wrapping the RA 0/360 seam, a polygon,
    an intersection, a difference, and a beam of a few cells (its
    cell list stays an `In`; Spark turns longer lists into `InSet`)."""
    from lsd_spark import bounds
    from lsd_spark.plans.sphere import _sphere_points_sql

    # a tiny beam around a real event, so it is never empty
    ra0, dec0 = duck.sql(
        f"SELECT ra, dec FROM ({_sphere_points_sql(None)}) WHERE event_id = 1"
    ).fetchone()
    tiny = bounds.beam(ra0, dec0, 0.3)
    assert len(tiny.cells()) <= 10
    regions = {
        "union": bounds.beam(40.0, 10.0, 8.0) | bounds.rectangle(100.0, 110.0, -5.0, 5.0),
        "seam": bounds.rectangle(355.0, 5.0, -10.0, 10.0),
        "polygon": bounds.polygon([(60.0, -10.0), (75.0, -5.0), (72.0, 8.0), (58.0, 5.0)]),
        "and": bounds.beam(40.0, 10.0, 8.0) & bounds.rectangle(35.0, 50.0, 5.0, 20.0),
        "minus": bounds.beam(200.0, -30.0, 9.0) - bounds.beam(200.0, -30.0, 4.0),
        "tiny": tiny,
    }
    q = db.query(SKY_SQL)
    for name, region in regions.items():
        df = q.df(bounds=region)
        pdf = df.toPandas()
        assert list(pdf.columns) == ["event_id", "ra", "dec"], name
        want = _duck_ids(duck, region)
        assert set(pdf.event_id) == want and len(want) > 0, name
        if name == "tiny":
            assert "INSET" not in df._jdf.queryExecution().executedPlan().toString()

    with pytest.raises(ValueError, match="ra/dec"):
        db.query("SELECT r_name FROM region").fetch(bounds=regions["union"])


def test_repeat_fetch_compiles_nothing(db, duck, spark):
    """A second fetch over a DIFFERENT region reuses the first one's
    generated classes: no region literal is inlined into the Java.
    The derived ra/dec are bound once: 1 md5 in the compiled zone
    test, 2 in the lambda binding, 2 in the projection. Inlined
    literals compiled 2 classes per fetch, and predicate pushdown put
    13 md5 into the plan."""
    from lsd_spark import bounds

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    q = db.query(SKY_SQL)
    q.df(bounds=bounds.beam(40.0, 10.0, 8.0) | bounds.rectangle(100.0, 110.0, -5.0, 5.0)).toPandas()
    region = bounds.beam(150.0, -20.0, 6.0) | bounds.rectangle(250.0, 258.0, 30.0, 36.0)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    df = q.df(bounds=region)
    pdf = df.toPandas()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0
    assert _plan_md5(df) <= 5, df._jdf.queryExecution().executedPlan().toString()
    assert set(pdf.event_id) == _duck_ids(duck, region)


# --- hypothesis fuzz of the FROM-list rewriter (round-9 VERDICT #6) ---
#
# The generator assembles a random query AND its known-good expansion
# from the same random pieces (pair position, extra items, quoting,
# keyword casing, whitespace, trailing modifiers, subquery wrap,
# decoy literals), so the test never reimplements the rewriter — it
# only has to know the documented contract: the comma-list span is
# replaced by the pair expansion at the first pair member's position
# with the remaining items in order, everything outside the span is
# byte-identical, strings/comments are never touched, and a second
# rewrite is a no-op.

from hypothesis import given, settings
from hypothesis import strategies as st

_FUZZ_JOINS = {("obj", "det"): ("l_id", "r_id", "oid", "did")}
_FUZZ_EXP = (
    "obj JOIN _join_obj_det ON obj.oid = _join_obj_det.l_id "
    "JOIN det ON _join_obj_det.r_id = det.did"
)

_ws = st.sampled_from([" ", "  ", "\n", "\t", " \n "])
_extra_names = st.sampled_from(["extra", "t1", "zz", "nation", "foo_bar"])
_casing = st.sampled_from([str.lower, str.upper, str.title])
_quote = st.sampled_from(["%s", "`%s`", '"%s"'])
_select = st.sampled_from(
    [
        "SELECT *",
        "SELECT a, b",
        "SELECT 'from obj, det' AS lit, x",  # decoy inside a literal
        "SELECT 1 -- from obj, det\n, y",  # decoy inside a comment
    ]
)
_trailing = st.sampled_from(
    ["", "WHERE x > 1", "GROUP BY y", "ORDER BY z LIMIT 3", "LIMIT 5"]
)


@st.composite
def _fuzz_case(draw):
    pair = ["obj", "det"]
    if draw(st.booleans()):
        pair.reverse()
    n_extra = draw(st.integers(0, 2))
    extras = draw(
        st.lists(_extra_names, min_size=n_extra, max_size=n_extra, unique=True)
    )
    # extras may carry an alias (pair members must not — that raises)
    extra_items = []
    for name in extras:
        alias = draw(st.sampled_from([None, "e1", "e2"]))
        with_as = draw(st.booleans())
        extra_items.append((name, alias, with_as))
    # interleave: positions of the two pair members among all items
    total = 2 + n_extra
    pos = sorted(draw(st.permutations(range(total)))[:2])
    items = []  # (written_text, kind, stripped_name, alias)
    ei = iter(extra_items)
    for idx in range(total):
        if idx in pos:
            name = pair[0] if idx == pos[0] else pair[1]
            cased = draw(_casing)(name)
            written = draw(_quote) % cased
            items.append((written, "pair", name, None))
        else:
            name, alias, with_as = next(ei)
            written = name + (
                (" AS " if with_as else " ") + alias if alias else ""
            )
            items.append((written, "extra", name, alias))
    kw_from = draw(_casing)("from")
    w1, w2 = draw(_ws), draw(_ws)
    sel = draw(_select)
    trail = draw(_trailing)
    sep = draw(_ws)
    item_src = ("," + sep).join(t for t, *_ in items)
    tail = ""
    if trail:
        tail = draw(_ws) + draw(_casing)(trail)
    prefix = f"{sel}{w1}{kw_from}{w2}"
    sql = prefix + item_src + tail
    # known-good expansion, from the same pieces (built positionally
    # — a str.replace could collide with the decoy literal)
    parts = []
    for idx, (_, kind, name, alias) in enumerate(items):
        if idx == pos[0]:
            parts.append(_FUZZ_EXP)
        elif kind == "extra":
            parts.append(f"{name} {alias}" if alias else name)
    expected = prefix + ", ".join(parts) + tail
    if draw(st.booleans()):
        sql = f"SELECT * FROM ({sql}) s"
        expected = f"SELECT * FROM ({expected}) s"
    return sql, expected


@settings(max_examples=300, deadline=None)
@given(_fuzz_case())
def test_rewriter_fuzz_known_good_expansion(case):
    from lsd_spark.api import _rewrite_from_lists

    sql, expected = case
    got = _rewrite_from_lists(sql, _FUZZ_JOINS)
    assert got == expected, (sql, got, expected)
    # idempotence: the expansion contains no comma-joined pair
    assert _rewrite_from_lists(got, _FUZZ_JOINS) == got


@settings(max_examples=150, deadline=None)
@given(
    st.lists(_extra_names, min_size=1, max_size=3, unique=True),
    _casing,
    _ws,
    _trailing,
)
def test_rewriter_fuzz_identity_without_pair(names, case_fn, w, trail):
    """A FROM list that never comma-joins the declared pair must pass
    through BYTE-IDENTICAL (no normalization of untouched queries)."""
    from lsd_spark.api import _rewrite_from_lists

    sql = f"SELECT *{w}{case_fn('from')}{w}" + ("," + w).join(names)
    if trail:
        sql += w + trail
    assert _rewrite_from_lists(sql, _FUZZ_JOINS) == sql


@settings(max_examples=60, deadline=None)
@given(st.sampled_from(["o", "d"]), st.booleans(), _casing)
def test_rewriter_fuzz_aliased_pair_always_raises(alias, with_as, case_fn):
    """An aliased declared-pair member can never silently cross-join:
    the rewriter must raise whatever the casing or AS form."""
    import pytest

    from lsd_spark.api import _rewrite_from_lists

    a = (" AS " if with_as else " ") + alias
    sql = f"SELECT * FROM {case_fn('obj')}{a}, det"
    with pytest.raises(ValueError, match="comma-joined"):
        _rewrite_from_lists(sql, _FUZZ_JOINS)
