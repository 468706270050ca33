"""Physical-plan regression tests — the 100 TB scale contract.

Correctness tests prove the operators compute the right answer at
sf0.01; these prove the PLANS are the ones that survive a 1000x
scale-up (SURVEY.md §4): filters reach the parquet scan, projections
prune columns, small dims broadcast, candidate-generation joins are
equi-joins (zones technique) and never cartesian products, and
aggregations are partial+final (map-side combine).

A regression here means an operator silently degraded into a shape
that works at 60k rows and dies at 100 TB — exactly the failure mode
plan inspection exists to catch.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from lsd_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR, SF_SMALL

load_all()


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def qplan(name: str, spark, mode: str = "formatted") -> str:
    return plan(QUERIES[name](spark, SF_DIR), mode)


# --- scans: pruning and pushdown reach the parquet reader -----------------


def test_scan_projection_prunes_columns(spark):
    p = qplan("scan_projection", spark)
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read, p
    schema = read[0].split("ReadSchema:")[1]
    assert "l_orderkey" in schema and "l_quantity" in schema
    # the 14 other lineitem columns must NOT be read
    assert "l_comment" not in schema and "l_extendedprice" not in schema


def test_scan_partition_prune_pushes_filter(spark):
    p = qplan("scan_partition_prune", spark)
    assert "PushedFilters: [" in p, p
    pushed = p.split("PushedFilters:")[1].splitlines()[0]
    assert "ts" in pushed and "IsNotNull" in pushed or "GreaterThan" in pushed, pushed


def test_filter_simple_pushes_predicates(spark):
    p = qplan("filter_simple", spark)
    assert "GreaterThan(o_totalprice" in p, p
    assert "EqualTo(o_orderstatus" in p, p


def test_scans_use_wholestage_codegen(spark):
    """`*(n)` spans in the executed plan = whole-stage codegen; AQE
    only materializes them after an action."""
    for q in ("agg_groupby_hash", "project_expr", "filter_compound"):
        df = QUERIES[q](spark, SF_DIR)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "*(1)" in p, f"{q} fell out of codegen:\n{p}"


# --- joins: broadcast where bounded, equi-candidates everywhere -----------


def test_join_broadcast_is_broadcast(spark):
    p = qplan("join_broadcast", spark)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p


def test_join_multiway_single_fact_shuffle_join(spark):
    """The 5-way Q5: dims broadcast; at most ONE shuffle-requiring
    join (orders x lineitem) may remain."""
    p = qplan("join_multiway", spark)
    non_broadcast = p.count("SortMergeJoin") + p.count("ShuffledHashJoin")
    assert non_broadcast <= 1, p
    assert "BroadcastHashJoin" in p, p


def test_no_cartesian_products_anywhere(spark):
    """The zones technique promise: candidate generation for
    nearest/radius/dedup ops is an equi-join, never a cartesian
    product. join_cross is the one deliberate exception."""
    for q in (
        "join_asof_nearest",
        "join_theta_range",
        "join_xmatch_radius_knn",
        "knn_ivf",
        "llm_dedup_near",
        "llm_dedup_simhash",
        "llm_dedup_ngram",
    ):
        p = qplan(q, spark, mode="simple")
        assert "CartesianProduct" not in p, f"{q} degraded to cartesian:\n{p}"


def test_knn_brute_broadcasts_query_side(spark):
    """All-pairs ops (exact-baseline variants) must never pay a
    CartesianProduct over the corpus. llm_simsearch_knn goes further:
    the k query vectors ride the CLOSURE into a mapInPandas kernel
    that emits per-partition top-5 partials — zero joins, one corpus
    scan, only <= 25 rows/partition ever reach the final window's
    exchange (map-combine top-k). llm_dedup_embcos_exact keeps the
    broadcast-NLJ shape (its query side is the corpus itself, so
    closure-captured queries can't apply)."""
    p = qplan("llm_simsearch_knn", spark, mode="simple")
    # once the shared-session DataFrame has been executed by an
    # earlier test, AQE's toString appends an "== Initial Plan =="
    # section that would double-count nodes — pin the final plan only
    p = p.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in p, p
    assert "Join" not in p, f"knn closure-capture regressed to a join:\n{p}"
    assert "MapInPandas" in p, p
    nscans = p.count("FileScan") + p.count("InMemoryTableScan")
    assert nscans == 1, f"knn must scan the corpus exactly once:\n{p}"
    # the corpus itself must never shuffle: the one exchange sits
    # ABOVE the kernel (partials), not between scan and kernel
    pre, _, post = p.partition("MapInPandas")
    assert "Exchange" not in post, f"corpus shuffled before kernel:\n{p}"

    p = qplan("llm_dedup_embcos_exact", spark, mode="simple")
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_bucketed_candidate_gen_is_equi_join(spark):
    """The production semantic-dedup and FoF paths generate candidate
    pairs via an equi-join on centroid_id — the candidate join itself
    must never be a nested-loop over the corpus. (The only BNLJ
    allowed in these plans is the corpus x N_CENTROIDS assignment,
    which is linear in the corpus; assert it by requiring every BNLJ
    line to involve the tiny broadcast centroid side.)"""
    from lsd_spark.llm.dedup import _embcos_near_pairs_build

    # the production path is _embcos_near_pairs_build — since round 8
    # every consumer (llm_dedup_embcos, cluster_fof, the graph ops)
    # reads its ckpt_shared materialization, so the candidate-join
    # shape to pin lives in the BUILD plan, not the consumers' 0-scan
    # final plans (those are pinned in tests/test_plan_ratchet.py).
    p = plan(_embcos_near_pairs_build(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in p, p
    pair_joins = [
        ln
        for ln in p.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
        and "centroid_id" in ln
    ]
    assert pair_joins, f"candidate join not equi on centroid_id:\n{p}"
    # every nested-loop line is the linear corpus x centroids
    # assignment (broadcast side = N_CENTROIDS rows), never a
    # corpus x corpus pair join
    for ln in p.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln or "BuildRight" in ln, p


def _plan_nodes(node, under_agg=False):
    """(node, below an Aggregate?) for every node of a Catalyst plan."""
    yield node, under_agg
    under_agg = under_agg or node.nodeName() == "Aggregate"
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i), under_agg)


def _band_builder(name, spark, sf_dir):
    from lsd_spark.catalog import load
    from lsd_spark.llm import dedup

    if name == "llm_dedup_near":
        return QUERIES[name](spark, sf_dir)
    if name == "simhash_naive":
        return dedup._simhash_naive(spark, sf_dir)
    if name == "minhash_scored_over":
        docs = load(spark, sf_dir, "documents")
        return dedup._minhash_scored_over(spark, sf_dir, docs, "minhash_sig")
    return dedup._embcos_near_pairs_build(spark, sf_dir)


@pytest.mark.parametrize(
    "name,refine",
    [
        # (builder, markers of its refine predicate — given where the
        # score is computed before the pair dedup)
        ("llm_dedup_near", ("jaccard", "array_intersect")),
        ("simhash_naive", ("hamming", "bit_count")),
        ("minhash_scored_over", ()),
        ("embcos_near_pairs_build", ()),
    ],
)
def test_band_pairs_refine_before_a_slim_dedup(spark, name, refine):
    """The banded candidate join dedups pairs seen in several bands.
    That dedup must group pair keys and scores only, never an array
    payload (shingles, embeddings) — and where the score is computed
    before it, the exact refine must run below it, so the dedup
    shuffles the refine's survivors, not every band collision
    (2.27 M simhash candidates against 127 k survivors at sf0.1)."""
    df = _band_builder(name, spark, SF_SMALL)
    nodes = list(_plan_nodes(df._jdf.queryExecution().optimizedPlan()))
    aggs = [n for n, _ in nodes if n.nodeName() == "Aggregate"]
    assert aggs, f"{name}: no pair dedup in the plan"
    for agg in aggs:
        out = agg.output()
        types = [out.apply(i).dataType().typeName() for i in range(out.size())]
        assert "array" not in types, f"{name} dedups array payloads:\n{agg}"
    refines = [
        (n, under)
        for n, under in nodes
        if n.nodeName() in ("Filter", "Join")
        and any(m in n.simpleString(100) for m in refine)
    ]
    assert bool(refines) == bool(refine), f"{name}: refine not found"
    for n, under in refines:
        assert under, f"{name}: refine above the pair dedup:\n{n}"


# --- aggregation: map-side combine ----------------------------------------


def test_spatial_xmatch_is_cell_equi_join(spark):
    """The 2-D cross-match candidate join must be an equi-join on the
    (cell_x, cell_y) pair — never a distance-predicate nested loop."""
    from lsd_spark.plans.spatial import radius_candidates

    p = plan(radius_candidates(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    hash_joins = [
        ln
        for ln in p.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
        and "cx" in ln
        and "cy" in ln
    ]
    assert hash_joins, f"cell join not equi:\n{p}"


def test_interval_overlap_is_zone_equi_join(spark):
    """Interval-overlap candidates must meet in a zone equi-join; the
    overlap predicate is a residual filter, never the join driver."""
    p = qplan("join_interval_overlap", spark, mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert any(
        ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
        and "zone" in ln
        for ln in p.splitlines()
    ), p


def test_decontaminate_broadcasts_testset(spark):
    """The held-out shingle set must be the broadcast side; the train
    corpus must never shuffle for the probe."""
    p = qplan("llm_decontaminate", spark, mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_agg_partial_final(spark):
    p = qplan("agg_groupby_hash", spark, mode="simple")
    assert p.count("HashAggregate") >= 2, p  # partial + final


def test_topk_uses_take_ordered(spark):
    p = qplan("sort_multi", spark, mode="simple")
    assert "TakeOrderedAndProject" in p, p


def test_bucketed_join_is_shuffle_free(spark):
    """sink_bucketed writes both facts bucketed by the join key; the
    subsequent join must read bucket-aligned: the ONLY exchange in
    the final plan is the groupBy's (join_exchanges column == 1)."""
    rows = QUERIES["sink_bucketed"](spark, SF_DIR).collect()
    assert rows and all(r.join_exchanges == 1 for r in rows)


def test_win_ntile_percent_no_data_sized_global_window(spark):
    """Round 10: win_ntile_percent's data-sized window must be
    PARTITIONED (by the range bucket); the only SinglePartition
    exchange allowed is the one feeding the <=NTILE_BUCKETS-row
    counts side of the broadcast. Pin: the row_number window spec
    names the bucket partition key, and every Window above a
    SinglePartition exchange consumes the counts aggregate (sum over
    cnt), never raw orders columns."""
    p = qplan("win_ntile_percent", spark)
    assert "row_number() windowspecdefinition(bucket#" in p, p
    # the global-rank window must NOT order the whole table in one
    # partition: no windowspecdefinition over o_totalprice without a
    # bucket partition key
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        spec = m.group(1)
        if "o_totalprice" in spec:
            assert spec.startswith("bucket#"), spec
    # single-partition exchanges only on the aggregate-sized side
    assert p.count("Exchange SinglePartition") <= 1, p


def test_min_label_routes_supercritical_to_log_rounds(spark, monkeypatch):
    """The adaptive router in min_label_fixpoint (round 10 shape):
    a dense cross-partition graph whose label quotient fits one task
    takes the loop-free QUOTIENT path; with the quotient threshold
    forced to 0 the same graph (avg degree ~6 >
    DEGREE_SUPERCRITICAL) must fall back to the large-star/small-star
    loop (observable via LAST_CC_ROUNDS changing); a sparse
    partition-local graph converges at the probe. All three paths
    must produce the exact min-label components."""
    from lsd_spark.plans import cluster

    n = 600
    # dense: i -- i+1, i -- i+2, i -- i+3  -> avg degree ~6, one chain
    dense = [(i, i + d) for i in range(n) for d in (1, 2, 3) if i + d < n]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs = spark.createDataFrame(dense, "u long, v long").repartition(8)
    want = {(i, 0) for i in range(n)}

    cluster.LAST_CC_ROUNDS["rounds"] = -1
    got = {(r.vec_id, r.object_id) for r in cluster.min_label_fixpoint(nodes, pairs).collect()}
    assert cluster.LAST_FIXPOINT_PATH["path"] in ("quotient", "probe-converged")
    assert cluster.LAST_CC_ROUNDS["rounds"] == -1  # no loop ran
    assert got == want

    # forced fallback: quotient "too big" -> degree routing engages
    monkeypatch.setattr(cluster, "QUOTIENT_SINGLE_TASK_MAX", 0)
    cluster.LAST_CC_ROUNDS["rounds"] = -1
    got_fb = {(r.vec_id, r.object_id) for r in cluster.min_label_fixpoint(nodes, pairs).collect()}
    assert cluster.LAST_FIXPOINT_PATH["path"] == "alternating"
    assert cluster.LAST_CC_ROUNDS["rounds"] > 0  # alternating path ran
    assert got_fb == want
    monkeypatch.undo()

    # sparse: 300 isolated 2-node pairs -> each edge lives in one
    # partition, probe converges, no quotient and no loop
    sparse = [(2 * i, 2 * i + 1) for i in range(300)]
    pairs2 = spark.createDataFrame(sparse, "u long, v long")
    cluster.LAST_CC_ROUNDS["rounds"] = -1
    got2 = {(r.vec_id, r.object_id) for r in cluster.min_label_fixpoint(nodes, pairs2).collect()}
    assert cluster.LAST_CC_ROUNDS["rounds"] == -1  # alternating NOT used
    assert got2 == {(i, i - (i % 2)) for i in range(n)}


def test_density_adaptive_layout_prunes_to_one_file(spark):
    """sink_density_adaptive's written layout must partition-prune:
    a one-cell probe on HOT sky (nside=16) and on COLD sky (nside=8)
    each read exactly ONE parquet file, and the filter shows up as a
    PartitionFilter (directory pruning), not a data filter. Also pin
    the one-file-per-cell-dir invariant the repartition(nside, cell)
    write guarantees."""
    import os

    from lsd_spark.plans.materialize import materialized
    from lsd_spark.registry import QUERIES

    # build (or reuse) the layout via the op itself
    QUERIES["sink_density_adaptive"](spark, SF_DIR).collect()
    base = materialized(spark, "density_adaptive", SF_DIR, lambda t: t)
    back = spark.read.parquet(f"{base}/adaptive")
    probes = [
        back.filter("nside = 16").limit(1).collect()[0]["cell"],
        back.filter("nside = 8").limit(1).collect()[0]["cell"],
    ]
    for nside, cell in zip((16, 8), probes):
        probe = back.filter(f"nside = {nside} AND cell = {cell}")
        p = probe._jdf.queryExecution().executedPlan().toString()
        # both keys must prune DIRECTORIES (PartitionFilters), not
        # filter rows after a full scan (PushedFilters/Filter)
        pf = p.split("PartitionFilters: [", 1)
        assert len(pf) == 2, p
        pf_clause = pf[1].split("]", 1)[0]
        assert "nside" in pf_clause and "cell" in pf_clause, pf_clause
        # with directory pruning + the one-file-per-dir invariant
        # below, this probe physically opens exactly one file
    # one file per cell dir
    for nside_dir in os.listdir(f"{base}/adaptive"):
        if not nside_dir.startswith("nside="):
            continue
        for cell_dir in os.listdir(f"{base}/adaptive/{nside_dir}"):
            full = f"{base}/adaptive/{nside_dir}/{cell_dir}"
            if not os.path.isdir(full):
                continue
            n_parquet = sum(1 for f in os.listdir(full) if f.endswith(".parquet"))
            assert n_parquet == 1, (full, n_parquet)


def test_min_label_quotient_path_forced_min_label_loop(spark, monkeypatch):
    """Force the Pregel min-label fallback (quotient threshold 0 on a
    SUBCRITICAL graph, avg degree < 3) and check it still reaches the
    exact fixpoint — keeps the loop path from rotting now that the
    quotient path owns the common case."""
    from lsd_spark.plans import cluster

    n = 400
    # chains of length 4 spread across partitions: degree ~1.5
    chain = [(i, i + 1) for i in range(n) if i % 4 != 3]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs = spark.createDataFrame(chain, "u long, v long").repartition(8)
    monkeypatch.setattr(cluster, "QUOTIENT_SINGLE_TASK_MAX", 0)
    got = {(r.vec_id, r.object_id) for r in cluster.min_label_fixpoint(nodes, pairs).collect()}
    assert cluster.LAST_FIXPOINT_PATH["path"] == "min-label"
    assert got == {(i, i - (i % 4)) for i in range(n)}


def test_supercritical_fof_log_rounds_and_exact_labels(spark):
    """cluster_fof_2d_super at sf0.1: the match graph is SUPERCRITICAL
    (avg degree ~6.2, giant component ~98.7% of 19,941 view points).
    Round 13: the op routes through the tile-contraction + quotient
    fixpoint (loop-free — supercriticality bloats propagation rounds,
    not the label quotient), so the pin is (a) the op takes the
    quotient path with NO propagation loop, (b) the labels equal an
    independent numpy union-find over the same md5-derived
    coordinates (third opinion: neither Spark nor DuckDB), and (c)
    the alternating large-star/small-star HEAVY path — the fallback a
    quotient overflow would route to — still converges in LOG-bounded
    rounds to the identical labeling on the same sf0.1 edge set."""
    import hashlib

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as SF

    from lsd_spark.plans import cluster
    from lsd_spark.plans.spatial import (
        FOF2D_R_SUPER,
        points,
        self_radius_pairs,
    )

    sf_dir = "/root/testdata/sf0.1"
    cluster.LAST_CC_ROUNDS["rounds"] = -1
    got = {
        (r.point_id, r.object_id)
        for r in QUERIES["cluster_fof_2d_super"](spark, sf_dir).collect()
    }
    # loop-free either way: quotient solve, or (when the halo copies
    # already union every cross-tile merge inside the partitions)
    # probe-converged
    assert cluster.LAST_FIXPOINT_PATH["path"] in ("quotient", "probe-converged")
    assert cluster.LAST_CC_ROUNDS["rounds"] == -1  # no loop ran
    n = len(got)

    # (c) the heavy fallback solver, driven directly on the same
    # supercritical edge set: log-bounded rounds, identical labels
    pts = points(spark, sf_dir, "view").select(
        SF.col("event_id").alias("vec_id")
    )
    pairs = self_radius_pairs(spark, sf_dir, "view", FOF2D_R_SUPER)
    alt = {
        (r.vec_id, r.object_id)
        for r in cluster.alternating_cc(pts, pairs).collect()
    }
    rounds = cluster.LAST_CC_ROUNDS["rounds"]
    assert rounds >= 1 and rounds <= int(np.log2(n)), (rounds, n)
    assert alt == {(p, o) for p, o in got}

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id", "event_type"])
    ids = np.sort(ev[ev.event_type == "view"]["event_id"].to_numpy())
    xs = np.array(
        [int(hashlib.md5(f"{e}x".encode()).hexdigest()[:15], 16) % 100000 for e in ids]
    ) / 1000.0
    ys = np.array(
        [int(hashlib.md5(f"{e}y".encode()).hexdigest()[:15], 16) % 100000 for e in ids]
    ) / 1000.0
    r = FOF2D_R_SUPER
    parent = np.arange(len(ids))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    from collections import defaultdict

    buckets = defaultdict(list)
    cx, cy = np.floor(xs / r).astype(np.int64), np.floor(ys / r).astype(np.int64)
    for i in range(len(ids)):
        buckets[(cx[i], cy[i])].append(i)
    for (bx, by), members in buckets.items():
        cand = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                cand.extend(buckets.get((bx + dx, by + dy), []))
        ca = np.array(cand)
        m = np.array(members)
        d2 = (xs[m][:, None] - xs[ca][None, :]) ** 2 + (ys[m][:, None] - ys[ca][None, :]) ** 2
        for ii, i in enumerate(m):
            for j in ca[d2[ii] <= r * r]:
                ra, rb = find(i), find(int(j))
                if ra != rb:
                    parent[ra] = rb
    roots = np.array([find(i) for i in range(len(ids))])
    # component label = min event_id in the component
    comp_min = {}
    for i, rt in enumerate(roots):
        comp_min[rt] = min(comp_min.get(rt, ids[i]), ids[i])
    exp = {(int(ids[i]), int(comp_min[roots[i]])) for i in range(len(ids))}
    assert got == exp


# --- region algebra: the scan touches only candidate cells -----------------


def test_region_cone_scan_prunes_to_candidate_zones(spark):
    """A cone footprint over the zone-partitioned layout must compile
    to (a) a PartitionFilters z-IN list covering exactly the
    candidate zones — directory pruning before any byte is read —
    and (b) a map-only plan: no join, no shuffle."""
    from lsd_spark.plans.region import CONE

    p = qplan("filter_region_cone", spark)
    zones = sorted({z for z, _ in CONE.cells()})
    part = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert part, p
    ln = part[0]
    assert "INSET" in ln or " IN " in ln, ln
    import re

    got = sorted(int(m) for m in re.findall(r"\b(\d+)\b", ln.split("INSET")[-1]))
    assert got == zones, (got, zones)
    # candidate zones are a small fraction of the 180-zone sky
    assert len(zones) < 20
    # map-only: no exchange at all
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_region_algebra_is_single_map_only_scan(spark):
    """(cone ∪ rect) − cone must stay ONE scan with a composed
    residual filter — region algebra composes predicates, it never
    self-joins or unions scans."""
    p = qplan("filter_region_algebra", spark, mode="simple")
    assert "Join" not in p and "Union" not in p, p
    # once the cached DataFrame has been EXECUTED (e.g. by the oracle
    # suite running first), AQE's explain prints the same plan twice
    # ("Final Plan" + "Initial Plan"); count scans in one section only
    p_final = p.split("== Initial Plan ==")[0]
    assert p_final.count("Scan parquet") == 1, p


# --- round-4 tier-2 ops: plan shapes ---------------------------------------


def test_point_in_polygon_is_broadcast_band_equi_join(spark):
    """The polygon-footprint join must be a broadcast EQUI-join on
    the dec band (candidate pairs band-bounded), never a nested loop
    over all (point, polygon) pairs."""
    p = qplan("join_point_in_polygon", spark)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_per_object_kernels_single_exchange(spark):
    """sessionize / SCD2 / variability eta: ONE exchange on the
    object key serves every window pass and the follow-up group
    aggregate (the group key refines the window key)."""
    for q in ("win_sessionize", "merge_scd2", "agg_variability_eta"):
        p = qplan(q, spark, mode="simple")
        # once executed (e.g. by test_oracle), AQE's explain appends
        # "== Initial Plan ==" repeating every node — count only the
        # final plan section
        body = p.split("== Initial Plan ==")[0]
        # exchanges: one hashpartitioning on user_id — nothing else
        n_hash = body.count("hashpartitioning")
        assert n_hash == 1, f"{q}: {n_hash} hash exchanges\n{p}"


def test_proper_motion_is_partial_final_agg(spark):
    p = qplan("agg_proper_motion", spark, mode="simple")
    body = p.split("== Initial Plan ==")[0]
    assert "HashAggregate" in body, p
    assert body.count("hashpartitioning") == 1, p


def test_region_time_pushes_epoch_range_to_scan(spark):
    """The time half of the LSD bound must reach the parquet reader
    as a pushed filter (row-group min/max skipping)."""
    p = qplan("filter_region_time", spark)
    assert "PushedFilters: [" in p, p
    # the ts range predicate appears among pushed filters (column is
    # the raw nanos long in the scan schema)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any(
        "GreaterThan" in ln or "LessThan" in ln or "ts" in ln for ln in pushed
    ), p


def test_array_sql_matches_lit_array(spark):
    """array_sql's one-call text must build the array a per-element
    F.lit array builds: same element type (int, int widened to
    bigint, double) and same values, so swapping one for the other
    leaves every plan that uses it unchanged."""
    from pyspark.sql import functions as F

    from lsd_spark.functions import array_sql

    for xs in ([1, 6, 179], [3, 5_000_000_000], [0.5, 1e-09, -2.0]):
        got = spark.range(1).select(F.expr(array_sql(xs)).alias("a"))
        want = spark.range(1).select(F.array(*[F.lit(v) for v in xs]).alias("a"))
        assert got.schema == want.schema, xs
        assert got.collect() == want.collect(), xs


def test_region_healpix_binds_derived_coords_once(spark):
    """filter_region_healpix's membership must let-bind the derived
    ra/dec (HOF lambda) instead of filtering on derived columns:
    predicate pushdown substitutes a derived column into EVERY
    reference inside the pushed predicate, and the ang2pix text
    references its inputs ~15 times each — the naive shape executed
    67 md5 derivations per row and ran 5x slower at the 100x sky dir
    (round 10). Budget: the executed plan may hold the md5 derivation
    at most 8 times (4 binding slots in the lambda struct + the 2
    output columns, with headroom for EXPLAIN listing a node twice);
    67 means the pushdown-duplication regressed."""
    p = qplan("filter_region_healpix", spark)
    assert p.count("md5") <= 8, f"md5 x{p.count('md5')} in plan"
    assert "aggregate(" in p or "Join" not in p, p
    # still map-only: no join, no exchange
    assert "Join" not in p, p
    assert "Exchange" not in p, p


def test_healpix_projection_family_binds_trig_once(spark):
    """Round-11 VERDICT #4: the projection-side healpix ops must key
    through healpix_bound's column binding, so the executed plan
    holds the trig ONCE per scheme level, not the ~15 textual copies
    the single-expression form evaluates (codegen CSE skips CASE
    branches; 14.7 -> 2.2 s nest, 9.7 -> 2.25 s ring at the 100x sky
    dir). Budget: <= 3 'sin(' (1 binding + EXPLAIN re-listing
    headroom) and <= 6 md5 (ra is referenced twice inside tt, dec
    once inside z, x2 re-listing); the adaptive ops additionally may
    not carry a second nest expression (c8 is derived as c16 // 4,
    so 'sqrt(' — the polar term — appears once-per-binding, not
    once-per-resolution)."""
    for op in (
        "fn_healpix_key",
        "fn_healpix_nest",
        "agg_sky_coverage",
        "agg_density_adaptive",
    ):
        p = qplan(op, spark)
        assert p.count("sin(") <= 3, f"{op}: sin x{p.count('sin(')}"
        assert p.count("md5") <= 6, f"{op}: md5 x{p.count('md5')}"
        assert p.count("sqrt(") <= 3, f"{op}: sqrt x{p.count('sqrt(')}"


def test_min_label_loop_runs_when_contraction_is_partial(spark):
    """Round-6 seed/probe restructure: when a component's edges span
    partitions, the contraction seed is NOT the fixpoint, the probe
    must fail, and the propagation loop must still converge to the
    exact labeling. A long chain repartitioned across 8 partitions
    guarantees cross-partition links; labels must all collapse to 0.
    Also pin the seed short-circuit: a single-partition edge set must
    converge with no propagation (prev checkpoint count unchanged)."""
    from pyspark.sql import functions as F

    from lsd_spark.plans import cluster

    n = 400
    # 100 disjoint 4-node paths (eccentricity <= 3 — the physical
    # subcritical regime), round-robin repartitioned so most paths
    # span partitions and the contraction seed is partial
    chain = [(i, i + 1) for i in range(n - 1) if (i + 1) % 4 != 0]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs = spark.createDataFrame(chain, "u long, v long").repartition(8)
    got = {
        (r.vec_id, r.object_id)
        for r in cluster.min_label_fixpoint(nodes, pairs).collect()
    }
    assert got == {(i, i - i % 4) for i in range(n)}

    # one partition: the union-find seed solves the whole chain and
    # the probe short-circuits (result identical either way)
    pairs1 = spark.createDataFrame(chain, "u long, v long").coalesce(1)
    got1 = {
        (r.vec_id, r.object_id)
        for r in cluster.min_label_fixpoint(nodes, pairs1).collect()
    }
    assert got1 == got


def test_pipeline_e2e_dedups_in_one_corpus_exchange(spark):
    """llm_pipeline_e2e's round-6 rewrite: keep-first dedup is a
    row_number window over the fingerprint — the corpus crosses
    exactly ONE exchange for the dedup plus one for the final lang
    aggregate (plus the orderBy's range partitioning); the old
    agg+join formulation added a third corpus-bearing exchange."""
    import re

    from lsd_spark.registry import QUERIES_RAW

    # build a FRESH plan (the registry-cached DataFrame may already
    # be executed, and an executed AQE plan formats differently)
    df = QUERIES_RAW["llm_pipeline_e2e"](spark, SF_DIR)
    p = plan(df)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges <= 3, f"{n_exchanges} exchanges:\n{p}"
    assert "Window" in p, p


def test_packed_id_stamp_shuffles_once_on_epoch_cell(spark):
    """stamp_packed_id's index window partitions by (epoch, cell):
    the plan must contain exactly one hash exchange (the window's),
    i.e. the key derivation adds no extra shuffle."""
    from pyspark.sql import functions as F

    from lsd_spark.plans.spatial import stamp_packed_id

    df = spark.range(100).select(
        F.col("id").alias("det_id"),
        (F.col("id") % 3).alias("epoch"),
        (F.col("id") % 5).alias("cx"),
        (F.col("id") % 7).alias("cy"),
    )
    p = plan(stamp_packed_id(df, "epoch", "cx", "cy", "det_id"), mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_zorder_layout_prunes_key_ranges(spark):
    """sink_zorder's contract: per-file _id ranges are disjoint and
    ordered (so a key-range query touches ~1 of 8 files via parquet
    min/max stats), and the range predicate reaches the scan as a
    pushed filter."""
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from lsd_spark.plans.materialize import materialized
    from lsd_spark.plans.spatial import PACK_EPOCH_SHIFT

    QUERIES["sink_zorder"](spark, SF_DIR).collect()  # materialize
    base = materialized(
        spark, "zorder", SF_DIR,
        lambda _: (_ for _ in ()).throw(AssertionError("not cached")),
    )
    ranges = []
    for f in _glob.glob(f"{base}/zorder/part-*.parquet"):
        md = _pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["_id"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {hi1} >= {lo2}"
    # a one-epoch key range overlaps exactly one file here
    e0 = ranges[0][0] // PACK_EPOCH_SHIFT
    lo, hi = e0 * PACK_EPOCH_SHIFT, (e0 + 1) * PACK_EPOCH_SHIFT - 1
    touched = [r for r in ranges if not (r[1] < lo or r[0] > hi)]
    assert len(touched) == 1, touched
    # and the predicate is pushed to the scan
    back = spark.read.parquet(f"{base}/zorder")
    p = plan(back.filter((F.col("_id") >= lo) & (F.col("_id") <= hi)))
    assert "PushedFilters: [IsNotNull(_id), GreaterThanOrEqual(_id," in p, p


def test_dynamic_partition_pruning_fires_on_zone_layout(spark):
    """scan_partition_prune_dynamic's fact scan must carry a
    dynamicpruningexpression on the partition column z — the
    runtime-subquery analog of the cone's static INSET list — and
    the target side must reach the join as a broadcast (DPP reuses
    it as the pruning filter)."""
    from lsd_spark.registry import QUERIES

    df = QUERIES["scan_partition_prune_dynamic"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in p.lower(), p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_survey_ingest_is_broadcast_then_one_agg_exchange(spark):
    """The import pipeline's 100 TB contract: detections never
    shuffle for the WCS join (exposure solutions broadcast), the
    TAN transform + pixel key is map-side, and the only exchanges
    are the layout-key aggregation (partial+final)."""
    p = qplan("pipeline_survey_ingest", spark)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "partial_count" in p or "HashAggregate" in p, p
    # exchanges: broadcast (listed) and the agg hash partitioning --
    # no detection-side pre-join shuffle
    shuffles = [
        ln for ln in p.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(shuffles) <= 2, p  # formatted mode lists nodes twice


def test_density_adaptive_build_plan_shape(spark):
    """Build-shape ratchet for sink_density_adaptive (round-12
    VERDICT #2 — sinks are excluded from PLAN_RATCHET.json by design,
    so the pre-write routing frame is pinned here instead): the
    layout plan must stay ONE broadcast hash join (hot-cell table is
    always tiny) over TWO passes of the events scan (points + the
    hot-cell aggregate) with <= 2 exchanges (the hot agg's
    partial/final split), and no sort-merge join, cartesian product
    or extra scan may creep in."""
    import io
    from contextlib import redirect_stdout

    from lsd_spark.plans.sphere import adaptive_layout_frame

    df = adaptive_layout_frame(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="simple")
    p = buf.getvalue()
    assert p.count("BroadcastHashJoin") == 1, p
    assert p.count("SortMergeJoin") == 0 and "Cartesian" not in p, p
    assert p.count("Scan parquet") <= 2, p
    assert p.count("Exchange") <= 2, p


def test_fixpoint_cache_released_between_calls(spark):
    """Round-13 ADVICE: the probe-converged/quotient paths persist
    the contraction frame DISK_ONLY for the caller's lazy collect;
    the pin must be RELEASED by the next fixpoint call (and by
    release_fixpoint_cache directly), not held until DataFrame GC —
    bounding live fixpoint cache to one call's frame."""
    from lsd_spark.plans import cluster

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    cluster.release_fixpoint_cache()
    base = n_persistent()
    nodes = spark.createDataFrame([(i,) for i in range(40)], "vec_id long")
    pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(20)], "u long, v long"
    )
    labs = cluster.min_label_fixpoint(nodes, pairs)
    labs.collect()  # materialize through the pinned cache
    assert len(cluster._PINNED_CACHE) == 1
    assert n_persistent() >= base + 1
    # a second call releases the first call's pin (still exactly one)
    labs2 = cluster.min_label_fixpoint(nodes, pairs)
    labs2.collect()
    assert len(cluster._PINNED_CACHE) == 1
    cluster.release_fixpoint_cache()
    assert len(cluster._PINNED_CACHE) == 0
    assert n_persistent() == base
