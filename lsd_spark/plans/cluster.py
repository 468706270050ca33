"""Friends-of-friends clustering — the `lsd-make-object-catalog`
analog [lsd:lsd-make-object-catalog — UNVERIFIED, SURVEY.md §3.3].

LSD's object-catalog build clusters detections into objects by
linking every pair within a match radius and taking connected
components. Here the same algorithm runs over the embedding table:
edges = cosine-similarity pairs above a threshold (semantic
friends), components via iterative min-label propagation.

Scale shape (100 TB):
- edge generation for `cluster_fof` is the zones-technique candidate
  join: IVF centroid buckets (equi-join on centroid_id), the vector-
  space analog of LSD's cell-bounded pair search. The all-pairs
  exact variant survives as `cluster_fof_exact` (fixture-scale
  recall baseline only).
- label propagation is the standard distributed connected-components
  loop: each iteration is one shuffle (join labels to edges +
  min-aggregate); iterations are bounded by the component diameter,
  which for dedup graphs is tiny (~2-4). Each iteration's result is
  localCheckpoint()-ed so the lineage doesn't grow unboundedly —
  the classic iterative-DataFrame pitfall.
- the convergence test (count of changed labels) is one scalar
  action per iteration, not a collect of the data. Exiting via the
  iteration cap RAISES — a non-converged labeling is a wrong answer,
  never returned silently.

Oracles: DuckDB recursive CTE computing min-reachable-label over the
same edge set — the bucketed op's CTE mirrors the deterministic IVF
assignment (see llm/simsearch.ivf_assign_sql), the exact op's uses
the all-pairs edges. Both are full hash-match oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsd_spark.catalog import load
from lsd_spark.llm.dedup import EMBCOS_T, embcos_candidate_pairs_sql, embcos_near_pairs
from lsd_spark.operators.joins import COS_DUCK, COS_SPARK
from lsd_spark.registry import register
from lsd_spark.sizing import (
    COLLECT_LIMIT_ONE_JOB,
    SHUFFLE_PARTITIONS,
    capped_shuffle_partitions,
    loop_partitions,
    session_conf,
    shuffle_partitions,
    spread,
)

MAX_ITERS = 60

# Max quotient-graph edges solved in a single level-2 union-find
# task (~2M dict entries worst case, well inside one Python worker).
# Past this the graph has millions of cross-partition merges and the
# distributed loops take over. Module-level so tests can monkeypatch
# it to force the fallback routing.
QUOTIENT_SINGLE_TASK_MAX = 1_000_000

# Quotient mappings at or below this many labels are applied as a
# literal map() expression in the final projection (no broadcast
# exchange, no driver->JVM DataFrame round trip); larger mappings
# keep the broadcast LocalRelation join (a 10k-entry map literal is a
# ~200 KB SQL string — fine; a 1M-entry one would be a parser DoS).
QUOTIENT_MAP_LITERAL_MAX = 10_000

# Max edges collected whole by the edges_bounded fast path (the same
# bounded control-plane budget as the quotient collect): dedup-style
# graphs with settled (checkpointed) edge frames and few edges solve
# in ONE collect + one map-only labeling job, skipping the
# contraction kernel, its aggregate exchange, and the DISK persist.
EDGE_SINGLE_TASK_MAX = 500_000

# observability: which routing min_label_fixpoint took last
# ("probe-converged" | "quotient" | "min-label" | "alternating")
LAST_FIXPOINT_PATH = {"path": ""}

# DISK_ONLY frames persisted by min_label_fixpoint whose RETURNED
# labeling is still lazy (probe-converged / quotient paths): the
# cache must outlive the caller's final collect, so it can't be
# unpersisted inside the fixpoint (round-13 ADVICE — it used to stay
# pinned until DataFrame GC). Instead each new fixpoint call — and
# clear_node_counts(), which clear_plan_cache already routes every
# sf_dir/session invalidation through — releases the PREVIOUS call's
# pin, bounding live fixpoint cache to one call's node-sized frame.
# Callers that want deterministic cleanup after their final action
# call release_fixpoint_cache() directly.
_PINNED_CACHE: list = []


def release_fixpoint_cache() -> None:
    """Unpersist DISK_ONLY frames pinned by earlier
    min_label_fixpoint calls (safe once their returned labeling has
    been materialized — recomputation, not corruption, is the cost
    of releasing early: persist() keeps lineage, unlike
    localCheckpoint)."""
    while _PINNED_CACHE:
        df = _PINNED_CACHE.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release

# Catalog-statistic cache for the degree-routing probe: node counts
# are a property of the (session, logical plan) pair, so repeated
# FoF calls (bench warm runs, multi-op pipelines over the same
# table) skip one count job each. Cleared alongside the registry's
# plan cache (registry.clear_plan_cache) so a changed sf_dir never
# serves a stale statistic.
_NODE_COUNT_CACHE: dict[tuple[str, int], int] = {}


def clear_node_counts() -> None:
    _NODE_COUNT_CACHE.clear()
    release_fixpoint_cache()


def _node_count(df: DataFrame) -> int:
    from lsd_spark.catalog import session_key

    key = (session_key(df.sparkSession), df.semanticHash())
    n = _NODE_COUNT_CACHE.get(key)
    if n is None:
        n = df.count()
        _NODE_COUNT_CACHE[key] = n
    return n


def _fof_oracle(pairs_sql: str) -> str:
    return (
        "WITH RECURSIVE pairs AS (" + pairs_sql + "), "
        "e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs), "
        "reach(src, node) AS ("
        "SELECT vec_id, vec_id FROM embeddings "
        "UNION "
        "SELECT r.src, e.v FROM reach r JOIN e ON r.node = e.u) "
        "SELECT src AS vec_id, min(node) AS object_id FROM reach "
        "GROUP BY src ORDER BY vec_id"
    )


_EXACT_PAIRS_SQL = (
    "SELECT a.vec_id AS u, b.vec_id AS v "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "WHERE ROUND(" + COS_DUCK.format(a="a.embedding", b="b.embedding") + f", 6) >= {EMBCOS_T}"
)

_BUCKETED_PAIRS_SQL = (
    f"SELECT vec_a AS u, vec_b AS v FROM ({embcos_candidate_pairs_sql()}) "
    f"WHERE sim >= {EMBCOS_T}"
)


def min_label_fixpoint(
    emb: DataFrame,
    pairs: DataFrame,
    local_labels: DataFrame | None = None,
    seed_complete: bool = False,
    edges_bounded: bool = False,
    nodes_from_edges: bool = False,
) -> DataFrame:
    """Connected components by min-label propagation to the exact
    fixpoint (Pregel-style, like GraphX CC). `pairs` is the
    undirected edge set as (u, v) one-way; returns
    (vec_id, object_id).

    `local_labels` (round 13) optionally replaces the built-in
    per-partition contraction with a caller-supplied (vec_id, lmin)
    frame carrying the same contract as _local_cc_labels (multi-row
    per node allowed; min/collect_set aggregate resolves) — e.g. the
    tile-partitioned spatial kernel (plans/spatial.tiled_local_labels)
    that fuses edge generation into the contraction. With
    seed_complete=True the caller asserts local_labels covers EVERY
    node of `emb`, so the seed skips the join back to the node set
    entirely (two exchanges and one scan less in the final job);
    `pairs` remains the edge plan for the heavy fallback paths.

    `edges_bounded=True` (round 13) is a caller's assertion that
    `pairs` reads a SETTLED frame (ckpt_shared hit sets / candidate
    frames — a cheap scan, never a recompute) whose edge count is
    usually small: the fixpoint then tries ONE
    limit(EDGE_SINGLE_TASK_MAX + 1) collect of the edges themselves
    and, when not truncated, solves union-find driver-side and labels
    `emb` with a map-only projection — no contraction kernel, no
    aggregate exchange, no DISK persist, two jobs total including the
    caller's collect. A truncated collect falls through to the
    contraction machinery unchanged (the wasted pass is one scan of a
    checkpointed frame). Same bounded control-plane budget as the
    quotient collect. Ignored when local_labels is supplied.

    `nodes_from_edges=True` (round 14, guide §2.4) strengthens
    edges_bounded: the caller asserts `emb` IS the distinct endpoint
    set of `pairs` (the dedup cluster consumers build it exactly so:
    pairs.explode.distinct). On the un-truncated edges-collect path
    the driver then already holds the whole node universe, so the
    labeling returns as a LocalRelation — the emb plan (one more
    scan of the settled hit frame + a distinct exchange + the
    map-literal projection) is never executed, removing a job and an
    exchange from every dedup-cluster consumer. The truncated
    fallback uses `emb` unchanged.

    Phase order (round 12 — two-level contraction, TWO jobs + the
    caller's collect on every graph whose label quotient fits one
    task; round 10 introduced the quotient level, round 12 collapsed
    its three control jobs into one bounded collect after finding the
    bench VM's job floor dominated the wall clock):
    (1) SEED: per-partition union-find contraction (_local_cc_labels,
    one Arrow stage) consuming the LAZY one-way edge plan directly —
    union-find connectivity is direction-agnostic, so the symmetrized
    view is never needed here, and fusing edge generation into the
    contraction job removes both a barrier and a DISK_ONLY round-trip
    of the full edge set. The per-node aggregate (min label + label
    set) is persisted LAZILY; (2) PROBE + QUOTIENT SOLVE in ONE
    bounded collect, which doubles as the persist's materializing
    action: the quotient edges — one (lmin, other-label) row per
    extra partition-local label a node received — are collected under
    a limit(QUOTIENT_SINGLE_TASK_MAX + 1) guard. Zero rows == the old
    n_q == 0 probe: no node received two distinct labels, the
    min-aggregated labeling provably IS the min-label fixpoint (see
    the inline soundness note) and it stays lazy for the caller's
    collect. (3) LEVEL-2 CONTRACTION, driver-side: <= cap rows means
    the limit did NOT truncate, so this is the COMPLETE quotient
    graph; the same union-find (a dict the size of the quotient —
    the budget the old repartition(1) single task had, minus its job
    and its broadcast-materialization job) maps each label to its
    component's min node id, and the mapping returns as a broadcast
    LocalRelation (materializes with NO Spark job) joined onto the
    seed. root(lmin(v)) is exactly the component's global min id —
    the min-label fixpoint with ZERO propagation rounds, whatever
    the component diameter or supercriticality (a giant component
    spread over P partitions quotients down to ≤ P·(local
    components) labels). (4) Only a quotient past the cap — at that
    point the graph has ~a million CROSS-PARTITION merges — pays the
    heavy path: checkpoint the one-way edges and route by average
    degree 2E/N — above DEGREE_SUPERCRITICAL the O(log n)
    large-star/small-star loop, else the Pregel min-label loop from
    the contraction seed. All paths compute the exact same min-label
    components — the 10x density stress (scripts/inflate_sf.py) and
    tests/test_plans.py's forced-fallback monkeypatch exercise the
    routing. The loop round cap still raises rather than
    returning non-converged labels. A per-iteration pointer-jumping
    variant was tried and reverted: the label-of-label self-join
    re-executed pathologically (iteration cost doubled per round on
    Spark 4.1 despite truncated logical AND RDD lineage).

    Memory hygiene (found the hard way at sf0.1 on a stock 1g
    session): iteration checkpoints are DISK_ONLY, the previous
    iteration's checkpoint is unpersisted once superseded, and the
    loop runs on bounded shuffle partitions.

    The bounded collects and loops run under `sizing.session_conf`
    (see its single-threaded plan-build caveat)."""
    from pyspark.storagelevel import StorageLevel

    release_fixpoint_cache()  # previous call's consumers are done
    spark = emb.sparkSession
    if edges_bounded and local_labels is None:
        with session_conf(spark, COLLECT_LIMIT_ONE_JOB):
            e_pd = pairs.limit(EDGE_SINGLE_TASK_MAX + 1).toPandas()
        if len(e_pd) <= EDGE_SINGLE_TASK_MAX:
            LAST_FIXPOINT_PATH["path"] = "edges-collect"
            if nodes_from_edges:
                # round-14 (guide §2.4): the caller declared emb ==
                # the distinct endpoint set of `pairs` (the dedup
                # consumers build it exactly that way), so after the
                # bounded collect the driver holds the ENTIRE node
                # universe — the labeling returns as a LocalRelation
                # and the emb plan (a scan of the settled hit set +
                # a distinct exchange + the map-literal projection)
                # is never executed. Bounded by the same
                # EDGE_SINGLE_TASK_MAX budget as the collect itself.
                import numpy as np
                import pandas as pd

                LAST_FIXPOINT_PATH["path"] = "edges-collect-local"
                ids = np.unique(
                    np.concatenate(
                        [
                            e_pd.iloc[:, 0].to_numpy(),
                            e_pd.iloc[:, 1].to_numpy(),
                        ]
                    )
                    if len(e_pd)
                    else np.array([], dtype="int64")
                )
                roots = _uf_roots(
                    zip(
                        e_pd.iloc[:, 0].to_numpy(),
                        e_pd.iloc[:, 1].to_numpy(),
                    )
                )
                lab = pd.DataFrame(
                    {
                        "vec_id": ids,
                        "object_id": [
                            roots.get(int(i), int(i)) for i in ids
                        ],
                    }
                ).astype("int64")
                return spark.createDataFrame(lab, schema="vec_id bigint, object_id bigint")
            roots = _uf_roots(
                zip(e_pd.iloc[:, 0].to_numpy(), e_pd.iloc[:, 1].to_numpy())
            )
            if not roots:
                return emb.select("vec_id", F.col("vec_id").alias("object_id"))
            if len(roots) <= QUOTIENT_MAP_LITERAL_MAX:
                # try_element_at, not element_at: NULL on a missing key
                # under BOTH ANSI settings (round-14 ADVICE — element_at
                # throws MAP_KEY_DOES_NOT_EXIST under ANSI, and
                # apply_session_defaults tolerates builds where the ANSI
                # conf is not runtime-settable)
                lit = ",".join(f"{k}L,{v}L" for k, v in roots.items())
                return (
                    emb.select(
                        "vec_id",
                        F.coalesce(
                            F.expr(f"try_element_at(map({lit}), vec_id)"),
                            F.col("vec_id"),
                        ).alias("object_id"),
                    )
                )
            import pandas as pd

            mapping = spark.createDataFrame(
                pd.DataFrame(
                    {"q_label": list(roots.keys()),
                     "q_root": list(roots.values())}
                ).astype("int64")
            )
            return (
                emb.select("vec_id")
                .join(
                    F.broadcast(mapping),
                    F.col("vec_id") == mapping["q_label"],
                    "left",
                )
                .select(
                    "vec_id",
                    F.coalesce("q_root", "vec_id").alias("object_id"),
                )
            )
        # truncated: the graph is not small — discard and run the
        # distributed contraction below (rare; one settled-frame scan)
    sp = shuffle_partitions(spark)
    with session_conf(
        spark, {SHUFFLE_PARTITIONS: capped_shuffle_partitions(spark)}
    ):
        # union-find sees each {u, v} once; direction is irrelevant
        # to connectivity, so the contraction job runs on the raw
        # one-way plan (edge-gen executes inside this job, fused) —
        # and the per-node aggregate (min label + disagreement flag)
        # rides the SAME job: checkpointing the aggregated output
        # instead of the raw contraction rows folds the probe's
        # shuffle into the contraction barrier, so the probe itself
        # degrades to a filter-limit-count over checkpointed,
        # node-sized data (a floor-cost job, no shuffle).
        # LAZY persist, not an eager localCheckpoint: the quotient
        # collect right below is the frame's first action, so ONE job
        # materializes the contraction into the cache AND returns the
        # quotient edges (round 12 — was two sequential jobs; on the
        # noisy bench VM every job barrier costs a floor). Lineage
        # truncation isn't needed on the loop-free paths; the heavy
        # paths below still checkpoint what they iterate on.
        contraction = (
            local_labels if local_labels is not None else _local_cc_labels(pairs)
        )
        local_agg = (
            contraction
            .groupBy("vec_id")
            .agg(
                F.min("lmin").alias("lmin"),
                F.collect_set("lmin").alias("labels"),
            )
            .persist(StorageLevel.DISK_ONLY)
        )
        # Convergence probe + quotient SOLVE in ONE bounded collect
        # (round 12 — was an aggregate probe job PLUS a repartition(1)
        # kernel job PLUS its broadcast job): the quotient edges —
        # one (lmin, other-label) row per extra partition-local label
        # a node received — are collected with a limit(cap+1) guard.
        # len == 0 reproduces the old n_q == 0 probe (soundness:
        # within a partition an edge's endpoints always share the
        # partition-local label, so if no node received two distinct
        # lmins the min-aggregated labeling provably IS the min-label
        # fixpoint). len <= cap means the limit did NOT truncate, so
        # this is the COMPLETE quotient graph and union-find solves
        # it driver-side (same bounded-single-task budget the old
        # repartition(1) kernel had, minus two job barriers); the
        # mapping returns as a broadcast LocalRelation, which
        # materializes with NO Spark job. len == cap+1 routes to the
        # heavy paths exactly like the old n_q > cap branch.
        with session_conf(spark, COLLECT_LIMIT_ONE_JOB):
            q_pd = (
                local_agg.filter(F.size("labels") > 1)
                .select(
                    F.col("lmin").alias("u"), F.explode("labels").alias("v")
                )
                .filter(F.col("u") != F.col("v"))
                .limit(QUOTIENT_SINGLE_TASK_MAX + 1)
                .toPandas()
            )
        n_q = len(q_pd)
        local = local_agg.select("vec_id", "lmin")
        if seed_complete:
            # the contraction covers every node (isolated ones label
            # themselves in the kernel): the seed IS the aggregated
            # labeling — no join back to the node set, so the final
            # job is one scan of the persisted aggregate
            seed = local.select(
                "vec_id", F.col("lmin").alias("object_id")
            )
        else:
            # shuffle_hash: `local` is node-sized (never broadcastable
            # at 100 TB) and a BroadcastExchange would cost one more
            # job at bench scale; the hash join folds into the
            # caller's collect.
            seed = (
                emb.select("vec_id")
                .join(local.hint("shuffle_hash"), "vec_id", "left")
                .select(
                    "vec_id",
                    F.coalesce(F.col("lmin"), F.col("vec_id")).alias("object_id"),
                )
            )
        if n_q == 0:
            # provably converged: the labeling stays LAZY (it folds
            # into the caller's collect — no seed checkpoint barrier);
            # the contraction cache is released by the NEXT fixpoint
            # call / cache clear, after the caller's action consumed it
            _PINNED_CACHE.append(local_agg)
            LAST_FIXPOINT_PATH["path"] = "probe-converged"
            return seed
        if n_q <= QUOTIENT_SINGLE_TASK_MAX:
            # LEVEL-2 CONTRACTION, driver-side: all of a node's
            # labels are pairwise quotient-connected through that
            # node, and every label of one global component joins one
            # quotient component, whose union-find root
            # (smaller-id-wins) is the component's global min node id
            # — so mapping lmin -> root and defaulting absent labels
            # to themselves IS the exact min-label fixpoint, with no
            # propagation loop.
            LAST_FIXPOINT_PATH["path"] = "quotient"
            _PINNED_CACHE.append(local_agg)  # deferred, as above
            roots = _uf_roots(
                zip(q_pd["u"].to_numpy(), q_pd["v"].to_numpy())
            )
            if len(roots) <= QUOTIENT_MAP_LITERAL_MAX:
                # small quotient: apply the label mapping as a literal
                # MAP expression — a scalar lookup in the projection,
                # so the final job is scan -> project with no
                # BroadcastExchange and no createDataFrame round-trip
                # (round 13; identical output, one less exchange).
                # try_element_at: ANSI-safe on missing keys (round-14
                # ADVICE, same rationale as the edges-collect path)
                lit = ",".join(f"{k}L,{v}L" for k, v in roots.items())
                return (
                    seed.select(
                        "vec_id",
                        F.coalesce(
                            F.expr(f"try_element_at(map({lit}), object_id)"),
                            F.col("object_id"),
                        ).alias("object_id"),
                    )
                )
            import pandas as pd

            mapping = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "q_label": list(roots.keys()),
                        "q_root": list(roots.values()),
                    }
                ).astype("int64")
            )
            return (
                seed.join(
                    F.broadcast(mapping),
                    seed["object_id"] == mapping["q_label"],
                    "left",
                )
                .select(
                    "vec_id",
                    F.coalesce("q_root", "object_id").alias("object_id"),
                )
            )
        labels = seed.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        local_agg.unpersist()  # labels checkpoint truncated its lineage
        # probe failed: NOW materialize the one-way edges (one more
        # execution of the edge-gen plan — only this rare path pays)
        # and derive the symmetrized view the loops need as a lazy
        # union over the checkpoint
        one_way = pairs.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        edges = one_way.unionAll(
            one_way.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        n_half_edges = 2 * one_way.count()  # = 2E, on the checkpoint
        n_nodes = max(1, _node_count(emb))
        with session_conf(
            spark, {SHUFFLE_PARTITIONS: loop_partitions(n_half_edges, sp)}
        ):
            if n_half_edges / n_nodes > DEGREE_SUPERCRITICAL:
                labels.unpersist()
                LAST_FIXPOINT_PATH["path"] = "alternating"
                out = _alternating_loop(emb, edges)
                one_way.unpersist()
                return out
            LAST_FIXPOINT_PATH["path"] = "min-label"
            out = _fixpoint_loop(emb, edges, labels)
            one_way.unpersist()
            return out


# Average-degree threshold for routing to the log-round CC path: 2-D
# continuum percolation sits near degree ~4.5; by 3 the subcritical
# components are already deep enough that min-label's round count
# climbs steeply, and large-star/small-star is never slower there.
DEGREE_SUPERCRITICAL = 3.0


def _uf_roots(edges) -> dict[int, int]:
    """Driver-side union-find over an iterable of (u, v) int pairs;
    returns node -> root with the component MINIMUM id as root
    (smaller id stays root on union, path-halving find). The
    mapInPandas kernel in _local_cc_labels carries its own inline
    copy of this logic ON PURPOSE: a kernel closing over a
    module-level function pickles it by reference and executors
    without lsd_spark on sys.path die with ModuleNotFoundError."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        u, v = int(u), int(v)
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {n: find(n) for n in parent}


def _local_cc_labels(edges: DataFrame) -> DataFrame:
    """Per-partition union-find contraction — ONE Arrow job over the
    checkpointed edges. Within each partition, every node of the
    local subgraph maps to the MIN vec_id of its partition-local
    component; a node split across partitions emits one row per
    partition (resolved by a min-aggregate in the caller).

    This is the classic local-aggregation-before-global-iteration
    CC optimization: chains that live inside one partition collapse
    in this single pass, so the global min-label loop only resolves
    CROSS-PARTITION chains — the quotient graph has at most
    (partitions-touched) super-nodes per component, so iterations
    drop from O(min-label eccentricity) (~7 on the sf0.1 FoF graph)
    to ~2. At scale the per-partition state is a dict over the
    partition's node ids — bounded by maxPartitionBytes, the same
    envelope every hash aggregate needs."""
    import pandas as pd

    def part(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for b in batches:
            for u, v in zip(b["u"].to_numpy(), b["v"].to_numpy()):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # smaller id stays root, so find() yields the min
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {"vec_id": nodes, "lmin": [find(n) for n in nodes]}
            )

    return edges.mapInPandas(part, "vec_id bigint, lmin bigint")


def _fixpoint_loop(
    emb: DataFrame, edges: DataFrame, seed: DataFrame
) -> DataFrame:
    """`edges` arrives SYMMETRIZED, backed by a checkpointed one-way
    RDD; `seed` is the checkpointed contraction labeling from the
    router (whose convergence probe already failed, so at least one
    cross-partition merge remains)."""
    from pyspark.storagelevel import StorageLevel

    level = StorageLevel.DISK_ONLY
    labels = seed
    prev = seed
    for _ in range(MAX_ITERS):
        # candidate new label: min over own label and neighbors' labels
        nbr = (
            edges.join(labels, edges.v == labels.vec_id)
            .groupBy(F.col("u").alias("vec_id"))
            .agg(F.min("object_id").alias("nbr_min"))
        )
        updated = (
            labels.join(nbr, "vec_id", "left")
            .select(
                "vec_id",
                F.least(
                    F.col("object_id"), F.coalesce(F.col("nbr_min"), F.col("object_id"))
                ).alias("new_id"),
                F.col("object_id"),
            )
        ).localCheckpoint(eager=True, storageLevel=level)
        if prev is not None:
            prev.unpersist()
        prev = updated
        changed = updated.filter(F.col("new_id") < F.col("object_id")).limit(1).count()
        labels = updated.select("vec_id", F.col("new_id").alias("object_id"))
        if changed == 0:
            edges.unpersist()
            return labels
    raise RuntimeError(
        f"cluster_fof: min-label propagation did not converge in {MAX_ITERS} "
        "iterations (min-label eccentricity exceeds the cap; is the match "
        "graph supercritical?) — refusing to return a non-converged labeling"
    )


CC_MAX_ROUNDS = 30

# observability: rounds taken by the last alternating_cc run (tests
# pin the log-round bound; a driver metric at scale)
LAST_CC_ROUNDS = {"rounds": 0}


def alternating_cc(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond" — public algorithm) — the log-round scale path that
    min_label_fixpoint cannot provide on SUPERCRITICAL graphs, where
    the giant component's min-label eccentricity is O(spatial
    diameter / linking length), i.e. hundreds of rounds.

    Each round rewrites the edge set:
      large-star: every node u attaches its LARGER neighbors to
        m(u) = min(N(u) ∪ {u});
      small-star: every node u attaches its smaller neighbors (and
        itself) to its minimum neighbor.
    Both preserve connectivity; the fixpoint is a forest of stars
    centered on each component's minimum id. Rounds are O(log n)
    (empirically ~5-8 on a 20k-node giant component vs 100+ for
    min-label). Per round: two shuffles (groupBy min + equi-join)
    plus a distinct — every one on the EDGE key space, so at 100 TB
    each round is a standard bounded shuffle, no driver data motion.

    Same hygiene as min_label_fixpoint: DISK_ONLY localCheckpoints
    per round (lineage truncation), superseded checkpoints
    unpersisted, bounded shuffle partitions, RAISES on cap."""
    spark = nodes.sparkSession
    with session_conf(
        spark, {SHUFFLE_PARTITIONS: capped_shuffle_partitions(spark)}
    ):
        return _alternating_loop(nodes, pairs)


def _canon(e: DataFrame) -> DataFrame:
    return (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _alternating_loop(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    level = StorageLevel.DISK_ONLY

    def sym(e):
        return e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def large_star(e):
        s = sym(e)
        m = (
            s.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("mn"))
        )
        att = (
            s.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        return _canon(att)

    def small_star(e):
        # direct edges toward the smaller endpoint: node u sees only
        # its strictly-smaller neighbors here
        d = sym(e).filter(F.col("v") < F.col("u"))
        m = d.groupBy("u").agg(F.min("v").alias("mn"))
        att = d.join(m, "u").select(F.col("v").alias("u"), F.col("mn").alias("v"))
        self_att = m.select(F.col("u"), F.col("mn").alias("v"))
        return _canon(att.unionAll(self_att))

    edges = _canon(pairs).localCheckpoint(eager=True, storageLevel=level)
    for rnd in range(1, CC_MAX_ROUNDS + 1):
        new_edges = small_star(large_star(edges)).localCheckpoint(
            eager=True, storageLevel=level
        )
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges.unpersist()
        edges = new_edges
        if changed == 0:
            LAST_CC_ROUNDS["rounds"] = rnd
            # fixpoint: edges are (center=min, member) stars
            members = edges.select(
                F.col("v").alias("vec_id"), F.col("u").alias("object_id")
            )
            labels = (
                nodes.join(members, "vec_id", "left")
                .groupBy("vec_id")
                .agg(F.min(F.coalesce("object_id", "vec_id")).alias("object_id"))
            )
            out = labels.localCheckpoint(
                eager=True, storageLevel=level
            )
            edges.unpersist()
            return out
    raise RuntimeError(
        f"alternating_cc: large-star/small-star did not converge in "
        f"{CC_MAX_ROUNDS} rounds — edge set still changing"
    )


@register("cluster_fof", oracle=_fof_oracle(_BUCKETED_PAIRS_SQL), cacheable=False)
def cluster_fof(spark, sf_dir):
    """Friends-of-friends object catalog over IVF-bucketed edges:
    every vector labeled with the min vec_id of its connected
    component (cosine >= EMBCOS_T within shared centroid buckets).
    The oracle CTE mirrors the deterministic bucketing, so the op is
    hash-checked end to end. Edge generation is an equi-join on
    centroid_id — the shape that survives 100 TB."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = (
        embcos_near_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
    )
    # the candidate frame is ckpt_shared-settled; near-dup graphs are
    # edge-sparse, so the one-collect driver solve usually applies
    return min_label_fixpoint(emb, pairs, edges_bounded=True)


@register("cluster_fof_exact", oracle=_fof_oracle(_EXACT_PAIRS_SQL), cacheable=False)
def cluster_fof_exact(spark, sf_dir):
    """FoF over the exact all-pairs edge set — the fixture-scale
    baseline the bucketed op's edge recall is measured against
    (tests/test_invariants.py). O(n^2) edge generation; never the
    production path.

    Round 13 (guide §4.2): the pairwise cosines used to run as
    interpreted higher-order-function folds inside a broadcast theta
    join — HOFs do not whole-stage-codegen, so 12.5M pairs x 32 dims
    of interpreted lambda steps measured 31.6 s at sf0.1. The kernel
    below hands whole batches to numpy while replicating the JVM
    arithmetic BIT-EXACTLY: dot and norm accumulate dimension-by-
    dimension in float64 (the same left-fold order as
    AGGREGATE(ZIP_WITH(...)); IEEE multiply is commutative and the
    per-element add sequence is identical), sqrt/divide are
    correctly-rounded IEEE on identical operands, and the only
    inexact step — Spark's decimal-string ROUND at the 1e-6 threshold
    boundary — stays in the JVM: the kernel pre-filters with a 1e-6
    safety margin and emits (u, v, dot, n_a, n_b), and the exact
    `round(dot/(n_a*n_b), 6) >= T` filter runs as the same Spark
    expression as before on bit-identical doubles. Same pair set,
    ~16x less wall clock (31.6 s -> ~2 s). The driver-side collect of
    the embedding matrix is the same fixture-scale budget the old
    plan's BroadcastExchange paid."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    a_ids = pdf["vec_id"].to_numpy().astype("int64")
    a_mat = np.stack(
        [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
    )
    bc = spark.sparkContext.broadcast((a_ids, a_mat))
    margin = EMBCOS_T - 1e-6

    def kernel(batches):
        import numpy as np
        import pandas as pd

        ids_a, A = bc.value
        ndim = A.shape[1]
        na2 = np.zeros(len(ids_a))
        for k in range(ndim):  # the JVM fold order, vectorized per dim
            na2 += A[:, k] * A[:, k]
        na = np.sqrt(na2)
        BLOCK = 512  # bounds the (block x n) dot matrix to ~20 MB
        for bdf in batches:
            ids_b = bdf["vec_id"].to_numpy().astype("int64")
            B = np.stack(
                [np.asarray(e, dtype=np.float64) for e in bdf["embedding"]]
            ) if len(bdf) else np.zeros((0, ndim))
            nb2 = np.zeros(len(ids_b))
            for k in range(ndim):
                nb2 += B[:, k] * B[:, k]
            nb = np.sqrt(nb2)
            for s in range(0, len(ids_b), BLOCK):
                Bb = B[s:s + BLOCK]
                idb = ids_b[s:s + BLOCK]
                nbb = nb[s:s + BLOCK]
                dot = np.zeros((len(idb), len(ids_a)))
                for k in range(ndim):
                    dot += np.outer(Bb[:, k], A[:, k])
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = dot / (nbb[:, None] * na[None, :])
                mask = (ids_a[None, :] < idb[:, None]) & (sim >= margin)
                bi, ai = np.nonzero(mask)
                if len(bi) == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "u": ids_a[ai],
                        "v": idb[bi],
                        "dot": dot[bi, ai],
                        "n_a": na[ai],
                        "n_b": nbb[bi],
                    }
                )

    b = spread(emb.select("vec_id", "embedding"))
    cand = b.mapInPandas(
        kernel, "u bigint, v bigint, dot double, n_a double, n_b double"
    )
    pairs = (
        cand.filter(
            F.round(F.col("dot") / (F.col("n_a") * F.col("n_b")), 6)
            >= EMBCOS_T
        )
        .select("u", "v")
    )
    labels = min_label_fixpoint(emb, pairs)
    # release the broadcast matrix with the fixpoint's own deferred
    # mechanism (round-14 ADVICE: the handle used to stay pinned on
    # driver and executors for the session lifetime). Appended AFTER
    # the fixpoint call — min_label_fixpoint releases the pin list at
    # its START, so the matrix survives this call's consuming action
    # and goes at the NEXT fixpoint call / cache clear.
    # Broadcast.unpersist() matches the release loop's duck-typed call.
    _PINNED_CACHE.append(bc)
    return labels


@register(
    "graph_degree_hist",
    oracle=(
        "WITH pairs AS (" + _BUCKETED_PAIRS_SQL + "), "
        "e AS (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs), "
        "deg AS (SELECT node, count(*) AS degree FROM e GROUP BY node) "
        "SELECT degree, count(*) AS n_nodes FROM deg "
        "GROUP BY degree ORDER BY degree"
    ),
)
def graph_degree_hist(spark, sf_dir):
    """Degree distribution of the near-duplicate graph — the dedup
    health metric (a fat tail means boilerplate clusters; spikes mean
    template families). Two map-side-combined aggs over the bucketed
    edge list; output size = number of distinct degrees.

    Round 7: endpoints come from ONE explode of each edge row, not a
    unionAll of two projections — Catalyst duplicates a subtree per
    consumer, and the consumed subtree here is the whole
    embcos_near_pairs candidate chain (the plan audit showed 55
    exchanges; the explode halves it)."""
    pairs = (
        embcos_near_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
    )
    nodes = pairs.select(
        F.explode(F.array("u", "v")).alias("node")
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
    )


_PR_ITERS = 3
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    """DuckDB mirror of graph_pagerank: the same bucketed edge set,
    symmetrized, with the fixed `_PR_ITERS` power iterations unrolled
    as CTE chains (the knn_ivf_kmeans convention for iterative
    algorithms) and the final score FLOOR-quantized before compare."""
    ctes = [
        "pairs AS (" + _BUCKETED_PAIRS_SQL + ")",
        "sym AS (SELECT u AS src, v AS dst FROM pairs "
        "UNION ALL SELECT v, u FROM pairs)",
        "deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "pr0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS pr FROM deg)",
    ]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT s.dst AS node, SUM(p.pr / p.deg) AS c "
            f"FROM sym s JOIN pr{i - 1} p ON s.src = p.node GROUP BY s.dst)"
        )
        ctes.append(
            f"pr{i} AS (SELECT d.node, d.deg, "
            f"{1.0 - _PR_DAMP} / (SELECT n FROM nn) + {_PR_DAMP} * COALESCE(c.c, 0) AS pr "
            f"FROM deg d LEFT JOIN c{i} c USING (node))"
        )
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT node, CAST(FLOOR(pr * 1000000000 + 0.5) AS BIGINT) AS pr_q "
        f"FROM pr{_PR_ITERS} ORDER BY node"
    )


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank (3 fixed power iterations, damping 0.85) over the
    near-duplicate graph — ranks the HUB documents of boilerplate /
    template families, the natural next diagnostic after
    graph_degree_hist on the same bucketed edge set (a high-PR doc is
    the canonical representative its cluster should keep).

    Plan shape: symmetrized edges shuffled ONCE by src into the
    contribution aggregate per iteration (map-side combined), each
    iteration one equi-join of the O(nodes) rank table against the
    stationary edge list — the standard Pregel-free DataFrame
    PageRank; at 100 TB the edge list is bucketed by src so the
    per-iteration join is co-located, and iterations would checkpoint
    every ~5 rounds like min_label_fixpoint does. No driver-side
    iteration state beyond the bounded node count; the fixed
    iteration count and FLOOR-quantized output make the whole
    trajectory differential-testable (the knn_ivf_kmeans pattern)."""
    pairs = (
        embcos_near_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
    )
    sym = pairs.selectExpr("u AS src", "v AS dst").unionAll(
        pairs.selectExpr("v AS src", "u AS dst")
    )
    # materialize the edge list once: the iteration otherwise re-runs
    # candidate generation (IVF bucketing + refine) in every join —
    # the same edges-are-an-artifact decision min_label_fixpoint makes
    sym = sym.localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    n_nodes = deg.count()  # bounded: nodes of the dup graph, driver-side once
    pr = deg.withColumn("pr", F.lit(1.0 / n_nodes))
    for _ in range(_PR_ITERS):
        contrib = (
            sym.join(pr, sym.src == pr.node)
            .select(F.col("dst"), (F.col("pr") / F.col("deg")).alias("w"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("c"))
        )
        pr = (
            deg.join(contrib, "node", "left")
            .withColumn(
                "pr",
                F.lit((1.0 - _PR_DAMP) / n_nodes)
                + F.lit(_PR_DAMP) * F.coalesce(F.col("c"), F.lit(0.0)),
            )
            .select("node", "deg", "pr")
        )
    return (
        pr.select(
            "node",
            F.floor(F.col("pr") * 1_000_000_000 + F.lit(0.5)).cast("long").alias("pr_q"),
        )
    )


@register(
    "graph_triangle_count",
    oracle=(
        "WITH pairs AS (" + _BUCKETED_PAIRS_SQL + "), "
        "tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
        "FROM pairs e1 JOIN pairs e2 ON e2.u = e1.v "
        "JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v), "
        "tn AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri "
        "UNION ALL SELECT c FROM tri), "
        "an AS (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs), "
        "deg AS (SELECT node, count(*) AS degree FROM an GROUP BY node), "
        "tc AS (SELECT node, count(*) AS n_tri FROM tn GROUP BY node) "
        "SELECT d.node, d.degree, COALESCE(t.n_tri, 0) AS n_tri "
        "FROM deg d LEFT JOIN tc t ON d.node = t.node ORDER BY d.node"
    ),
    cacheable=False,
)
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the near-duplicate graph — the
    third diagnostic on the same bucketed edge set (after
    graph_degree_hist and graph_pagerank): triangles/degree separates
    CLIQUE-like template families (every member pairs with every
    other — the safe bulk-drop case) from STAR-like hubs (one
    boilerplate doc similar to many mutually-dissimilar docs — the
    case where transitive dedup over-merges).

    Plan: degree-ORIENTED wedge counting (Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer" — public
    MapReduce algorithm). Each undirected edge is directed from its
    lower-(degree, id) endpoint to the higher; wedges are generated
    only at each triangle's minimum-rank apex, which bounds the
    self-join fan-out by O(sqrt(m)) per node — total work O(m^1.5)
    regardless of degree skew, vs the unbounded hot-hub blowup of
    naive per-node wedge enumeration (the "last reducer" a 100 TB
    boilerplate hub would otherwise become). Every step is an
    equi-join or map-side-combined aggregate on node keys: no
    broadcast of anything corpus-sized, no driver data motion.

    The ORACLE enumerates the same triangle set the simple way
    (canonical u<v<w three-way join) — fixture-scale tractable, and
    an independent formulation: agreement checks the orientation
    logic, not just the arithmetic."""
    # materialize the edge list once (the pagerank/FoF edges-are-an-
    # artifact decision): this plan references it FOUR times (degree,
    # orientation, wedge self-join, closure probe) — without the
    # checkpoint each reference re-expands the whole IVF candidate
    # pipeline and the logical tree balloons ~40x
    pairs = (
        embcos_near_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
        .localCheckpoint(eager=True)
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # the oriented list is the self-joined side — checkpoint it too
    # (same row count as pairs; one tiny eager job) so the wedge
    # join's both legs and the closure probe read a settled plan
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .select(
            F.col("x.src").alias("a"),
            F.col("x.dst").alias("b"),
            F.col("y.dst").alias("c"),
        )
    )
    tri = wedges.join(
        pairs,
        (F.least("b", "c") == F.col("u")) & (F.greatest("b", "c") == F.col("v")),
    ).select("a", "b", "c")
    tn = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    tc = tn.groupBy("node").agg(F.count("*").alias("n_tri"))
    return (
        deg.join(tc, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
        )
    )


_QSCORE_SQL = (
    "CAST(FLOOR((LEAST(n_chars / 400.0, 1.0) * 0.5 + "
    "LEAST(len(string_split(text, ' ')) / 80.0, 1.0) * 0.5) * 10000 + 0.5) / 10000 "
    "AS DOUBLE)"
)


@register(
    "llm_dedup_keep_best",
    oracle=(
        "WITH RECURSIVE pairs AS (" + _BUCKETED_PAIRS_SQL + "), "
        "e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs), "
        "reach(src, node) AS ("
        "SELECT vec_id, vec_id FROM embeddings "
        "UNION "
        "SELECT r.src, e.v FROM reach r JOIN e ON r.node = e.u), "
        "comp AS (SELECT src AS vec_id, min(node) AS object_id FROM reach GROUP BY src), "
        f"q AS (SELECT doc_id, {_QSCORE_SQL} AS qs FROM documents) "
        "SELECT object_id, doc_id AS keeper, group_size FROM ("
        "SELECT comp.object_id, q.doc_id, q.qs, "
        "count(*) OVER (PARTITION BY comp.object_id) AS group_size, "
        "ROW_NUMBER() OVER (PARTITION BY comp.object_id "
        "ORDER BY q.qs DESC, q.doc_id ASC) AS rn "
        "FROM comp JOIN q ON comp.vec_id = q.doc_id) "
        "WHERE rn = 1 AND group_size > 1 ORDER BY object_id"
    ),
    cacheable=False,
)
def llm_dedup_keep_best(spark, sf_dir):
    """Representative selection by QUALITY over semantic clusters —
    the production dedup policy: within each friends-of-friends
    near-duplicate component (embeddings joined to documents on
    doc_id = vec_id), keep the highest-quality-score document
    (doc_id tiebreak). Only multi-member clusters are reported.
    Composition of three already-verified pieces: bucketed FoF
    labels, the quality score, and a per-component rank — each
    shuffle is on component ids (tiny), never the corpus."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    pairs = (
        embcos_near_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
    )
    comp = min_label_fixpoint(emb, pairs, edges_bounded=True)
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    score = (
        F.least(F.col("n_chars") / 400.0, F.lit(1.0)) * 0.5
        + F.least(ntok / 80.0, F.lit(1.0)) * 0.5
    )
    q4 = (F.floor(score * 10000 + F.lit(0.5)) / 10000).cast("double")
    q = docs.select("doc_id", q4.alias("qs"))
    joined = comp.join(q, comp.vec_id == q.doc_id).select("object_id", "doc_id", "qs")
    wc = Window.partitionBy("object_id")
    wr = Window.partitionBy("object_id").orderBy(F.col("qs").desc(), F.col("doc_id").asc())
    return (
        joined.withColumn("group_size", F.count("*").over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter((F.col("rn") == 1) & (F.col("group_size") > 1))
        .select("object_id", F.col("doc_id").alias("keeper"), "group_size")
    )
