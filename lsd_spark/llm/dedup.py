"""§2.J deduplication — first-class training-data-pipeline operators.

- exact dedup: hash-groupBy on a content fingerprint (md5). At
  100 TB this is a map-side-combined agg on a 16-byte key — the
  cheapest possible shuffle; never group by the raw text.
- near dedup: MinHash + LSH banding, entirely in Catalyst built-ins
  (no Python): token shingles → H minhashes (xxhash64, fixed seeds)
  → B band keys → self-equi-join on (band, band_hash) → exact
  Jaccard refinement. The band key IS the zones technique again
  (SURVEY.md §2.C design note): candidate generation is an equi
  join, never a cross product, so it scales linearly with collision
  count, not quadratically with corpus size.

Two helpers hold the decisions every banded dedup shares:

- `band_pairs` is the one banded self-join. It applies the exact
  refine BEFORE it dedups the candidate pairs, and it dedups on the
  pair keys plus the score, never on array payloads. That order is
  exact because every refine here (hamming, Jaccard) is a pure
  function of the pair.
- `expand_collapsed` is the one undirected collapse-identical-first
  expansion: representative pairs fan out through the membership
  map, and each text group's own member pairs carry the group's
  payload. (Containment is directed and expands on its own.)
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import cached_plan, register
from lsd_spark.sizing import spread

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_T = 0.6


def ckpt_shared(spark, sf_dir, tag, builder):
    """Eagerly materialize a MULTI-CONSUMER frame and memoize it in
    the plan cache (round-7 VERDICT #1). Catalyst performs no
    cross-branch common-subexpression elimination: a frame consumed
    k times re-executes from the parquet scan up in EVERY branch, so
    the dedup plans that share collapsed-reps / posting frames were
    re-reading the corpus 15-28x per query. A DISK_ONLY
    localCheckpoint truncates the lineage once; the plan-cache
    memoization (same key space and invalidation point as every
    cached plan — clear_plan_cache) additionally shares the frame
    ACROSS the ops that consume it (degree_hist / pagerank /
    triangle / keep_best / pipeline_mm all read the same edge set).

    100 TB: the checkpoint writes each shared frame to executor-
    local disk exactly once — the frames are collapsed-reps /
    posting / edge lists (corpus-sized or smaller), and one
    materialized pass replaces 15-28 corpus re-scans. Staleness
    contract is the plan cache's: a parquet mutation needs
    clear_plan_cache, as for every memoized plan.

    Fault-tolerance contract (round-8 ADVICE #3): localCheckpoint
    truncates lineage into NON-REPLICATED executor-local storage —
    lose an executor and every downstream consumer of the shared
    frame fails for the session (no lineage left to recompute from).
    That's the right trade locally and on stable clusters (reliable
    checkpoint would add a DFS round-trip per frame); a deployment
    with routine executor churn should either swap this to
    spark.sparkContext.setCheckpointDir + .checkpoint() (replicated,
    one DFS write) or wrap consumers with a clear_plan_cache +
    rebuild retry — the builder lambda is the rebuild path."""
    return cached_plan(
        spark, sf_dir, f"ckpt:{tag}",
        lambda: builder().localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        ),
    )


@register(
    "llm_dedup_exact",
    oracle=(
        "WITH g AS (SELECT md5(text) AS fp, count(*) AS c FROM documents GROUP BY fp) "
        "SELECT CAST(SUM(c) AS BIGINT) AS n_docs, count(*) AS n_unique, "
        "CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 END), 0) AS BIGINT) AS dup_groups, "
        "CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup_docs "
        "FROM g"
    ),
)
def llm_dedup_exact(spark, sf_dir):
    """Exact dedup summary over md5 content fingerprints."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("fp")).agg(
        F.count("*").alias("c")
    )
    return g.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, 1)), F.lit(0)).cast("long").alias("dup_groups"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("dup_docs"),
    )


def _shingled(docs):
    """doc_id + distinct 3-token shingle array (word-soup safe)."""
    tok = F.split("text", " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(tok) - 2, F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i, 3)))
    return docs.select("doc_id", F.array_distinct(sh).alias("shingles"))


# Adaptive collapse routing (round 8): collapse-identical-first is
# an optimization for DUPLICATE-HEAVY corpora — it cuts in-bucket
# pair counts quadratically in the duplicate multiplicity, but costs
# a fixed floor (the shared-frame checkpoint builds) that a
# low-duplication corpus never earns back (measured: simhash 0.22 s
# naive vs 4.3 s collapsed at sf0.1's 0.2% dup rate; 881 s naive vs
# seconds collapsed at the 10x dir's 90%). The ops that can route
# probe the corpus duplicate fraction ONCE per (session, sf_dir) —
# a single map-side count + approx-distinct scan — and take the
# naive lazy plan below the threshold (min_label_fixpoint's
# subcritical/supercritical split, applied to dedup). Both paths
# are bit-identical (tests/test_collapse_equivalence.py pins the
# collapsed builders directly, on both plain and inflated dirs).
DUP_COLLAPSE_T = 0.10

_DUP_FRAC: dict[tuple[str, str], float] = {}


def clear_dup_stats() -> None:
    _DUP_FRAC.clear()


def corpus_dup_fraction(spark, sf_dir) -> float:
    """1 - distinct_texts/n_docs, via EXACT countDistinct on the
    16-byte md5 fingerprint. Exact, not approx_count_distinct: the
    HLL's ~2% rsd is a standard deviation, not a bound, so a corpus
    whose true fraction sits near DUP_COLLAPSE_T could flip plans
    nondeterministically across sessions (round-8 ADVICE #2 — both
    plans are bit-identical, but bench timings and ratcheted plan
    shapes must be reproducible). Cost is the same single corpus
    scan; the distinct's state is the fingerprint set — bounded,
    partial-aggregated, and exactly what the collapse path's
    text_groups groupBy pays anyway. Memoized per (session, sf_dir);
    invalidated with the plan cache (clear_plan_cache)."""
    from lsd_spark.catalog import session_key

    key = (session_key(spark), sf_dir)
    v = _DUP_FRAC.get(key)
    if v is None:
        docs = load(spark, sf_dir, "documents")
        row = docs.agg(
            F.count("*").alias("n"),
            F.count_distinct(
                F.md5(F.col("text").cast("binary"))
            ).alias("d"),
        ).collect()[0]
        v = 0.0 if row["n"] == 0 else max(0.0, 1.0 - row["d"] / row["n"])
        _DUP_FRAC[key] = v
    return v


def text_groups(spark, sf_dir):
    """(fp, rid, r_text, sz) — one row per DISTINCT document text:
    md5 fingerprint, representative (min doc_id), the text, group
    size. THE shared collapse-identical-first frame: ngram,
    containment, edit, and simhash dedup all start here, so one
    ckpt_shared materialization (one corpus scan) serves the whole
    text-dedup family per session."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    tagged = docs.select("doc_id", "text", fp.alias("fp"))
    return ckpt_shared(
        spark, sf_dir, "text_groups",
        lambda: tagged.groupBy("fp").agg(
            F.min("doc_id").alias("rid"),
            F.first("text").alias("r_text"),
            F.count("*").alias("sz"),
        ),
    )


def text_mem(spark, sf_dir):
    """(doc_id, rid) — document -> representative membership map,
    the expansion side of every collapse-first rewrite. Corpus-sized
    (one row per document): always a shuffle equi-join, never a
    broadcast."""
    groups = text_groups(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    tagged = docs.select("doc_id", fp.alias("fp"))
    return ckpt_shared(
        spark, sf_dir, "text_mem",
        lambda: tagged.join(groups.select("fp", "rid"), "fp").select(
            "doc_id", "rid"
        ),
    )


def band_pairs(bands, keys, pair, id_col="doc_id", score=None, keep=None):
    """The banded candidate-pair builder of every LSH dedup: the
    self-equi-join of `bands` on `keys` with a.id < b.id, projected
    to the `pair` names plus `score` (output name -> expression over
    the a./b. aliases), filtered by the exact refine `keep`, then
    deduplicated — a pair colliding in k bands arrives k times.

    The refine runs before the dedup, and the dedup sees only the
    pair keys and the score. Both are exact because each score is a
    pure function of the pair, so the k copies score alike. That way
    the dedup shuffles the refine's survivors, not every collision,
    and never an array payload. A caller whose refine inputs are
    large passes no score and joins its payload back onto the
    deduplicated keys."""
    a, b = bands.alias("a"), bands.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    pairs = a.join(b, reduce(and_, on)).select(
        F.col(f"a.{id_col}").alias(pair[0]),
        F.col(f"b.{id_col}").alias(pair[1]),
        *[e.alias(n) for n, e in (score or {}).items()],
    )
    if keep is not None:
        pairs = pairs.filter(keep)
    return pairs.distinct()


def expand_collapsed(rep_pairs, mem, within, pair=("doc_a", "doc_b")):
    """The undirected collapse-identical-first expansion.

    `rep_pairs` is (rep_a, rep_b, *payload) over group representatives
    and `mem` the (member, rep) membership map, both by position. A
    surviving rep pair expands to every member pair across its two
    groups, ordered with least/greatest. Each group's own members
    pair up (a < b) and carry `within`: a dict of constant payload
    columns, or a (g, *payload) frame keyed by the rep id `g`. The
    frame is inner-joined, so a group missing from it emits no
    within-group pairs."""
    ga, gb, *payload = rep_pairs.columns
    member, rep = mem.columns
    ma = mem.select(F.col(member).alias("va"), F.col(rep).alias(ga))
    mb = mem.select(F.col(member).alias("vb"), F.col(rep).alias(gb))
    cross = rep_pairs.join(ma, ga).join(mb, gb).select(
        F.least("va", "vb").alias(pair[0]),
        F.greatest("va", "vb").alias(pair[1]),
        *payload,
    )
    same = (
        mem.select(F.col(member).alias("va"), F.col(rep).alias("g"))
        .join(mem.select(F.col(member).alias("vb"), F.col(rep).alias("g")), "g")
        .filter(F.col("va") < F.col("vb"))
    )
    if isinstance(within, DataFrame):
        same = same.join(within, "g")
    else:
        same = same.select("va", "vb", *[c.alias(n) for n, c in within.items()])
    return cross.unionByName(
        same.select(F.col("va").alias(pair[0]), F.col("vb").alias(pair[1]), *payload)
    )


def minhash_signature(shingles_col):
    """H independent minhashes via xxhash64(shingle, seed) — fixed
    seeds 0..H-1, fully deterministic, JVM-side. Each transform gets
    a one-parameter lambda that closes over its seed: PySpark binds a
    second lambda parameter to the element index, not to a default."""

    def seeded(seed):
        return lambda s: F.xxhash64(s, F.lit(seed))

    return F.array(
        *[
            F.array_min(F.transform(shingles_col, seeded(seed)))
            for seed in range(N_HASHES)
        ]
    )


@register("llm_dedup_near", oracle=None)  # rows-only: LSH candidate set is engine-specific
def llm_dedup_near(spark, sf_dir):
    """MinHash/LSH near-duplicate pairs at Jaccard >= 0.6 over
    3-token shingles. Deterministic (fixed hash seeds); rows-only
    because LSH banding (4 bands x 4 rows) admits false negatives no
    portable SQL oracle reproduces."""
    docs = load(spark, sf_dir, "documents")
    sig = _shingled(docs).select(
        "doc_id", "shingles", minhash_signature(F.col("shingles")).alias("mh")
    )
    bands = sig.select(
        "doc_id",
        "shingles",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("mh", b * ROWS_PER_BAND + r + 1) for r in range(ROWS_PER_BAND)]
                        ).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "shingles", "bk.band", "bk.bh")
    jac = F.size(F.array_intersect("a.shingles", "b.shingles")) / F.size(
        F.array_union("a.shingles", "b.shingles")
    )
    return band_pairs(
        bands, ["band", "bh"], ("doc_a", "doc_b"),
        score={"jaccard": F.round(jac.cast("double"), 4)},
        keep=F.col("jaccard") >= JACCARD_T,
    )


# ---------------------------------------------------------------------------
# SimHash near-dedup — fully oracle-checked.
#
# Portability trick: both engines derive the SAME 60-bit token hash
# from md5 hex (Spark: conv(hex,16,10); DuckDB: '0x'||hex cast), so
# the signatures — and therefore the candidate pairs — are bit-exact
# across engines and the op gets a full DuckDB oracle instead of a
# rows-only check.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed BIGINT
SIMHASH_BANDS = 4  # 4 x 15-bit bands; hamming<=3 guaranteed found (pigeonhole)
HAM_T = 2

HASH60_SPARK = "CAST(conv(substr(md5({t}),1,15),16,10) AS BIGINT)"
HASH60_DUCK = "('0x' || substring(md5({t}),1,15))::BIGINT"


def _simhash_terms(dialect: str) -> str:
    """Sum-of-bit-values expression computing the simhash from the
    per-token hash array `hs` — pure higher-order functions, no
    shuffle: at 100 TB this is a map-only pass."""
    terms = []
    for b in range(SIMHASH_BITS):
        if dialect == "spark":
            vote = (
                f"aggregate(hs, 0L, (acc, h) -> acc + "
                f"(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END))"
            )
            terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << b}L ELSE 0L END)")
        else:
            vote = (
                f"list_sum(list_transform(hs, h -> "
                f"CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END))"
            )
            terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(terms)


# shared by llm_dedup_simhash (pair report) and
# llm_dedup_simhash_clusters (transitive-closure summary)
_SIMHASH_CTES = (
    "hs AS (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')), "
    "t -> " + HASH60_DUCK.format(t="t") + ") AS hs FROM documents), "
    "sh AS (SELECT doc_id, (" + _simhash_terms("duck") + ")::BIGINT AS simhash FROM hs), "
    "bands AS (SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767 AS bk "
    "FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
    "FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id)"
)

_SIMHASH_ORACLE = (
    "WITH " + _SIMHASH_CTES + " "
    f"SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {HAM_T} "
    "ORDER BY doc_a, doc_b"
)


def _simhash_banded(frame):
    """(doc_id, simhash) -> thresholded banded self-join pairs
    (lo, hi, hamming) — the shared core of both simhash paths."""
    bands = frame.selectExpr(
        "doc_id",
        "simhash",
        "explode(array(0, 1, 2, 3)) AS j",
    ).selectExpr("doc_id", "simhash", "j", "(shiftright(simhash, 15 * j) & 32767) AS bk")
    return band_pairs(
        bands, ["j", "bk"], ("lo", "hi"),
        score={"hamming": F.bit_count(F.expr("a.simhash ^ b.simhash")).cast("long")},
        keep=F.col("hamming") <= HAM_T,
    )


def _simhash_signatures(docs):
    return docs.selectExpr(
        "doc_id",
        "transform(array_distinct(split(text, ' ')), t -> "
        + HASH60_SPARK.format(t="t")
        + ") AS hs",
    ).selectExpr("doc_id", f"({_simhash_terms('spark')}) AS simhash")


def _simhash_naive(spark, sf_dir):
    """One lazy tree over every document — the right plan when the
    corpus has (almost) no exact duplicates: no checkpoint floor,
    single scan, fully pipelined."""
    docs = load(spark, sf_dir, "documents")
    pairs = _simhash_banded(_simhash_signatures(docs))
    return pairs.select(F.col("lo").alias("doc_a"), F.col("hi").alias("doc_b"), "hamming")


def _simhash_collapsed(spark, sf_dir):
    """Collapse-identical-first: identical texts have identical
    signatures, hence identical bands and hamming 0, so the
    60-lambda signature fold and the band self-join run over ONE
    representative per distinct text; surviving rep pairs expand
    through the membership map, and within-group pairs emit
    hamming 0 directly (a duplicate pair always shares every
    band). Bit-identical to the naive plan
    (tests/test_collapse_equivalence.py pins it on both dirs)."""
    groups = text_groups(spark, sf_dir)
    mem = text_mem(spark, sf_dir)
    rdocs = groups.select(
        F.col("rid").alias("doc_id"), F.col("r_text").alias("text")
    )
    rsh = ckpt_shared(
        spark, sf_dir, "simhash_sig",
        lambda: _simhash_signatures(rdocs),
    )
    return expand_collapsed(
        _simhash_banded(rsh), mem, {"hamming": F.lit(0).cast("long")}
    )


@register("llm_dedup_simhash", oracle=_SIMHASH_ORACLE)
def llm_dedup_simhash(spark, sf_dir):
    """SimHash near-duplicate pairs at hamming distance <= 2 over
    60-bit signatures of distinct tokens. With 4 bands of 15 bits,
    any pair at hamming <= 3 shares a whole band (pigeonhole), so at
    this threshold the banded candidate set is EXACT — which is why
    this op can carry a full oracle.

    Scale shape (100 TB): signature = map-only higher-order fold per
    row (no Python, no shuffle); candidates = equi self-join on
    (band, 15-bit band key) — the zones technique on hash space —
    then hamming refinement on the 8-byte signature. The shuffle key
    is 2 ints/doc regardless of document size.

    Round 8 — ADAPTIVE COLLAPSE ROUTING (the per-side stress split
    attributed 881 of the 919 s sf1 seconds to this op's Spark
    side; see DUP_COLLAPSE_T): duplicate-heavy corpora square the
    in-band pair count and multiply the interpreted signature fold
    by the duplicate multiplicity, so past the threshold the op
    takes the collapse-identical-first path; below it, the naive
    single-tree plan wins (no checkpoint floor). Both paths are
    bit-identical; the oracle is the naive formulation either
    way."""
    if corpus_dup_fraction(spark, sf_dir) >= DUP_COLLAPSE_T:
        return _simhash_collapsed(spark, sf_dir)
    return _simhash_naive(spark, sf_dir)


_SIMHASH_CLUSTER_ORACLE = (
    "WITH RECURSIVE " + _SIMHASH_CTES + ", "
    f"pairs AS (SELECT doc_a, doc_b FROM cand WHERE hamming <= {HAM_T}), "
    "e AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
    "UNION ALL SELECT doc_b, doc_a FROM pairs), "
    "reach(src, node) AS ("
    "SELECT u, u FROM e UNION SELECT r.src, e.v FROM reach r JOIN e ON r.node = e.u), "
    "lab AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src) "
    "SELECT CAST(cluster_id AS BIGINT) AS cluster_id, count(*) AS n_docs, "
    "md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS member_fp "
    "FROM lab GROUP BY cluster_id ORDER BY cluster_id"
)


def _simhash_cluster_summary(labels):
    """(vec_id, object_id) component labels -> the cluster report:
    cluster_id (min member doc_id), size, exact-membership md5
    fingerprint — the same structure-verifying shape as
    llm_dedup_cluster."""
    return (
        labels.groupBy(F.col("object_id").cast("long").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("vec_id")),
                        lambda x: x.cast("string"),
                    ),
                ).cast("binary")
            ).alias("member_fp"),
        )
    )


def _simhash_clusters_naive(spark, sf_dir):
    """Unlike the PAIR op (one consumer — lazy single tree wins at
    low duplication), the closure consumes the edge set >= 3 times
    (node explode, contraction seed, fixpoint loop), and every lazy
    re-execution re-runs the 60-lambda signature fold — measured
    41 s at sf0.1 unckpted vs sub-second for the pair op. So the
    thresholded edge set is ckpt_shared-settled even on the naive
    route — as is the signature frame beneath it, because the band
    SELF-join folds its lazy input twice (both aliases)."""
    from lsd_spark.plans.cluster import min_label_fixpoint

    docs = load(spark, sf_dir, "documents")
    sig = ckpt_shared(
        spark, sf_dir, "simhash_sig_full",
        lambda: _simhash_signatures(docs),
    )
    pairs = ckpt_shared(
        spark, sf_dir, "simhash_pairs",
        lambda: _simhash_banded(sig).select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ),
    )
    nodes = pairs.select(F.explode(F.array("u", "v")).alias("vec_id")).distinct()
    return _simhash_cluster_summary(
        min_label_fixpoint(
            nodes, pairs, edges_bounded=True, nodes_from_edges=True
        )
    )


def _simhash_clusters_collapsed(spark, sf_dir):
    """Components over the REPRESENTATIVE graph, expanded through the
    membership map — the quadratic within-group pair set is never
    materialized AT ALL (this is the variant's whole point: at the
    90%-duplicate stress dir the pair report is 12.9 M rows, the
    cluster summary is thousands).

    Soundness: identical docs always pairwise-collide (same simhash,
    same bands, hamming 0), so every text group is internally
    connected; cross-group doc pairs exist iff the REP pair survives
    the band join + hamming filter. Doc-level components are
    therefore exactly rep-level components expanded by group
    membership, plus each multi-doc group whose rep is isolated as
    its own cluster. cluster_id = min member doc_id = min rep id in
    the component, because each rep IS its group's min doc_id."""
    from lsd_spark.plans.cluster import min_label_fixpoint

    groups = text_groups(spark, sf_dir)
    mem = text_mem(spark, sf_dir)
    rdocs = groups.select(
        F.col("rid").alias("doc_id"), F.col("r_text").alias("text")
    )
    rsh = ckpt_shared(
        spark, sf_dir, "simhash_sig",
        lambda: _simhash_signatures(rdocs),
    )
    # settled like the naive path's edge set: the closure has >= 3
    # consumers and the band self-join should run once, not per branch
    rep_pairs = ckpt_shared(
        spark, sf_dir, "simhash_rep_pairs",
        lambda: _simhash_banded(rsh).select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ),
    )
    nodes = rep_pairs.select(
        F.explode(F.array("u", "v")).alias("vec_id")
    ).distinct()
    rep_lab = min_label_fixpoint(
        nodes, rep_pairs, edges_bounded=True, nodes_from_edges=True
    ).select(
        F.col("vec_id").alias("rid"), F.col("object_id").alias("label")
    )
    # multi-doc groups whose rep touched no rep pair still cluster
    # (their members pairwise-collide at hamming 0)
    iso = (
        groups.filter(F.col("sz") > 1)
        .join(rep_lab, groups["rid"] == rep_lab["rid"], "left_anti")
        .select(F.col("rid"), F.col("rid").alias("label"))
    )
    members = mem.join(rep_lab.unionByName(iso), "rid").select(
        F.col("doc_id").alias("vec_id"), F.col("label").alias("object_id")
    )
    return _simhash_cluster_summary(members)


@register(
    "llm_dedup_simhash_clusters",
    oracle=_SIMHASH_CLUSTER_ORACLE,
    cacheable=False,
)
def llm_dedup_simhash_clusters(spark, sf_dir):
    """SimHash near-duplicate CLUSTERS (round-8 VERDICT #7): the
    consumable for duplicate-heavy corpora, where the pair report
    goes quadratic in group size (12.9 M rows at the 10x stress dir)
    but the cluster summary stays corpus-bounded. Same transitive-
    closure semantics as llm_dedup_cluster (a doc chained A~B~C
    dedups as ONE group), edges from the banded simhash at hamming
    <= 2; emits (cluster_id = min member doc_id, n_docs, exact
    member fingerprint).

    Routes like llm_dedup_simhash (DUP_COLLAPSE_T): below the
    threshold, components run over the naive doc-level pair plan; at
    or above it, over the REP graph with membership expansion — the
    within-group quadratic blowup is skipped entirely rather than
    materialized-then-summarized. Both paths produce identical rows
    (tests/test_collapse_equivalence.py pins the collapsed builder
    directly)."""
    if corpus_dup_fraction(spark, sf_dir) >= DUP_COLLAPSE_T:
        return _simhash_clusters_collapsed(spark, sf_dir)
    return _simhash_clusters_naive(spark, sf_dir)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dedup via an inverted index — the
# candidate join is on the shingle itself (posting lists), with a
# hot-shingle cap so one ubiquitous shingle can't go quadratic.
# ---------------------------------------------------------------------------

NGRAM_DF_CAP = 100  # drop shingles appearing in more docs than this
NGRAM_T = 0.5

_NGRAM_ORACLE = (
    "WITH sg AS (SELECT doc_id, list_distinct(list_transform("
    "range(1, greatest(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' '))) AS sh "
    "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)), "
    "tok AS (SELECT doc_id, unnest(sh) AS s FROM sg), "
    f"ok AS (SELECT s FROM tok GROUP BY s HAVING count(*) <= {NGRAM_DF_CAP}), "
    "tk AS (SELECT tok.doc_id, tok.s FROM tok JOIN ok USING (s)), "
    "sz AS (SELECT doc_id, count(*) AS c FROM tk GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i "
    "FROM tk a JOIN tk b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT doc_a, doc_b, ROUND(i * 1.0 / (sa.c + sb.c - i), 4) AS jaccard "
    "FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id "
    f"WHERE ROUND(i * 1.0 / (sa.c + sb.c - i), 4) >= {NGRAM_T} "
    "ORDER BY doc_a, doc_b"
)


@register("llm_dedup_ngram", oracle=_NGRAM_ORACLE)
def llm_dedup_ngram(spark, sf_dir):
    """Exact 3-gram-shingle Jaccard pairs at >= 0.5 via an inverted
    index: explode shingles, drop shingles with document frequency >
    NGRAM_DF_CAP (the skew guard — without it one boilerplate shingle
    makes the posting-list self-join quadratic at 100 TB), equi-join
    postings, then Jaccard from intersection + set sizes. Unlike
    MinHash this has no false negatives among surviving shingles, and
    it is fully oracle-checked.

    COLLAPSE-IDENTICAL-FIRST (the embcos_near_pairs discipline):
    identical texts have identical shingle sets, so the posting join
    and Jaccard run over one representative per distinct text with
    document frequency counted at FULL multiplicity (sum of group
    sizes — the skew cap must see the real corpus df, which a
    duplicate-heavy corpus inflates), then survivors expand through
    the group membership; within-group pairs carry the group's
    self-Jaccard (1.0 whenever the doc has any surviving shingle,
    exactly what the naive plan emits). Output is bit-identical —
    tests/test_collapse_equivalence.py pins it against the naive
    plan — and the oracle is untouched.

    Round 8: the multi-consumed frames (groups x3, mem x4, postings
    x3, sizes x3) are ckpt_shared-materialized — the round-7 plan
    audit showed the final executed plan re-reading the documents
    parquet 28x because Catalyst duplicates each shared subtree per
    consumer; now the corpus is scanned twice (groups + mem builds)
    and every downstream branch reads settled RDDs (the groups/mem
    frames are the family-shared text_groups/text_mem)."""
    groups = text_groups(spark, sf_dir)
    mem = text_mem(spark, sf_dir)
    rdocs = groups.select(F.col("rid").alias("doc_id"), F.col("r_text").alias("text"))
    tok = ckpt_shared(
        spark, sf_dir, "ngram_tok",
        lambda: _shingled(rdocs)
        .select("doc_id", F.explode("shingles").alias("s"))
        .join(
            groups.select(F.col("rid").alias("doc_id"), "sz"),
            "doc_id",
        ),
    )
    # anti-join against the (few) over-cap shingles: df at full
    # corpus multiplicity; the broadcast side is the hot set, never
    # the vocabulary
    hot = tok.groupBy("s").agg(F.sum("sz").alias("df")).filter(F.col("df") > NGRAM_DF_CAP)
    tk = ckpt_shared(
        spark, sf_dir, "ngram_tk",
        lambda: tok.join(
            F.broadcast(hot.select("s")), "s", "left_anti"
        ).select("doc_id", "s"),
    )
    sz_sh = ckpt_shared(
        spark, sf_dir, "ngram_sz",
        lambda: tk.groupBy("doc_id").agg(F.count("*").alias("c")),
    )
    a, b = tk.alias("a"), tk.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ga"), F.col("b.doc_id").alias("gb"))
        .agg(F.count("*").alias("i"))
    )
    sa = sz_sh.select(F.col("doc_id").alias("ga"), F.col("c").alias("ca"))
    sb = sz_sh.select(F.col("doc_id").alias("gb"), F.col("c").alias("cb"))
    jac = F.round(F.col("i") / (F.col("ca") + F.col("cb") - F.col("i")), 4)
    rp = (
        inter.join(sa, "ga")
        .join(sb, "gb")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= NGRAM_T)
        .select("ga", "gb", "jaccard")
    )
    # gjac is one row per distinct text with a surviving shingle —
    # group-sized, so shuffle equi-join (no broadcast hint)
    gjac = sz_sh.select(
        F.col("doc_id").alias("g"),
        F.round(F.col("c") / (F.col("c") + F.col("c") - F.col("c")), 4).alias("jaccard"),
    )
    return expand_collapsed(rp, mem, gjac)


CONTAIN_T = 0.8

_CONTAIN_ORACLE = (
    "WITH sg AS (SELECT doc_id, list_distinct(list_transform("
    "range(1, greatest(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' '))) AS sh "
    "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)), "
    "tok AS (SELECT doc_id, unnest(sh) AS s FROM sg), "
    f"ok AS (SELECT s FROM tok GROUP BY s HAVING count(*) <= {NGRAM_DF_CAP}), "
    "tk AS (SELECT tok.doc_id, tok.s FROM tok JOIN ok USING (s)), "
    "sz AS (SELECT doc_id, count(*) AS c FROM tk GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS i "
    "FROM tk a JOIN tk b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "dirs AS ("
    "SELECT u AS doc_a, v AS doc_b, ROUND(i * 1.0 / sa.c, 4) AS containment "
    "FROM inter JOIN sz sa ON u = sa.doc_id "
    "UNION ALL "
    "SELECT v, u, ROUND(i * 1.0 / sb.c, 4) "
    "FROM inter JOIN sz sb ON v = sb.doc_id) "
    f"SELECT doc_a, doc_b, containment FROM dirs WHERE containment >= {CONTAIN_T} "
    "ORDER BY doc_a, doc_b"
)


@register("llm_dedup_containment", oracle=_CONTAIN_ORACLE)
def llm_dedup_containment(spark, sf_dir):
    """DIRECTED shingle containment C(A -> B) = |S(A) ∩ S(B)| / |S(A)|
    at >= 0.8 — the sub-document duplication detector Jaccard cannot
    express: a paragraph pasted into a much longer page has tiny
    Jaccard (union is huge) but containment ~1 from the short side,
    exactly the "quoted boilerplate inside otherwise-novel documents"
    case a pretraining curation pipeline must catch (Broder 1997's
    resemblance vs containment distinction — public).

    Same inverted-index discipline as llm_dedup_ngram: distinct
    3-token shingles, document-frequency cap on hot shingles (the
    posting self-join's skew guard), posting equi-join for the
    intersection, then BOTH directed ratios from one undirected
    intersection row — emitted by a single explode (the
    llm_source_overlap diagonal fold), never a unionAll of two
    projections of the joined frame, which Catalyst would expand
    into two full copies of the whole chain. All shuffles key on
    shingle or doc_id; nothing corpus-sized is broadcast; output is
    only the pairs that clear the threshold.

    Round 8 — COLLAPSE-IDENTICAL-FIRST, unconditionally (the stress
    split attributed 158 s of the sf1 sweep to this op's Spark
    side): df-capping, the posting self-join and both directed
    ratios run over ONE representative per distinct text with
    document frequency at FULL multiplicity (sum of group sizes:
    the skew cap must see the real corpus df), then surviving
    directed rep-pairs expand through the group membership, and
    within-group ordered pairs carry containment 1.0 whenever the
    rep kept any surviving shingle (i = c_a = c_b for identical
    sets — exactly what the naive plan emits). Unlike simhash this
    op does NOT route adaptively: its naive tree multi-consumes the
    posting frames (8 corpus scans — the exact round-7 defect), so
    the checkpointed collapse plan wins on BOTH duplicate-heavy and
    clean corpora (measured 13.8 s vs 158 s at the 10x dir, ~2 s
    overhead at zero-dup fixture scale). Bit-identity vs the naive
    plan pinned in tests/test_collapse_equivalence.py; the oracle
    is naive and untouched."""
    return _containment_collapsed(spark, sf_dir)


def _containment_collapsed(spark, sf_dir):
    groups = text_groups(spark, sf_dir)
    mem = text_mem(spark, sf_dir)
    rdocs = groups.select(
        F.col("rid").alias("doc_id"), F.col("r_text").alias("text")
    )
    tok = ckpt_shared(
        spark, sf_dir, "contain_tok",
        lambda: _shingled(rdocs)
        .select("doc_id", F.explode("shingles").alias("s"))
        .join(groups.select(F.col("rid").alias("doc_id"), "sz"), "doc_id"),
    )
    hot = (
        tok.groupBy("s")
        .agg(F.sum("sz").alias("df"))
        .filter(F.col("df") > NGRAM_DF_CAP)
    )
    tk = ckpt_shared(
        spark, sf_dir, "contain_tk",
        lambda: tok.join(
            F.broadcast(hot.select("s")), "s", "left_anti"
        ).select("doc_id", "s"),
    )
    sz = ckpt_shared(
        spark, sf_dir, "contain_sz",
        lambda: tk.groupBy("doc_id").agg(F.count("*").alias("c")),
    )
    a, b = tk.alias("a"), tk.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
        .agg(F.count("*").alias("i"))
    )
    su = sz.select(F.col("doc_id").alias("u"), F.col("c").alias("cu"))
    sv = sz.select(F.col("doc_id").alias("v"), F.col("c").alias("cv"))
    both = inter.join(su, "u").join(sv, "v")
    # both directed rep-ratios from one explode (diagonal fold),
    # thresholded BEFORE the membership expansion
    rep_dirs = (
        both.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("ga"),
                        F.col("v").alias("gb"),
                        F.round(F.col("i") / F.col("cu"), 4).alias("containment"),
                    ),
                    F.struct(
                        F.col("v").alias("ga"),
                        F.col("u").alias("gb"),
                        F.round(F.col("i") / F.col("cv"), 4).alias("containment"),
                    ),
                )
            ).alias("d")
        )
        .select("d.*")
        .filter(F.col("containment") >= CONTAIN_T)
    )
    ma = mem.select(F.col("doc_id").alias("doc_a"), F.col("rid").alias("ga"))
    mb = mem.select(F.col("doc_id").alias("doc_b"), F.col("rid").alias("gb"))
    cross = rep_dirs.join(ma, "ga").join(mb, "gb").select(
        "doc_a", "doc_b", "containment"
    )
    # within-group ordered pairs: containment 1.0 iff the rep kept
    # any shingle after the df cap (i = c for identical sets); the
    # rep's presence in sz IS that condition
    within = (
        mem.select(F.col("doc_id").alias("doc_a"), F.col("rid").alias("g"))
        .join(mem.select(F.col("doc_id").alias("doc_b"), F.col("rid").alias("g")), "g")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .join(sz.select(F.col("doc_id").alias("g")), "g")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.lit(1.0), 4).cast("double").alias("containment"),
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dedup: semantic duplicates.
# ---------------------------------------------------------------------------

EMBCOS_T = 0.45

from lsd_spark.operators.joins import COS_DUCK, COS_SPARK  # noqa: E402

_EMBCOS_ORACLE = (
    "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    "ROUND(" + COS_DUCK.format(a="a.embedding", b="b.embedding") + ", 6) AS sim "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "WHERE ROUND(" + COS_DUCK.format(a="a.embedding", b="b.embedding") + f", 6) >= {EMBCOS_T} "
    "ORDER BY vec_a, vec_b"
)


EMBCOS_NPROBE = 2


def embcos_near_pairs(spark, sf_dir):
    """(vec_a, vec_b, sim) with sim >= EMBCOS_T — bit-identical to the
    naive bucket join over every vector (the reference plan
    ``_naive_embcos_pairs`` in tests/test_collapse_equivalence.py,
    which embcos_candidate_pairs_sql mirrors in DuckDB), computed
    COLLAPSE-IDENTICAL-FIRST: group
    vectors by an embedding fingerprint, run the IVF bucket join and
    the cosine refine over one REPRESENTATIVE per group, filter at
    the threshold, then expand the surviving pairs back through the
    group membership (plus the within-group cliques, whose sim is
    the engine's own self-cosine of the shared embedding).

    Why: duplicate-heavy corpora (the production norm — and the 10x
    stress fixture, where every vector has 10 exact copies) blow the
    in-bucket pair count up QUADRATICALLY in the duplicate
    multiplicity: 92.7M candidate sims at the stress scale vs 0.9M
    over representatives. Exact-collapse-first is what every real
    semantic-dedup pipeline does before near-dup refinement; here it
    is also exactly result-preserving, because identical embeddings
    get identical rounded centroid assignments and identical rounded
    sims, and the threshold commutes with the expansion. The oracle
    SQL is untouched — the output set is the same.

    Plan: fingerprint groupBy (map-side combined), broadcast rep
    joins, threshold BEFORE expansion (the expansion multiplies only
    surviving pairs), every join an equi-join.

    Round 8: the three internally multi-consumed frames (groups x3,
    mem x4, assign x2) and the returned pair set are
    ckpt_shared-materialized — without this, Catalyst's per-branch
    subtree duplication re-ran the whole chain from the parquet scan
    in every consumer (graph_degree_hist's final plan showed 15
    corpus scans; now the checkpoint build does 3 and every
    consumer — degree_hist, pagerank, triangle, keep_best,
    pipeline_mm, embcos, fof — reads settled RDDs, zero parquet)."""
    return ckpt_shared(
        spark, sf_dir, "embcos_near_pairs",
        lambda: _embcos_near_pairs_build(spark, sf_dir),
    )


def _embcos_near_pairs_build(spark, sf_dir):
    """The lazy plan ckpt_shared materializes for embcos_near_pairs
    (kept separate so tests can pin ITS parquet-scan count — the
    true build cost — independently of the 0-scan consumer view)."""
    from lsd_spark.llm.simsearch import N_CENTROIDS, ivf_assignments

    emb = load(spark, sf_dir, "embeddings")
    fp = F.md5(F.col("embedding").cast("string"))
    tagged = emb.select("vec_id", "embedding", fp.alias("fp"))
    groups = ckpt_shared(
        spark, sf_dir, "embcos_groups",
        lambda: tagged.groupBy("fp").agg(
            F.min("vec_id").alias("rvid"), F.first("embedding").alias("r_emb")
        ),
    )
    reps = groups.select(F.col("rvid").alias("vec_id"), F.col("r_emb").alias("embedding"))
    # membership map is corpus-sized (one row per vector) — plain
    # shuffle equi-join, never a broadcast
    mem = ckpt_shared(
        spark, sf_dir, "embcos_mem",
        lambda: tagged.join(groups.select("fp", "rvid"), "fp").select(
            "vec_id", "rvid"
        ),
    )

    # Centroids MUST come from the full table, not the collapsed
    # representatives: if two of the first N_CENTROIDS vectors share
    # an embedding, the collapse drops the higher id and the rep-set
    # centroids (hence candidate pairs) diverge from the naive plan
    # and the oracle. Full-table centroids restore unconditional
    # bit-identity with the naive bucket join.
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    assign = ckpt_shared(
        spark, sf_dir, "embcos_assign",
        lambda: ivf_assignments(
            reps, EMBCOS_NPROBE, centroids=cent
        ).drop("embedding"),
    )
    rp_ids = band_pairs(assign, ["centroid_id"], ("ga", "gb"), id_col="vec_id")
    # reps is one row per DISTINCT payload — corpus-sized on a
    # low-duplication corpus, so these are shuffle equi-joins too.
    # Norms are computed ONCE per representative here and joined
    # through: the refine then runs ONE interpreted HOF aggregate per
    # candidate pair (the dot) instead of three — bit-identical to
    # COS_SPARK (same subexpressions, same dot/(na*nb) association),
    # measured ~3x on the 1M-pair sf0.1 refine.
    from lsd_spark.operators.joins import DOT_SPARK, NORM_SPARK

    norm = F.expr(NORM_SPARK.format(a="embedding"))
    ra = reps.select(
        F.col("vec_id").alias("ga"), F.col("embedding").alias("e_a"),
        norm.alias("n_a"),
    )
    rb = reps.select(
        F.col("vec_id").alias("gb"), F.col("embedding").alias("e_b"),
        norm.alias("n_b"),
    )
    sim = F.round(
        F.expr(DOT_SPARK.format(a="e_a", b="e_b"))
        / (F.col("n_a") * F.col("n_b")),
        6,
    )
    rp = (
        rp_ids.join(ra, "ga")
        .join(rb, "gb")
        .select("ga", "gb", sim.alias("sim"))
        .filter(F.col("sim") >= EMBCOS_T)
    )
    selfsim = F.round(F.expr(COS_SPARK.format(a="r_emb", b="r_emb")), 6)
    # thresholded too: a zero-norm embedding's self-cosine is NULL
    # under Spark's non-ANSI divide, which the naive plan's filter
    # drops — without this the rewrite would keep that group's pairs
    # and break bit-identity on the degenerate edge. A no-op for
    # normal vectors (self-sim rounds to 1.0).
    gsim = groups.select(F.col("rvid").alias("g"), selfsim.alias("sim")).filter(
        F.col("sim") >= EMBCOS_T
    )
    return expand_collapsed(rp, mem, gsim, pair=("vec_a", "vec_b"))


def embcos_candidate_pairs_sql() -> str:
    """DuckDB IVF bucket join over every vector (no sim filter): the
    candidate pairs embcos_near_pairs reproduces from its
    representatives."""
    from lsd_spark.llm.simsearch import ivf_assign_sql

    cos = "ROUND(" + COS_DUCK.format(a="a.embedding", b="b.embedding") + ", 6)"
    return (
        f"SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS sim "
        f"FROM ({ivf_assign_sql(EMBCOS_NPROBE)}) a "
        f"JOIN ({ivf_assign_sql(EMBCOS_NPROBE)}) b "
        "ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id"
    )


@register(
    "llm_dedup_embcos",
    oracle=(
        f"SELECT vec_a, vec_b, sim FROM ({embcos_candidate_pairs_sql()}) "
        f"WHERE sim >= {EMBCOS_T} ORDER BY vec_a, vec_b"
    ),
)
def llm_dedup_embcos(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (sim >= 0.45), the
    semantic-dedup primitive — IVF-BUCKETED candidate generation
    (this is the form that survives 100 TB; the all-pairs exact
    variant below is the recall baseline). The oracle mirrors the
    deterministic bucket assignment, so this stays fully
    hash-checkable rather than rows-only: the op's contract IS
    'dedup over IVF candidates', not 'pretend-exact'. Physical path:
    embcos_near_pairs' collapse-identical-first plan (bit-identical
    output, quadratic-in-duplicates candidate blowup avoided)."""
    return embcos_near_pairs(spark, sf_dir)


@register("llm_dedup_embcos_exact", oracle=_EMBCOS_ORACLE)
def llm_dedup_embcos_exact(spark, sf_dir):
    """The exact all-pairs baseline (O(n^2) compare count — fixture
    scale only): what llm_dedup_embcos's recall is measured against
    (tests/test_invariants.py). Never the production path.

    The streamed side of the BroadcastNestedLoopJoin is explicitly
    repartitioned: the fixture parquet is one input split, so without
    it every pairwise cosine folds on ONE task (182.9 s at sf0.1);
    spreading the stream across the cluster's cores is embarrassingly
    parallel (per-row results bit-identical).
    Norms are also precomputed once per row and joined through — one
    interpreted HOF fold (the dot) per pair instead of three, the
    same bit-identical dot/(na*nb) association the bucketed refine
    uses (~3x on top of the ~cores x)."""
    from lsd_spark.operators.joins import DOT_SPARK, NORM_SPARK

    emb = load(spark, sf_dir, "embeddings")
    norm = F.expr(NORM_SPARK.format(a="embedding"))
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"),
        norm.alias("n_a"),
    )
    b = spread(emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"),
        norm.alias("n_b"),
    ))
    sim = F.round(
        F.expr(DOT_SPARK.format(a="e_a", b="e_b"))
        / (F.col("n_a") * F.col("n_b")),
        6,
    )
    return (
        F.broadcast(a)
        .join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= EMBCOS_T)
    )


@register(
    "llm_fingerprint",
    oracle=(
        "SELECT doc_id, md5(lower(text)) AS fp, "
        "substring(md5(lower(text)), 1, 8) AS fp8 FROM documents"
    ),
)
def llm_fingerprint(spark, sf_dir):
    """Document fingerprinting: canonical content hash (md5 of
    normalized text) — the join key for cross-corpus dedup."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.col("text")).cast("binary"))
    return docs.select("doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp8"))


@register(
    "llm_dedup_keep_first",
    oracle=(
        "WITH k AS (SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n "
        "FROM documents GROUP BY fp) "
        "SELECT d.doc_id, k.n AS group_size FROM documents d "
        "JOIN k ON md5(d.text) = k.fp AND d.doc_id = k.keeper "
        "ORDER BY d.doc_id"
    ),
)
def llm_dedup_keep_first(spark, sf_dir):
    """Representative selection — the other half of dedup: keep ONE
    doc per exact-duplicate group (min doc_id policy). Shape at
    100 TB: agg on the 16-byte fingerprint (map-side combined), then
    an equi-join back on (fp, doc_id) — never a window over the full
    corpus sorted by text."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    keepers = (
        docs.select(fp.alias("k_fp"), "doc_id")
        .groupBy("k_fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("group_size"))
    )
    return (
        docs.select("doc_id", fp.alias("fp"))
        .join(keepers, (F.col("fp") == F.col("k_fp")) & (F.col("doc_id") == F.col("keeper")))
        .select("doc_id", "group_size")
    )


@register(
    "llm_sample_hash",
    oracle=(
        "SELECT lang, count(*) AS cnt FROM documents "
        "WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 10 = 0 "
        "GROUP BY lang ORDER BY lang"
    ),
)
def llm_sample_hash(spark, sf_dir):
    """Deterministic 10% sample via the portable content hash — the
    reproducible-subsampling primitive for training-data pipelines:
    the same doc_id is always in or out, on any engine, any run, any
    partitioning (rand()-based sampling guarantees none of that).
    Scale: a map-only filter, pushdown-friendly, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    h = F.expr(HASH60_SPARK.format(t="CAST(doc_id AS STRING)"))
    return (
        docs.filter(h % 10 == 0)
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
    )


EDIT_BLOCK_CHARS = 50
EDIT_REL_T = 0.2  # max edit distance as a fraction of the longer text


@register(
    "llm_dedup_edit",
    oracle=(
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist "
        "FROM documents a JOIN documents b "
        f"ON md5(substring(a.text, 1, {EDIT_BLOCK_CHARS})) = "
        f"md5(substring(b.text, 1, {EDIT_BLOCK_CHARS})) "
        "AND a.doc_id < b.doc_id "
        f"WHERE levenshtein(a.text, b.text) <= {EDIT_REL_T} * "
        "greatest(length(a.text), length(b.text)) "
        "ORDER BY doc_a, doc_b"
    ),
)
def llm_dedup_edit(spark, sf_dir):
    """Edit-distance near-dedup with prefix blocking: candidates =
    pairs sharing the md5 of their first EDIT_BLOCK_CHARS chars (an
    equi-join — levenshtein is O(len^2) per pair, so it only ever
    runs on block-bounded candidates, never all pairs), refined with
    levenshtein <= 20% of the longer text. Catches exact dups
    (dist 0) and suffix-edited variants; combine with llm_dedup_ngram
    for mid-string edits.

    COLLAPSE-IDENTICAL-FIRST (the embcos_near_pairs discipline):
    duplicate-heavy corpora multiply in-block pair counts
    quadratically in the duplicate multiplicity, and each pair here
    costs an O(len^2) levenshtein — the 10x stress fixture ground a
    single task for 25+ minutes. Identical texts share block, length
    and (zero) distance, so the op runs the join + refine over one
    representative per distinct text, then expands survivors through
    the group membership (within-group pairs at dist 0). Output is
    bit-identical; the oracle is untouched.

    Round 8: groups (x3 consumers) and mem (x4) are ckpt_shared-
    materialized — the plan audit showed 10 documents scans in the
    final plan from Catalyst's per-branch subtree duplication; now
    the corpus is scanned twice (the two builds) and every branch
    reads settled RDDs (the family-shared text_groups/text_mem; the
    sz column rides along unused here)."""
    groups = text_groups(spark, sf_dir)
    mem = text_mem(spark, sf_dir)
    blk = F.md5(F.substring("r_text", 1, EDIT_BLOCK_CHARS).cast("binary"))
    d = groups.select(F.col("rid").alias("doc_id"), F.col("r_text").alias("text"), blk.alias("blk"))
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    rp = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("ga"),
            F.col("b.doc_id").alias("gb"),
            dist.cast("bigint").alias("dist"),
            (F.greatest(F.length("a.text"), F.length("b.text"))).alias("mx"),
        )
        .filter(F.col("dist") <= EDIT_REL_T * F.col("mx"))
        .select("ga", "gb", "dist")
    )
    return expand_collapsed(rp, mem, {"dist": F.lit(0).cast("bigint")})


WINNOW_K = 4  # k-gram (words) per hash
WINNOW_W = 5  # winnowing window (hashes)


@register(
    "llm_winnowing",
    oracle=(
        "WITH grams AS ("
        "SELECT doc_id, i AS pos, "
        "('0x' || substring(md5(array_to_string(w[i:i+" + str(WINNOW_K - 1) + "], ' ')), 1, 15))::BIGINT AS h "
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents "
        f"WHERE len(string_split(text, ' ')) >= {WINNOW_K}), "
        f"LATERAL (SELECT unnest(generate_series(1, len(w) - {WINNOW_K - 1})) AS i)), "
        "frames AS (SELECT doc_id, pos, "
        f"list(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS arr "
        "FROM grams) "
        "SELECT DISTINCT doc_id, list_min(arr) AS fp, "
        f"pos + {WINNOW_W} - list_position(list_reverse(arr), list_min(arr)) AS fpos "
        f"FROM frames WHERE len(arr) = {WINNOW_W} ORDER BY doc_id, fpos"
    ),
)
def llm_winnowing(spark, sf_dir):
    """Robust winnowing fingerprints (the MOSS algorithm): hash every
    K-word gram, slide a W-hash window, select each window's minimum
    hash at its RIGHTMOST position — the guarantee is that any shared
    run of at least K+W-1 words yields at least one shared selected
    fingerprint (tests/test_pipeline_properties.py pins it), with
    fingerprint density ~2/(W+1).

    Each window's selection is read off its collected frame array
    (min + rightmost position) — per-row state is the W-element
    frame, pure JVM array functions, one window pass, no shuffle
    beyond the doc partition."""
    docs = load(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= WINNOW_K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(w) - {WINNOW_K - 1}), "
                    f"i -> concat_ws(' ', slice(w, i, {WINNOW_K})))"
                )
            ).alias("p0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            F.expr(HASH60_SPARK.format(t="gram")).alias("h"),
        )
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    frames = grams.select(
        "doc_id", "pos", F.collect_list("h").over(wf).alias("arr")
    ).filter(F.size("arr") == WINNOW_W)
    m = F.array_min("arr")
    fpos = (
        F.col("pos")
        + WINNOW_W
        - F.array_position(F.reverse(F.col("arr")), m).cast("int")
    )
    return (
        frames.select("doc_id", m.alias("fp"), fpos.alias("fpos"))
        .distinct()
    )


# --- exact-substring dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — public): find document pairs
# sharing an exact run of >= SUBSTR_K consecutive tokens. The paper
# builds a corpus-wide suffix array; the Spark-native equivalent is a
# K-gram posting join — every K-token window hashed, postings
# equi-joined, so a shared run of L tokens surfaces as L-K+1 colliding
# grams. Same zones discipline as the other dedup ops: candidates come
# from an equi-join on the gram fingerprint, never an all-pairs scan,
# and a document-frequency cap bounds the hottest posting list (a
# boilerplate gram shared by the whole corpus would otherwise create a
# quadratic bucket — the exact skew the 100 TB path must refuse).

SUBSTR_K = 8  # tokens per window (the paper uses 50 BPE tokens; 8
#   whitespace tokens at the fixture's ~60-token docs keeps the same
#   run-detection semantics at test scale)
SUBSTR_DF_CAP = 50  # max docs a gram may appear in before it's dropped


@register(
    "llm_dedup_substring",
    oracle=(
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
        "grams AS (SELECT DISTINCT doc_id, "
        f"md5(array_to_string(list_slice(t, i, i+{SUBSTR_K - 1}), ' ')) AS fp "
        f"FROM toks, LATERAL (SELECT unnest(range(1, len(t)-{SUBSTR_K - 2})) AS i) r "
        f"WHERE len(t) >= {SUBSTR_K}), "
        f"ok AS (SELECT fp FROM grams GROUP BY fp HAVING count(*) <= {SUBSTR_DF_CAP}), "
        "g2 AS (SELECT g.doc_id, g.fp FROM grams g JOIN ok USING (fp)), "
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "count(*) AS n FROM g2 a JOIN g2 b ON a.fp = b.fp "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, CAST(n AS BIGINT) AS n_shared_grams "
        "FROM pairs ORDER BY doc_a, doc_b"
    ),
)
def llm_dedup_substring(spark, sf_dir):
    """Exact-substring duplicate pairs: documents sharing >= 1 exact
    SUBSTR_K-token run, scored by the number of distinct shared
    K-grams (a shared run of L tokens contributes L-K+1). Plan:
    tokenize -> K-gram windows (JVM transform/slice, no Python) ->
    md5 fingerprint -> distinct postings -> df-cap anti-join (skew
    guard, mirrored in the oracle) -> posting self-equi-join ->
    count per pair. At 100 TB the posting join shuffles only gram
    collisions (~duplicated bytes), not the corpus; the df cap turns
    the one pathological boilerplate gram from O(n^2) pairs into a
    dropped key, exactly the NGRAM_DF_CAP discipline above."""
    docs = load(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    idx = F.sequence(F.lit(1), F.size(tok) - (SUBSTR_K - 1))
    grams = (
        docs.filter(F.size(tok) >= SUBSTR_K)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        idx,
                        lambda i: F.md5(
                            F.concat_ws(" ", F.slice(tok, i, SUBSTR_K)).cast("binary")
                        ),
                    )
                )
            ).alias("fp"),
        )
    )
    hot = (
        grams.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > SUBSTR_DF_CAP)
        .select("fp")
    )
    g2 = grams.join(hot, "fp", "left_anti")
    a = g2.select(F.col("doc_id").alias("doc_a"), "fp")
    b = g2.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, (a.fp == b.fp) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_grams"))
    )


# --- incremental dedup: the production shape. A live pipeline never
# re-deduplicates the corpus against itself; it dedupes the NEW BATCH
# against (a) the corpus fingerprint index and (b) itself, keep-first.
# Batch membership is a deterministic doc_id slice so both engines
# agree without a date column.

INCR_BATCH_MOD = 5  # doc_id % 5 == 0 -> the incoming 20% batch


@register(
    "llm_dedup_incremental",
    oracle=(
        "WITH fp AS (SELECT doc_id, md5(array_to_string("
        "list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp, "
        f"doc_id % {INCR_BATCH_MOD} = 0 AS is_new FROM documents), "
        "idx AS (SELECT DISTINCT fp FROM fp WHERE NOT is_new), "
        "batch AS (SELECT f.doc_id, f.fp, i.fp IS NOT NULL AS in_corpus, "
        "ROW_NUMBER() OVER (PARTITION BY f.fp ORDER BY f.doc_id) AS rn "
        "FROM fp f LEFT JOIN idx i ON f.fp = i.fp WHERE f.is_new) "
        "SELECT doc_id, CASE WHEN in_corpus THEN 'dup_corpus' "
        "WHEN rn > 1 THEN 'dup_batch' ELSE 'fresh' END AS status "
        "FROM batch ORDER BY doc_id"
    ),
)
def llm_dedup_incremental(spark, sf_dir):
    """Incremental exact dedup of an incoming batch: each new doc is
    'dup_corpus' (fingerprint already in the corpus index),
    'dup_batch' (a smaller-id batch twin exists, keep-first), or
    'fresh'. The fingerprint is the sorted distinct token set (bag
    normalization — catches reorder-only rewrites the byte hash
    misses, the standard exact-dedup canonicalization). Plan: corpus
    side reduces to a DISTINCT fingerprint
    index (built once, reused across batches in production); the
    batch left-joins the index and runs one keep-first window keyed
    by fingerprint. Work scales with |batch| + |index|, never
    |corpus|² — re-running yesterday's dedup is exactly the
    anti-pattern this op replaces. dup_corpus deliberately wins over
    dup_batch: two batch twins of an indexed doc are BOTH corpus
    dups (neither survives), so keep-first rank only adjudicates
    fingerprints the corpus has never seen."""
    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split("text", " ")))
            ).cast("binary")
        ).alias("fp"),
        (F.col("doc_id") % INCR_BATCH_MOD == 0).alias("is_new"),
    )
    idx = fp.filter(~F.col("is_new")).select("fp").distinct()
    idx = idx.withColumn("in_corpus", F.lit(True))
    w = Window.partitionBy("fp").orderBy("doc_id")
    batch = (
        fp.filter("is_new")
        .join(idx, "fp", "left")
        .withColumn("rn", F.row_number().over(w))
    )
    status = (
        F.when(F.col("in_corpus"), F.lit("dup_corpus"))
        .when(F.col("rn") > 1, F.lit("dup_batch"))
        .otherwise(F.lit("fresh"))
    )
    return batch.select("doc_id", status.alias("status"))


# ---------------------------------------------------------------------------
# MinHash/LSH with a PORTABLE hash — fully oracle-checked.
#
# llm_dedup_near (above) is rows-only because xxhash64 has no DuckDB
# twin. This variant derives each minhash from md5 hex (the same
# HASH60 trick as simhash: Spark conv(hex,16,10) == DuckDB
# '0x'||hex cast), so the signatures, the band keys, and therefore
# the LSH candidate set are bit-exact across engines — the full
# MinHash pipeline (shingle -> H minhashes -> band equi-join ->
# exact-Jaccard refine) gets a hash-matched differential oracle.
# ---------------------------------------------------------------------------

MINHASH_H = 12
MINHASH_BANDS = 4
MINHASH_R = MINHASH_H // MINHASH_BANDS


def _mh_spark(seed: int) -> str:
    return (
        "array_min(transform(shingles, s -> "
        f"CAST(conv(substr(md5(concat(s, '|{seed}')),1,15),16,10) AS BIGINT)))"
    )


def _mh_duck(seed: int) -> str:
    return (
        "list_min(list_transform(sh, s -> "
        f"('0x' || substring(md5(s || '|{seed}'),1,15))::BIGINT))"
    )


def _mh_band_duck(b: int) -> str:
    cols = ", ".join(f"mh[{b * MINHASH_R + r + 1}]" for r in range(MINHASH_R))
    return f"md5(concat_ws(',', {cols}))"


# the shared CTE bodies (everything up to the threshold filter) —
# reused by llm_dedup_cluster's transitive-closure oracle
_MINHASH_CTES = (
    "sg AS (SELECT doc_id, list_distinct(list_transform("
    "range(1, greatest(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' '))) AS sh "
    "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)), "
    "sig AS (SELECT doc_id, sh, ["
    + ", ".join(_mh_duck(s) for s in range(MINHASH_H))
    + "] AS mh FROM sg), "
    "bands AS (SELECT doc_id, sh, mh, j, CASE j "
    + " ".join(f"WHEN {b} THEN {_mh_band_duck(b)}" for b in range(MINHASH_BANDS))
    + " END AS bk FROM sig CROSS JOIN (SELECT unnest(["
    + ", ".join(str(b) for b in range(MINHASH_BANDS))
    + "]) AS j)), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "a.sh AS sh_a, b.sh AS sh_b, a.mh AS mh_a, b.mh AS mh_b "
    "FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id), "
    "scored AS (SELECT doc_a, doc_b, "
    "ROUND(len(list_intersect(sh_a, sh_b)) * 1.0 / "
    "len(list_distinct(list_concat(sh_a, sh_b))), 4) AS jaccard, "
    "ROUND(len(list_filter(range(1, "
    f"{MINHASH_H} + 1), i -> mh_a[i] = mh_b[i])) * 1.0 / {MINHASH_H}, 4) AS mh_est "
    "FROM cand)"
)

_MINHASH_MD5_ORACLE = (
    "WITH " + _MINHASH_CTES + " "
    f"SELECT doc_a, doc_b, jaccard, mh_est FROM scored WHERE jaccard >= {JACCARD_T} "
    "ORDER BY doc_a, doc_b"
)


def _minhash_hits(spark, sf_dir):
    """Shared MinHash/LSH pipeline: shingle → H portable minhashes →
    band equi-join → exact-Jaccard refine → the thresholded
    (doc_a, doc_b, jaccard, mh_est) hit set. Used by
    llm_dedup_minhash_md5 (pair report) and llm_dedup_cluster
    (transitive-closure grouping).

    Round 8 restructure (round-7 VERDICT #4 profiling: the chain
    alone measured ~9 s warm at sf0.1 and llm_dedup_cluster ~20 s,
    because the fixpoint's nodes/edges branches re-ran it):
    - the signature frame (doc_id, shingles, mh) is ckpt_shared-
      materialized: the H x |shingles| md5 evaluations — the
      dominant cost — run exactly once per session;
    - the band self-join carries ONLY (doc_id, band, bk): the old
      plan shuffled both shingle arrays and both signatures through
      the candidate join, ~50x the bytes of the id-pair stream;
      surviving candidate ids join back to the settled signature
      frame for the refine (same pairs, same scores — the refine
      inputs are per-doc, not per-collision);
    - the thresholded hit set is itself checkpointed, so both
      consumers (and the fixpoint's nodes/edges branches) read a
      settled frame.
    100 TB: the band join is the zones technique (linear in
    collision count); the slim shuffle is what makes it affordable
    when shingle arrays average kilobytes.

    Round-8 addendum — ADAPTIVE COLLAPSE ROUTING (see
    DUP_COLLAPSE_T): identical texts have identical shingle sets,
    signatures and band keys, so past the duplicate threshold the
    signature pass, band join, and refine run over one
    representative per distinct text and the surviving rep hits
    expand through the membership map (within-group pairs carry
    jaccard = mh_est = 1.0, exactly what the naive plan computes
    for identical docs — they collide in every band). Both paths
    bit-identity-pinned in tests/test_collapse_equivalence.py."""
    if corpus_dup_fraction(spark, sf_dir) < DUP_COLLAPSE_T:
        return ckpt_shared(
            spark, sf_dir, "minhash_hits",
            lambda: _minhash_scored_over(
                spark, sf_dir,
                load(spark, sf_dir, "documents"), "minhash_sig",
            ),
        )
    return ckpt_shared(
        spark, sf_dir, "minhash_hits_collapsed",
        lambda: _minhash_hits_collapsed(spark, sf_dir),
    )


def _minhash_scored_over(spark, sf_dir, docs, sig_tag):
    """The MinHash chain over an arbitrary (doc_id, text) frame:
    checkpointed signatures, slim id-only band self-join, arrays
    joined back from the settled signature frame for the exact-
    Jaccard refine; returns the thresholded
    (doc_a, doc_b, jaccard, mh_est) hit set, lazy.

    The signature projection is the heaviest compute of the whole
    dedup surface (H x |shingle instances| md5+conv evaluations, 3.1M
    at sf0.1), so its input is spread over the cores first."""
    docs = spread(docs)
    sig = ckpt_shared(
        spark, sf_dir, sig_tag,
        lambda: _shingled(docs).selectExpr(
            "doc_id",
            "shingles",
            "array("
            + ", ".join(_mh_spark(s) for s in range(MINHASH_H))
            + ") AS mh",
        ),
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            "md5(concat_ws(',', "
                            + ", ".join(
                                f"element_at(mh, {b * MINHASH_R + r + 1})"
                                for r in range(MINHASH_R)
                            )
                            + "))"
                        ).alias("bk"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "x.band", "x.bk")
    cand = band_pairs(bands, ["band", "bk"], ("doc_a", "doc_b"))
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("mh").alias("mh_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("mh").alias("mh_b"),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    est = F.expr(
        f"size(filter(sequence(1, {MINHASH_H}), "
        f"i -> element_at(mh_a, i) = element_at(mh_b, i))) / {MINHASH_H}"
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac.cast("double"), 4))
        .withColumn("mh_est", F.round(est.cast("double"), 4))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard", "mh_est")
    )


def _minhash_hits_collapsed(spark, sf_dir):
    """Collapse-identical-first MinHash hits: the chain runs over
    one representative per distinct text; rep hits expand through
    the membership map; within-group ordered pairs emit
    jaccard = mh_est = 1.0 (identical shingle sets and signatures —
    the naive plan's own values for duplicate docs)."""
    groups = text_groups(spark, sf_dir)
    mem = text_mem(spark, sf_dir)
    rdocs = groups.select(
        F.col("rid").alias("doc_id"), F.col("r_text").alias("text")
    )
    rep_hits = _minhash_scored_over(spark, sf_dir, rdocs, "minhash_rsig")
    one = F.round(F.lit(1.0), 4).cast("double")
    return expand_collapsed(rep_hits, mem, {"jaccard": one, "mh_est": one})


@register("llm_dedup_minhash_md5", oracle=_MINHASH_MD5_ORACLE)
def llm_dedup_minhash_md5(spark, sf_dir):
    """MinHash/LSH near-duplicate pairs with a PORTABLE hash: H=12
    minhashes over 3-token shingles, each min(hash60(md5(shingle ||
    '|seed'))), banded 4x3; candidates are the band-key equi-join
    (the zones technique: linear in collision count, never
    all-pairs), refined by exact Jaccard >= 0.6 and annotated with
    the signature-agreement estimate mh_est (the quantity real
    MinHash pipelines threshold on before the exact refine). At
    100 TB the signature pass is map-only higher-order functions in
    codegen; the only shuffles are the band join and the final
    dedup. Unlike llm_dedup_near (xxhash64, rows-only by design),
    every stage here is bit-exact against the DuckDB oracle."""
    return _minhash_hits(spark, sf_dir)


_CLUSTER_ORACLE = (
    "WITH RECURSIVE " + _MINHASH_CTES + ", "
    f"pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= {JACCARD_T}), "
    "e AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
    "UNION ALL SELECT doc_b, doc_a FROM pairs), "
    "reach(src, node) AS ("
    "SELECT u, u FROM e UNION SELECT r.src, e.v FROM reach r JOIN e ON r.node = e.u), "
    "lab AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src) "
    "SELECT CAST(cluster_id AS BIGINT) AS cluster_id, count(*) AS n_docs, "
    "md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS member_fp "
    "FROM lab GROUP BY cluster_id ORDER BY cluster_id"
)


@register("llm_dedup_cluster", oracle=_CLUSTER_ORACLE, cacheable=False)
def llm_dedup_cluster(spark, sf_dir):
    """Near-duplicate CLUSTERS — the production dedup shape: pairwise
    MinHash hits only give edges, so real pipelines take the
    transitive closure (a doc chained A~B~C must dedup as ONE group
    even when A~C misses the threshold) and keep one exemplar per
    component. Plan: the shared MinHash/LSH candidate pipeline →
    jaccard-thresholded edges → min-label connected components (the
    same contraction-seeded fixpoint FoF uses — dedup IS
    friends-of-friends in text space) → per-cluster count + an
    exact-membership fingerprint (md5 of the sorted member list, so
    the oracle verifies the component STRUCTURE, not just sizes).
    Isolated docs are skipped on both sides: output is only the
    multi-doc clusters — the keep-first winner is cluster_id (min
    doc_id) and everything else in the group drops."""
    from lsd_spark.plans.cluster import min_label_fixpoint

    pairs = _minhash_hits(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # nodes = only docs that appear in some pair (isolated docs are
    # their own cluster and are excluded from the report anyway);
    # one explode, not a unionAll of two projections — Catalyst
    # duplicates the whole MinHash chain per consumer otherwise
    nodes = pairs.select(
        F.explode(F.array("u", "v")).alias("vec_id")
    ).distinct()
    # the hit set is ckpt_shared-settled and dedup graphs are edge-
    # sparse: try the one-collect driver solve first (round 13);
    # nodes IS pairs' endpoint set, so the driver solve labels from
    # its own collect without re-scanning the hit frame (round 14)
    labels = min_label_fixpoint(
        nodes, pairs, edges_bounded=True, nodes_from_edges=True
    )
    return (
        labels.groupBy(F.col("object_id").cast("long").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("vec_id")),
                        lambda x: x.cast("string"),
                    ),
                ).cast("binary")
            ).alias("member_fp"),
        )
    )


# ---------------------------------------------------------------------------
# URL-canonicalization dedup — the standard web-corpus pass that
# collapses crawl records pointing at the same resource. The
# synthetic corpus has no URL column, so (the llm_pii_redact
# technique) a deterministic crawl URL is derived per doc_id with
# the noise real crawls carry — mixed-case scheme/host, default
# ports, tracking params, fragments, trailing slashes — and
# canonicalization runs for real on the result.
# ---------------------------------------------------------------------------

_URL_DUCK = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://' || "
    "CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || "
    "'/site' || CAST(doc_id % 7 AS VARCHAR) || '/page' || CAST(doc_id % 20 AS VARCHAR) || "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END || "
    "CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END"
)

@register(
    "llm_dedup_url",
    oracle=(
        "WITH raw AS (SELECT doc_id, " + _URL_DUCK + " AS u FROM documents), "
        "canon AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace("
        "lower(u), ':443/', '/'), '#.*$', ''), '([?&]utm_[^&#]*)+$', '') AS c1 "
        "FROM raw), "
        "fin AS (SELECT doc_id, regexp_replace(regexp_replace(c1, '\\?$', ''), "
        "'/$', '') AS cu FROM canon) "
        "SELECT cu AS canonical_url, count(*) AS n_docs, "
        "CAST(min(doc_id) AS BIGINT) AS keep_id "
        "FROM fin GROUP BY cu HAVING count(*) > 1 ORDER BY cu"
    ),
)
def llm_dedup_url(spark, sf_dir):
    """URL-canonicalization dedup: normalize crawl URLs (lowercase,
    strip default port / fragment / utm_* tracking params / trailing
    slash) and report each canonical URL claimed by >1 record with
    its keep-first winner. Pure map + one 16-byte-key groupBy — at
    100 TB this is the cheapest dedup pass in the pipeline and runs
    before any content hashing. The synthetic URL derivation (doc_id
    arithmetic) mirrors the oracle exactly; the regexes stay in the
    Java-regex / RE2 common subset."""
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    u = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.Example.COM")).otherwise(F.lit("www.example.com")),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/site"),
        (did % 7).cast("string"),
        F.lit("/page"),
        (did % 20).cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("?utm_source=feed&utm_campaign=x")).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    cu = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower(u), ":443/", "/"),
                    "#.*$",
                    "",
                ),
                r"([?&]utm_[^&#]*)+$",
                "",
            ),
            r"\?$",
            "",
        ),
        "/$",
        "",
    )
    return (
        docs.select(cu.alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").cast("long").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )
