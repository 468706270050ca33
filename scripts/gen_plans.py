"""Regenerate PLANS.md: annotated physical plans for the headline
bench queries. Run from the repo root: python scripts/gen_plans.py"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

COMMENTARY = {
    "agg_groupby_hash": (
        "q_scan_filter_agg (TPC-H Q1)",
        "Filter pushed to the parquet scan (PushedFilters), 6 of 16 columns read "
        "(ReadSchema), partial+final HashAggregate (map-side combine), whole plan "
        "in one codegen span until the 4-group exchange.",
    ),
    "join_multiway": (
        "q_join3 (TPC-H Q5-style 5-way)",
        "The selective dim chain region('ASIA')->nation->customer is built first and "
        "broadcast; orders joins lineitem on the natural key ONCE (the only "
        "shuffle-requiring join); final agg over 25 nations is map-side combined. "
        "At 100 TB the same shape holds, or the fact-fact shuffle disappears "
        "entirely with bucketed layout (see sink_bucketed).",
    ),
    "win_row_number": (
        "q_window (top-2 per customer)",
        "Single hash partition by customer + in-partition sort; rank filter applied "
        "before any further projection. No global sort.",
    ),
    "topk_agg": (
        "q_topk",
        "Partial agg -> exchange on the group key -> final agg -> "
        "TakeOrderedAndProject: the driver receives only k rows, never the sorted set.",
    ),
    "stream_tumbling": (
        "q_events_tumbling",
        "Epoch-aligned window grouping is a plain hash agg on (window, type): "
        "partial+final, no session state needed for tumbling windows in batch replay.",
    ),
    "llm_simsearch_knn": (
        "q_knn_brute",
        "JOIN-FREE: the 5 query vectors are inlined as literal structs exploded "
        "per corpus row (single scan, no broadcast build job); cosine is a JVM "
        "higher-order fold with the corpus norm hoisted to one column and query "
        "norms precomputed as literals (6 folds/row, was 15); per-query rank via "
        "WindowGroupLimit partial top-k before the only exchange.",
    ),
    "limit_offset": (
        "keyset pagination",
        "Boundary key = 1-row TakeOrdered plan, broadcast into the page filter; "
        "page = TakeOrderedAndProject after a pushdown-friendly range predicate. "
        "No single-partition window over the table.",
    ),
    "llm_dedup_embcos": (
        "bucketed semantic dedup",
        "Candidate pairs meet in an equi-join on centroid_id (IVF zones); the only "
        "nested-loop is corpus x 8 broadcast centroids (linear). Refine + rank on "
        "the bucket-bounded candidate set. The dumped tree below is tiny because "
        "the heavy chain (assignment join, norm-precomputed refine, membership "
        "expansion) runs ONCE into a ckpt_shared DISK_ONLY checkpoint at plan "
        "build — Scan ExistingRDD is that settled pair set; the chain's own shape "
        "is ratcheted per stage in PLAN_RATCHET.json and described in "
        "lsd_spark/llm/dedup.py::embcos_near_pairs.",
    ),
    "join_xmatch_2d": (
        "2-D spatial cross-match",
        "3x3 neighbor-cell probe explode on the query side, stationary data side, "
        "hash equi-join on (cell_x, cell_y), exact-distance residual filter, "
        "window rank nmax=1. The BHpix cell-local join contract.",
    ),
    "llm_pipeline_e2e": (
        "q_dedup_e2e (curation pipeline)",
        "Quality filter fused into the scan; keep-first dedup is ONE corpus "
        "exchange (row_number window over the text fingerprint — round 6 replaced "
        "the agg+join formulation, which moved the corpus through a second "
        "exchange); hash subsample is map-only; final per-lang stats partial+final. "
        "Two corpus-bearing exchanges end-to-end.",
    ),
    "knn_ivf": (
        "q_knn_ivf (bucket-pruned ANN)",
        "Corpus x 8 broadcast centroids assigns buckets (linear, no pair "
        "explosion); queries probe nprobe=2 buckets via equi-join on centroid_id; "
        "cosine refine only on bucket-bounded candidates; per-query top-k through "
        "WindowGroupLimit. The IVF analog of the BHpix cell join.",
    ),
    "cluster_fof_2d": (
        "q_fof (friends-of-friends clustering)",
        "ITERATIVE op — the meaningful 'plan' is the barrier sequence, not one "
        "tree (round 13: TWO jobs + the caller's collect on the common path): "
        "(1) the TILE-CONTRACTION job — points hash-partitioned by spatial "
        "tile with halo copies into every tile covering their 3x3 cell "
        "neighborhood (LSD's cell+margins sharding; ~1.26x row duplication), "
        "then ONE Arrow kernel per tile does the forward-half-plane cell "
        "pairing (vectorized pandas merge + numpy distance refine) AND the "
        "union-find — one scan, one exchange where the round-12 self-join "
        "shape paid two scans and three; every point labels itself, so the "
        "seed is complete and never joins back to the node set; per-node "
        "label agg persisted lazily; (2) ONE bounded limit-collect that both "
        "materializes the persist and returns the quotient edges — zero rows "
        "proves the seed IS the min-label fixpoint, <=cap rows are "
        "union-found DRIVER-side and applied as a literal map() projection "
        "(<=10k labels; broadcast LocalRelation above); only a too-big "
        "quotient pays the checkpoint + degree-routed Pregel / "
        "large-star-small-star loops. The tree below is the returned "
        "labeling (cache scan + map projection).",
    ),
}


# Hand-maintained sections for the two bench dedup queries: their
# meaningful "plan" is a barrier sequence / routed pair of trees, not
# one explain dump, so the text lives here (appended verbatim) rather
# than in the auto-generated loop — a regen must never drop them
# (round-9 find: they were manual edits to PLANS.md and one regen
# silently lost them).
MANUAL_SECTIONS = """\
## q_dedup_simhash — `llm_dedup_simhash`

SimHash band dedup as ONE lazy tree: per-doc 60-bit simhash
(map-side, codegen), explode into 4x15-bit band keys, band-key
equi-join (doc_a < doc_b) — the zones technique, linear in band
collisions, never all-pairs — then a two-phase (partial+final)
first-agg dedups multi-band hits before the hamming<=2 refine.
Plan skeleton (sf-independent):

```
Filter (hamming <= 2)
  <- HashAggregate(final, first(hamming))
    <- Exchange(hash doc_a, doc_b)
      <- HashAggregate(partial)
        <- Project [xor + bit_count]          <- the refine
          <- BroadcastHashJoin [j, bk]        <- band equi-join
             (both sides: Generate explode(4 bands)
                <- Project [simhash map-side]
                  <- Scan parquet documents)
```

At 100 TB the band join becomes a ShuffledHashJoin on (j, bk) —
the broadcast here is fixture-scale AQE; the shape (explode →
equi-join → dedup-agg → refine) is partition-parallel throughout.
5 sequential jobs measured (BASELINE.json min_sequential_jobs).

## q_dedup_minhash — `llm_dedup_cluster`

ITERATIVE + materialized op; the meaningful plan is the barrier
sequence. (1) ckpt build `minhash_sig`: one documents scan →
3-token shingles → 12 portable md5 minhashes (map-only codegen
HOFs) → DISK_ONLY checkpoint; (2) ckpt build `minhash_hits`: slim
band explode (doc_id, band, bk ONLY — shingle/signature arrays do
NOT shuffle through the band join), band equi-join, pair dedup,
arrays joined back from the settled sig frame, exact-Jaccard
refine >= 0.6 → checkpoint; (3) min-label connected components
over the settled edge set (the FoF fixpoint: contraction seed,
cross-edge probe, propagation only if supercritical); (4) final
per-cluster count + md5 membership fingerprint. 19 sequential
jobs measured; bench.py drops the minhash cache entries before
every timed run so each sample re-executes (1)-(4) end-to-end —
5.7 s at sf0.1 vs the 10.7 s DuckDB recursive-CTE baseline.

Round-8 routing note for q_dedup_simhash: the op picks the plan by
measured corpus duplicate fraction (DUP_COLLAPSE_T = 0.10; exact
countDistinct probe since round 9). The tree above is the naive
path the bench fixture takes (0.2% dups); past the threshold the
signature fold and band join run over one representative per
distinct text and the surviving rep pairs expand through the
membership map — same output, pair count no longer quadratic in
duplicate multiplicity. llm_dedup_simhash_clusters (round 9) reuses
the same routed edge sets but closes them into a cluster summary:
on the collapsed route the quadratic within-group pair set is never
materialized at all.
"""


def main() -> None:
    os.environ.setdefault("LSD_SHUFFLE_PARTITIONS", "8")
    from lsd_spark.registry import QUERIES, load_all
    from lsd_spark.session import get_spark

    load_all()
    spark = get_spark(app_name="plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — audited physical plans for the headline queries",
        "",
        "Generated by scripts/gen_plans.py at sf0.1, shuffle.partitions=8, AQE on.",
        "These are the plans the engine is TESTED to keep (tests/test_plans.py);",
        "a regression in any of these shapes fails CI, not just the benchmark.",
        "",
    ]
    for qid, (title, note) in COMMENTARY.items():
        df = QUERIES[qid](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        head = buf.getvalue().split("\n\n")[0]
        out += [f"## {title} — `{qid}`", "", note, "", "```", head, "```", ""]
    out.append(MANUAL_SECTIONS)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
