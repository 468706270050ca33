"""Plan-shape ratchet (round-7 VERDICT #5): every cacheable op's
Exchange and parquet-scan counts are recorded in PLAN_RATCHET.json
by scripts/gen_plan_audit.py; this test fails any op whose CURRENT
plan exceeds its recorded value — the gate that would have caught
llm_dedup_ngram's 28-scan plan at authoring time.

The ratchet is a <=, not ==: a plan that IMPROVES (fewer scans /
exchanges) passes, and the next gen_plan_audit run records the
better number as the new ceiling. Absolute counts are not judged
here — agg_referential_audit legitimately scans 15 times because it
audits 8 DIFFERENT tables; what the ratchet forbids is a silent
regression of an individual op's own shape.

Uses the same sf (0.001) and explain mode (simple) as the
generator so counts are comparable; plan shapes are SF-independent
for lazy plans (uncacheable eager builders are excluded — their
returned plan reflects result size, and their build shapes are
pinned in tests/test_plans.py)."""

from __future__ import annotations

import io
import json
import os
from contextlib import redirect_stdout

import pytest

from lsd_spark.registry import QUERIES, UNCACHEABLE, load_all

load_all()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

with open(os.path.join(ROOT, "PLAN_RATCHET.json")) as _f:
    RATCHET: dict[str, dict[str, int]] = json.load(_f)


def _plan(df, mode: str = "simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_ratchet_covers_every_cacheable_op():
    """A new cacheable op without a ratchet row would silently dodge
    the gate — regenerate PLAN_RATCHET.json when adding ops."""
    expected = {k for k in QUERIES if k not in UNCACHEABLE}
    missing = expected - set(RATCHET)
    assert not missing, (
        f"ops missing from PLAN_RATCHET.json (run "
        f"scripts/gen_plan_audit.py): {sorted(missing)}"
    )


def test_no_plan_regresses_past_its_ratchet(spark):
    """One pass over every ratcheted op: build the plan at sf0.001
    and compare exchange + parquet-scan counts to the recorded
    ceilings. Collected into one failure report so a multi-op
    regression shows up whole.

    The same pass guards the output-order policy: builders return
    unordered frames, so no plan may contain the range exchange of a
    global sort (top-k `orderBy().limit()` plans as
    TakeOrderedAndProject and has none).

    Session state is normalized first: earlier tests persist()
    tables, and cached-relation statistics flip join strategies
    (SMJ <-> BHJ changes the Exchange count), so without the reset
    this test's verdict would depend on suite ORDER, not on the
    code (observed: green in isolation, red after the full-suite
    prefix). clearCache drops cached-data stats back to file sizes
    — the same state gen_plan_audit measures in."""
    from lsd_spark.registry import clear_plan_cache

    spark.catalog.clearCache()
    clear_plan_cache()
    bad, ranged = [], []
    for name, rec in sorted(RATCHET.items()):
        if name not in QUERIES:  # retired op, stale file
            continue
        p = _plan(QUERIES[name](spark, SF))
        exch = p.count("Exchange")
        scans = p.count("Scan parquet")
        if "rangepartitioning" in p:
            ranged.append(name)
        if exch > rec["exch"] or scans > rec["scans"]:
            bad.append(
                f"{name}: exch {exch} (ratchet {rec['exch']}), "
                f"scans {scans} (ratchet {rec['scans']})"
            )
    assert not bad, "plan regressions:\n" + "\n".join(bad)
    assert not ranged, f"plans with a global-sort range exchange: {ranged}"


@pytest.mark.parametrize(
    "name,max_scans",
    [
        # round-7 VERDICT #1 done-criterion: the four multi-scan
        # plans, final executed plan <= 4 parquet scans (they were
        # 28 / 16 / 16 / 15 before the ckpt_shared rewrite)
        ("llm_dedup_ngram", 4),
        ("llm_dedup_containment", 4),
        ("llm_pipeline_mm", 4),
        ("graph_degree_hist", 4),
        # the other consumers of the shared edge set, same budget
        ("graph_pagerank", 4),
        ("llm_dedup_embcos", 4),
    ],
)
def test_multiscan_plans_stay_dead(spark, name, max_scans):
    p = _plan(QUERIES[name](spark, SF), mode="formatted")
    assert p.count("Scan parquet") <= max_scans, (
        f"{name} re-grew a multi-scan plan:\n{p[:2000]}"
    )


def test_ckpt_build_cost_is_bounded(spark):
    """The scans didn't vanish — they moved into the ckpt_shared
    builds, memoized once per (session, sf_dir). Pin the TOTAL
    corpus scans a cold build performs: spy on every builder's lazy
    plan before it is checkpointed. The whole text-dedup family
    (ngram / containment / edit / simhash) shares text_groups +
    text_mem (2 scans total); their private frames (postings,
    sizes, signatures) all derive from the settled shared frames at
    ZERO further scans; the embcos chain needs 3 (groups + mem +
    assign/centroids). Anything above means a shared frame lost its
    checkpoint and the build itself re-scans."""
    import lsd_spark.llm.dedup as dedup
    from lsd_spark.registry import clear_plan_cache

    clear_plan_cache()
    seen: dict[str, int] = {}
    real = dedup.ckpt_shared

    def spy(spark_, sf_dir_, tag, builder):
        if tag not in seen:
            seen[tag] = _plan(builder()).count("Scan parquet")
        return real(spark_, sf_dir_, tag, builder)

    dedup.ckpt_shared = spy
    try:
        QUERIES["llm_dedup_ngram"](spark, SF)
        # containment/simhash route to their naive paths on the
        # zero-duplication fixture — spy their COLLAPSED builders
        # directly so the dup-heavy path's build cost stays pinned
        dedup._containment_collapsed(spark, SF)
        dedup._simhash_collapsed(spark, SF)
        QUERIES["llm_dedup_edit"](spark, SF)
        QUERIES["llm_dedup_embcos"](spark, SF)
    finally:
        dedup.ckpt_shared = real
        clear_plan_cache()  # drop spy-built entries

    shared = {t: n for t, n in seen.items() if t.startswith("text_")}
    family = {
        t: n
        for t, n in seen.items()
        if t.startswith(("ngram_", "contain_", "simhash_"))
    }
    embcos = {t: n for t, n in seen.items() if t.startswith("embcos_")}
    assert sum(shared.values()) <= 2, shared
    assert sum(family.values()) == 0, family
    assert sum(embcos.values()) <= 3, embcos
