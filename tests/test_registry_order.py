"""Pin the CORRECTNESS-ledger tier ordering (round-3 VERDICT #1,
rotated per round-4/5 VERDICT #1): the driver records at most ~50
rows per round in REGISTRATION ORDER, so the registry must lead with
(1) ops that have no driver row yet, then (2) ops whose plan changed
this round, then (3) the refresh rotation — already-green ops
ordered oldest-driver-confirmation first. A refactor that silently
breaks this ordering would waste a whole round of ledger coverage."""

from __future__ import annotations

from lsd_spark.registry import (
    _LEDGER_HISTORY,
    _latest_confirmed,
    _refresh_rotation,
    _touched,
    QUERIES,
    ROWS_ONLY,
    load_all,
)

load_all()

_LATEST = _latest_confirmed()
_ALL_RECORDED = set(_LATEST)


def test_tier1_new_ops_lead_registration_order():
    names = list(QUERIES)
    n_new = sum(1 for k in names if k not in _ALL_RECORDED)
    head = names[:n_new]
    assert all(k not in _ALL_RECORDED for k in head), head


def test_tier2_is_touched_then_rotation():
    """After the new ops come the touched-this-round ops (changed plans
    need fresh driver rows), then the staleness rotation (stalest
    newest-confirmation first) minus the touched set."""
    names = list(QUERIES)
    n_new = sum(1 for k in names if k not in _ALL_RECORDED)
    touched = _touched()
    assert names[n_new:n_new + len(touched)] == touched
    rotation = [k for k in _refresh_rotation()
                if k in QUERIES and k not in set(touched)]
    start = n_new + len(touched)
    assert names[start:start + len(rotation)] == rotation


def test_rotation_is_stalest_first():
    """The refresh rotation must be non-decreasing in
    newest-confirmation round — an op last confirmed in r01 may
    never queue behind one confirmed in r06."""
    rounds = [_LATEST[k] for k in _refresh_rotation()]
    assert rounds == sorted(rounds)


def test_r09_window_covers_new_touched_and_stale():
    """The 50-row driver window must contain every never-recorded op
    first (they have NO driver row at all — strictly the scarcest
    evidence), then as many touched ops as fit, then the stalest
    cohort: every remaining slot goes to the ops with the OLDEST
    newest-confirmation round present in the rotation."""
    names = list(QUERIES)[:50]
    window = set(names)
    n_new = sum(1 for k in QUERIES if k not in _ALL_RECORDED)
    assert all(k in window for k in QUERIES if k not in _ALL_RECORDED)
    touched = _touched()
    n_touched_fit = min(len(touched), max(0, 50 - n_new))
    assert all(k in window for k in touched[:n_touched_fit])
    rotation = [k for k in _refresh_rotation()
                if k in QUERIES and k not in set(touched)]
    n_rot = max(0, 50 - n_new - n_touched_fit)
    assert all(k in window for k in rotation[:n_rot])


def test_new_ops_fit_driver_cap():
    """Every op that has never been driver-recorded must fit inside
    the 50-row per-round cap, or it silently waits another round."""
    names = list(QUERIES)
    needs_row = [n for n in names if n not in _ALL_RECORDED]
    assert len(needs_row) <= 50, (
        f"{len(needs_row)} ops need a driver row but only 50 fit: "
        f"{needs_row}"
    )


def test_ledger_history_is_ascending_and_covers_all_queries():
    # one entry per recorded round, ascending, no gap: a missing or
    # misnumbered ledger would silently reshuffle the rotation
    rounds = [r for r, _ in _LEDGER_HISTORY]
    assert rounds == list(range(1, 14))


def test_rotation_excludes_rows_only_ops():
    """agg_approx_distinct / llm_dedup_near can never upgrade past a
    `no_oracle` row — queueing them wastes capped slots."""
    assert not (ROWS_ONLY & set(_refresh_rotation()))


def test_committed_freshness_matches_live_registry():
    """Round-10 VERDICT #8: the committed FRESHNESS.json must track
    the live registry — a count drift means bench.py hasn't re-emitted
    the ledger since ops were added (the doc-staleness failure mode
    that hit SURVEY.md's inventory line in rounds 9-10)."""
    import json
    from pathlib import Path

    from lsd_spark.registry import freshness_report

    p = Path(__file__).resolve().parent.parent / "FRESHNESS.json"
    committed = json.loads(p.read_text())
    assert committed["n_ops"] == len(QUERIES), (
        f"FRESHNESS.json n_ops={committed['n_ops']} but registry has "
        f"{len(QUERIES)} — re-run bench.py (or freshness_report()) "
        "before committing"
    )
    # the whole report — per-op freshness, rotation head, histogram,
    # never-recorded set — guards the ledger-history derivation
    assert committed == freshness_report()


def test_every_query_has_oracle_or_documented_reason():
    from lsd_spark.registry import ORACLES

    rows_only = set(QUERIES) - set(ORACLES)
    # the only two ops allowed to stay rows-only, each with an
    # irreducible reason (approximate HLL; engine-specific xxhash64)
    assert rows_only == {"agg_approx_distinct", "llm_dedup_near"}
