"""Transactional commit-log table format (lsd_spark/sources/
table_log.py): atomic version claims, lost-race retry, crash
invisibility, time-travel reads. Mirrors the reference's
snapshot/commit machinery [lsd:src/lsd/table.py snapshot logic —
UNVERIFIED, SURVEY.md §2 tables]."""

import json
import os

import pytest

from lsd_spark.sources import table_log as tl


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v double")


def test_time_travel_reads_exact_versions(spark, tmp_path):
    base = str(tmp_path / "t")
    tl.init_table(base)
    v1 = tl.commit(base, tl.write_data_files(_mk(spark, [(1, 1.0)]), base, "c1"), "A")
    v2 = tl.commit(base, tl.write_data_files(_mk(spark, [(2, 2.0)]), base, "c2"), "A")
    v3 = tl.commit(base, tl.write_data_files(_mk(spark, [(3, 3.0)]), base, "c3"), "B")
    assert (v1, v2, v3) == (1, 2, 3)
    assert {r.k for r in tl.read_version(spark, base, 1).collect()} == {1}
    assert {r.k for r in tl.read_version(spark, base, 2).collect()} == {1, 2}
    assert {r.k for r in tl.read_version(spark, base, 3).collect()} == {1, 2, 3}
    assert tl.latest_version(base) == 3


def test_crashed_writer_files_invisible(spark, tmp_path):
    """Data files staged without a published log entry must never
    reach a reader — the partial-commit / crash case."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    tl.commit(base, tl.write_data_files(_mk(spark, [(1, 1.0)]), base, "c1"), "A")
    # crash: staging succeeded, commit never happened
    orphan = tl.write_data_files(_mk(spark, [(99, 9.9)] * 5), base, "crashed")
    assert orphan  # files really are on disk
    got = {r.k for r in tl.read_version(spark, base, tl.latest_version(base)).collect()}
    assert got == {1}


def test_lost_race_retries_at_next_version(spark, tmp_path):
    """Two writers race for the same version: exactly one atomic
    create wins; the loser's retry lands at the next version with
    NO data lost or duplicated."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    tl.commit(base, tl.write_data_files(_mk(spark, [(1, 1.0)]), base, "c1"), "A")
    fa = tl.write_data_files(_mk(spark, [(2, 2.0)]), base, "a2")
    fb = tl.write_data_files(_mk(spark, [(3, 3.0)]), base, "b1")
    target = tl.latest_version(base) + 1
    assert tl.try_commit(base, target, fa, "A") is True
    assert tl.try_commit(base, target, fb, "B") is False
    assert tl.commit(base, fb, "B") == target + 1
    # winner owns version 2, loser version 3, nothing lost
    with open(tl._entry_path(base, 2)) as fh:
        assert json.load(fh)["writer"] == "A"
    with open(tl._entry_path(base, 3)) as fh:
        assert json.load(fh)["writer"] == "B"
    got = sorted(r.k for r in tl.read_version(spark, base, 3).collect())
    assert got == [1, 2, 3]


def test_loser_tmp_file_cleaned_and_entry_intact(spark, tmp_path):
    """The losing try_commit must not disturb the winner's entry and
    must not leave its temp file behind."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    f1 = tl.write_data_files(_mk(spark, [(1, 1.0)]), base, "c1")
    assert tl.try_commit(base, 1, f1, "A")
    before = open(tl._entry_path(base, 1)).read()
    f2 = tl.write_data_files(_mk(spark, [(2, 2.0)]), base, "c2")
    assert not tl.try_commit(base, 1, f2, "B")
    assert open(tl._entry_path(base, 1)).read() == before
    leftovers = [f for f in os.listdir(os.path.join(base, tl.LOG_DIR)) if f.endswith(".tmp")]
    assert leftovers == []


def test_read_before_first_commit_raises(spark, tmp_path):
    base = str(tmp_path / "t")
    tl.init_table(base)
    with pytest.raises(ValueError):
        tl.read_version(spark, base, 0)


# ---- manifest checkpointing (round-10 VERDICT missing #2) ----


def _fake_commits(base, n, writer="A", interval=5):
    """n commits of synthetic file lists (the commit protocol never
    inspects file contents, so checkpoint tests skip Spark writes)."""
    for i in range(1, n + 1):
        tl.commit(
            base, [f"data/{writer}/f{i:03d}.parquet"], writer,
            checkpoint_interval=interval,
        )


def test_checkpointed_manifest_equals_full_walk(tmp_path):
    """>=50 commits: every version's checkpointed manifest must be
    byte-identical to the full log walk, checkpoints must exist at
    each interval, and the pointer must track the newest one."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    _fake_commits(base, 50, interval=5)
    assert tl.checkpoint_versions(base) == list(range(5, 51, 5))
    assert tl._pointer_version(base) == 50
    for v in range(1, 51):
        assert tl.manifest(base, v) == tl.manifest_full_walk(base, v)
    # time travel to a version below a checkpoint picks the right one
    assert tl._best_checkpoint(base, 37) == 35
    assert tl._best_checkpoint(base, 4) == 0  # pre-first-checkpoint


def test_checkpoint_read_skips_walked_over_entries(tmp_path):
    """Planning a checkpointed read must not open the entries the
    checkpoint consolidated: with entries 1..45 deleted, version-50
    planning still succeeds (checkpoint 45 + suffix) while the full
    walk — which needs every entry — fails."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    _fake_commits(base, 50, interval=5)
    want = tl.manifest_full_walk(base, 50)
    import os as _os

    for v in range(1, 46):
        _os.unlink(tl._entry_path(base, v))
    assert tl.manifest(base, 50) == want
    with pytest.raises(FileNotFoundError):
        tl.manifest_full_walk(base, 50)


def test_missing_or_stale_pointer_falls_back(tmp_path):
    """_last_checkpoint is a hint: deleting it (crash between
    checkpoint and pointer) or rolling it back (lagging writer) must
    leave every read correct — the dir-scan fallback or a longer
    suffix walk, never a wrong list."""
    import json as _json
    import os as _os

    base = str(tmp_path / "t")
    tl.init_table(base)
    _fake_commits(base, 20, interval=5)
    want = tl.manifest_full_walk(base, 20)
    ptr = _os.path.join(base, tl.LOG_DIR, tl.LAST_CHECKPOINT)
    _os.unlink(ptr)
    assert tl.manifest(base, 20) == want  # scan fallback
    with open(ptr, "w") as fh:
        _json.dump({"version": 5}, fh)  # stale pointer
    assert tl.manifest(base, 20) == want  # longer walk, same answer
    # pointer moves forward; round-12 self-healing advance goes all
    # the way to the NEWEST published checkpoint it can see (20 here
    # — checkpoints 5/10/15/20 already exist from _fake_commits),
    # not just the writer's own version
    tl.write_checkpoint(base, 10, "late")
    assert tl._pointer_version(base) == 20
    tl.write_checkpoint(base, 15, "laggard")
    assert tl._pointer_version(base) == 20  # never rolled back


def test_multi_writer_checkpoint_stress(tmp_path):
    """N threads x M commits racing the optimistic protocol with
    checkpointing on: every version claimed exactly once, no writer
    loses a commit, the final manifest carries every staged file
    exactly once, and interval checkpoints all published."""
    import json as _json
    from concurrent.futures import ThreadPoolExecutor

    base = str(tmp_path / "t")
    tl.init_table(base)
    N, M = 4, 15

    def run(w):
        return [
            tl.commit(base, [f"data/w{w}/f{i:02d}.parquet"], f"w{w}",
                      checkpoint_interval=10)
            for i in range(M)
        ]

    with ThreadPoolExecutor(N) as ex:
        claimed = list(ex.map(run, range(N)))
    flat = [v for per in claimed for v in per]
    assert sorted(flat) == list(range(1, N * M + 1))  # unique claims
    assert all(len(per) == M for per in claimed)
    assert tl.latest_version(base) == N * M
    files = tl.manifest(base, N * M)
    assert sorted(files) == sorted(
        f"data/w{w}/f{i:02d}.parquet" for w in range(N) for i in range(M)
    )
    assert files == tl.manifest_full_walk(base, N * M)
    assert tl.checkpoint_versions(base) == list(range(10, N * M + 1, 10))
    # each checkpoint's content is exactly its version's full walk
    for c in tl.checkpoint_versions(base):
        with open(tl._ckpt_path(base, c)) as fh:
            assert _json.load(fh)["files"] == tl.manifest_full_walk(base, c)


def test_spark_read_on_checkpointed_table(spark, tmp_path):
    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in range(1, 13):
        tl.commit(
            base,
            tl.write_data_files(_mk(spark, [(i, float(i))]), base, f"c{i}"),
            "A",
            checkpoint_interval=4,
        )
    assert tl.checkpoint_versions(base) == [4, 8, 12]
    for v in (4, 7, 12):
        got = sorted(r.k for r in tl.read_version(spark, base, v).collect())
        assert got == list(range(1, v + 1))


def test_vacuum_deletes_only_unreachable_orphans(spark, tmp_path):
    """vacuum(min_age_sec=0) must delete exactly the staged-but-never-
    committed files (computed from the LOG's reachable set, not a dir
    listing) and leave every committed version readable; with the
    production retention window the young orphans survive (the
    in-flight-commit guard)."""
    import os as _os

    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in (1, 2):
        tl.commit(
            base,
            tl.write_data_files(_mk(spark, [(i, float(i))]), base, f"c{i}"),
            "A",
        )
    orphan = tl.write_data_files(_mk(spark, [(99, 9.9)]), base, "crashed")
    assert all(_os.path.exists(p) for p in orphan)
    guarded, freed0 = tl.vacuum(base)  # default 24h window
    assert guarded == [] and freed0 == 0
    assert all(_os.path.exists(p) for p in orphan)  # age-guarded
    deleted, freed = tl.vacuum(base, min_age_sec=0.0)
    # every orphan goes; the only extras are the crashed dir's
    # non-data markers (_SUCCESS/.crc — round-12 marker cleanup)
    assert set(orphan) <= set(deleted) and freed > 0
    assert all(
        not p.endswith(".parquet") for p in set(deleted) - set(orphan)
    )
    assert not any(_os.path.exists(p) for p in orphan)
    for v in (1, 2):
        got = sorted(r.k for r in tl.read_version(spark, base, v).collect())
        assert got == list(range(1, v + 1))
    # idempotent: nothing left to collect
    assert tl.vacuum(base, min_age_sec=0.0) == ([], 0)


# ---- compaction commits (Delta OPTIMIZE analog) ----


def test_compaction_preserves_rows_and_time_travel(spark, tmp_path):
    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in (1, 2, 3):
        tl.commit(
            base,
            tl.write_data_files(_mk(spark, [(i, float(i))]), base, f"c{i}"),
            "A",
        )
    pre = tl.manifest(base, 3)
    assert tl.compact(spark, base) == 4
    assert len(tl.manifest(base, 4)) < len(pre)  # files shrank
    # live rows identical, pre-compaction history intact
    assert sorted(r.k for r in tl.read_version(spark, base, 4).collect()) == [1, 2, 3]
    assert sorted(r.k for r in tl.read_version(spark, base, 2).collect()) == [1, 2]
    # post-compaction appends stack on the consolidated set
    tl.commit(base, tl.write_data_files(_mk(spark, [(9, 9.0)]), base, "c9"), "A")
    assert sorted(r.k for r in tl.read_version(spark, base, 5).collect()) == [1, 2, 3, 9]
    # retention-bounded vacuum deletes exactly the compacted originals
    deleted, freed = tl.vacuum(base, min_age_sec=0.0, keep_versions=2)
    # all originals + only the emptied dirs' markers (round-12)
    assert set(pre) <= set(deleted) and freed > 0
    assert all(not p.endswith(".parquet") for p in set(deleted) - set(pre))
    assert sorted(r.k for r in tl.read_version(spark, base, 5).collect()) == [1, 2, 3, 9]
    # full-retention vacuum never touches committed files
    assert tl.vacuum(base, min_age_sec=0.0) == ([], 0)


def test_compaction_commit_keeps_concurrent_appends(tmp_path):
    """An append that lands between the compactor's snapshot read and
    its version claim must survive: the compaction entry removes only
    the exact set it consolidated (fake-file protocol test)."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    tl.commit(base, ["data/a/1.parquet"], "A")
    tl.commit(base, ["data/a/2.parquet"], "A")
    snapshot = tl.manifest(base, 2)  # compactor reads the live set
    tl.commit(base, ["data/b/3.parquet"], "B")  # concurrent append
    tl.commit(base, ["data/cp/all.parquet"], "C", compacts=snapshot)
    assert sorted(tl.manifest(base, 4)) == [
        "data/b/3.parquet", "data/cp/all.parquet"
    ]
    assert tl.manifest(base, 2) == snapshot  # time travel intact


def test_checkpoint_after_compaction_equals_full_walk(tmp_path):
    """Checkpoints must consolidate the NET file set: a compaction
    inside the checkpointed prefix may not resurrect removed files,
    and reads planned from the checkpoint equal the full walk at
    every version."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in range(1, 8):
        tl.commit(base, [f"data/a/{i}.parquet"], "A", checkpoint_interval=5)
    old = tl.manifest(base, 7)
    tl.commit(base, ["data/cp/all.parquet"], "C", compacts=old,
              checkpoint_interval=5)
    for i in range(9, 12):
        tl.commit(base, [f"data/a/{i}.parquet"], "A", checkpoint_interval=5)
    assert tl.checkpoint_versions(base) == [5, 10]
    for v in range(1, 12):
        assert tl.manifest(base, v) == tl.manifest_full_walk(base, v), v
    assert "data/a/3.parquet" not in tl.manifest(base, 11)
    assert "data/a/3.parquet" in tl.manifest(base, 7)


def test_claim_seam_conditional_put_mock_two_writer_race(tmp_path):
    """The claim primitive is a swappable strategy (round-12 —
    SCALING.md 'Table-log claim primitive'): drive try_commit through
    a mock object-store conditional PUT and check the contract the
    log relies on — exactly one winner per version slot, the loser's
    content never becomes visible, and the loser converges at the
    next version through the normal retry loop."""
    base = str(tmp_path / "t")
    tl.init_table(base)

    puts: list[tuple[str, str]] = []

    def conditional_put(src: str, dst: str) -> bool:
        # If-None-Match: * semantics — atomic create-if-absent, here
        # emulated with the POSIX claim but with call logging so the
        # race interleaving below is observable.
        puts.append((src, dst))
        return tl.posix_link_claim(src, dst)

    orig = tl.CLAIM["fn"]
    tl.CLAIM["fn"] = conditional_put
    try:
        tl.commit(base, ["data/a/1.parquet"], "A")
        # both writers observe head=1 and target version 2
        target = tl.latest_version(base) + 1
        assert tl.try_commit(base, target, ["data/a/2.parquet"], "A")
        assert not tl.try_commit(base, target, ["data/b/2.parquet"], "B")
        vb = tl.commit(base, ["data/b/2.parquet"], "B")
        assert vb == 3
        assert tl.manifest(base, 2) == ["data/a/1.parquet", "data/a/2.parquet"]
        assert "data/b/2.parquet" not in tl.manifest(base, 2)
        assert "data/b/2.parquet" in tl.manifest(base, 3)
        # every claim ran through the seam
        assert len(puts) >= 4
    finally:
        tl.CLAIM["fn"] = orig


# each compactor with the data dir its staged output lands in
_COMPACTORS = {
    "compact": (tl.compact, "/compact-v"),
    "compact_zorder": (
        lambda spark, base: tl.compact_zorder(spark, base, "id", n_out=2),
        "/zorder-v",
    ),
}


@pytest.mark.parametrize("compactor", list(_COMPACTORS))
def test_compact_conflict_detection_and_empty_guard(
    spark, tmp_path, compactor
):
    """Round-12 ADVICE, for both compactors: (a) compacting an empty
    table raises a clear ValueError instead of a confusing zero-path
    read; (b) a compaction that lost the race to ANOTHER compaction
    raises ConcurrentCompactionError instead of publishing a
    duplicate consolidated copy (the double-rows hazard)."""
    run, staged_dir = _COMPACTORS[compactor]
    base = str(tmp_path / "t")
    tl.init_table(base)
    with pytest.raises(ValueError, match="nothing to compact"):
        run(spark, base)

    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    for i in range(2):
        tl.commit(
            base, tl.write_data_files(df, base, f"c{i}"), "A",
            checkpoint_interval=None,
        )
    # a rival compaction lands between our snapshot and our claim:
    # simulate by intercepting the claim to inject the rival entry
    # the first time our compactor tries to publish
    orig = tl.CLAIM["fn"]
    state = {"injected": False}

    def inject_rival_then_claim(src: str, dst: str) -> bool:
        if not state["injected"]:
            state["injected"] = True
            rival_old = tl.manifest(base, tl.latest_version(base))
            rival = tl.write_data_files(
                spark.read.parquet(*rival_old).coalesce(1), base, "rival"
            )
            assert tl.try_commit(
                base, tl.latest_version(base) + 1, rival, "R",
                compacts=rival_old,
            )
        return orig(src, dst)

    tl.CLAIM["fn"] = inject_rival_then_claim
    try:
        with pytest.raises(tl.ConcurrentCompactionError):
            run(spark, base)
    finally:
        tl.CLAIM["fn"] = orig
    # the rival's consolidation stands; no duplicate rows
    head = tl.latest_version(base)
    assert tl.read_version(spark, base, head).count() == 20
    # our aborted compactor's staged files are vacuumable orphans
    deleted, _ = tl.vacuum(base, min_age_sec=0.0)
    assert any(staged_dir in p for p in deleted)
    assert tl.read_version(spark, base, head).count() == 20


def test_checkpoint_pointer_self_heals_forward(tmp_path):
    """Round-12 ADVICE: the pointer advance is best-effort under
    concurrency, but write_checkpoint re-validates after its replace
    — a laggard checkpointer that regresses the pointer repairs it
    before returning (pointer ends at the newest published
    checkpoint)."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in range(1, 11):
        tl.commit(base, [f"data/a/{i}.parquet"], "A", checkpoint_interval=5)
    assert tl._pointer_version(base) == 10
    # simulate the laggard: an old checkpointer re-publishing v5
    # AFTER v10's pointer landed — the transient regression must be
    # repaired by its own re-validation pass before it returns
    tl.write_checkpoint(base, 5, writer="laggard")
    assert tl._pointer_version(base) == 10
    assert tl.checkpoint_versions(base) == [5, 10]


def test_vacuum_cleans_markers_and_prunes_empty_dirs(spark, tmp_path):
    """Round-12 ADVICE: after a staging dir's orphaned parquet files
    are reclaimed, its _SUCCESS/.crc markers and the dir itself go
    too (bounded data/ tree); committed dirs keep their markers."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    df = spark.range(5).selectExpr("id")
    tl.commit(base, tl.write_data_files(df, base, "live"), "A")
    tl.write_data_files(df, base, "crashed")  # staged, never committed
    crash_dir = os.path.join(base, "data", "crashed")
    assert os.path.isdir(crash_dir)
    deleted, freed = tl.vacuum(base, min_age_sec=0.0)
    assert not os.path.exists(crash_dir)  # markers gone, dir pruned
    assert freed > 0
    live_dir = os.path.join(base, "data", "live")
    assert any(f.endswith(".parquet") for f in os.listdir(live_dir))
    assert spark.read.parquet(*tl.manifest(base, 1)).count() == 5
    # age guard: a YOUNG crashed dir survives a production-window run
    tl.write_data_files(df, base, "crashed2")
    guarded, _ = tl.vacuum(base)
    assert guarded == []
    assert os.path.isdir(os.path.join(base, "data", "crashed2"))


def test_data_skipping_point_predicate_opens_one_file(spark, tmp_path):
    """Data skipping (round-12): four range-disjoint commits with
    footer-harvested stats; a point predicate's pruned manifest is
    ONE file, results equal the unpruned read, a stat-less commit is
    always kept, and checkpoints carry the stats through."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in range(4):
        df = spark.range(i * 100, (i + 1) * 100).selectExpr("id")
        fs = tl.write_data_files(df.coalesce(1), base, f"s{i}")
        tl.commit(
            base, fs, "A", checkpoint_interval=4,
            stats=tl.parquet_file_stats(fs, ["id"]),
        )
    head = tl.latest_version(base)
    kept, total = tl.manifest_pruned(base, head, "id", 250, 250)
    assert total == 4 and len(kept) == 1 and "/s2/" in kept[0]
    got = tl.read_version(spark, base, head, prune=("id", 250, 250))
    assert [r.id for r in got.filter("id = 250").collect()] == [250]
    # a stats-less commit is never pruned (skipping = optimization)
    fs = tl.write_data_files(
        spark.range(1000, 1010).selectExpr("id").coalesce(1), base, "nostats"
    )
    tl.commit(base, fs, "A", checkpoint_interval=None)
    kept3, total3 = tl.manifest_pruned(
        base, tl.latest_version(base), "id", 250, 250
    )
    assert total3 == 5 and len(kept3) == 2
    assert any("/nostats/" in f for f in kept3)
    # the checkpoint at v4 must carry stats: drop the walked-over
    # entries and prune again off the checkpoint + suffix alone
    for v in range(1, 5):
        os.unlink(tl._entry_path(base, v))
    kept2, total2 = tl.manifest_pruned(base, head, "id", 250, 250)
    assert (kept2, total2) == (kept, total)
    # fully-pruned interval: empty frame, schema intact, no error
    empty = tl.read_version(
        spark, base, head, prune=("id", 10_000, 20_000)
    )
    assert empty.columns == ["id"] and empty.count() == 0


def test_compact_zorder_disjoint_files_and_conflict(spark, tmp_path):
    """compact_zorder: deterministic bucket arithmetic yields
    range-DISJOINT per-file stats (a point probe prunes to one
    file), rows survive byte-exactly, and time travel still resolves
    the interleaved originals. The rival-compaction abort is tested
    by test_compact_conflict_detection_and_empty_guard."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    df = spark.range(1, 401).selectExpr("id AS k", "id * 2 AS v")
    for i in range(4):
        fs = tl.write_data_files(
            df.filter(f"k % 4 = {i}").coalesce(1), base, f"i{i}"
        )
        tl.commit(base, fs, "A", stats=tl.parquet_file_stats(fs, ["k"]))
    # interleaved: the point probe keeps ALL files
    kept, total = tl.manifest_pruned(base, 4, "k", 200, 200)
    assert (len(kept), total) == (4, 4)
    assert tl.compact_zorder(spark, base, "k", n_out=4) == 5
    kept, total = tl.manifest_pruned(base, 5, "k", 200, 200)
    assert (len(kept), total) == (1, 4)
    # stats disjoint across the four zorder files
    _files, stats = tl._log_state(base, 5)[0], tl._log_state(base, 5)[1]
    ranges = sorted(tuple(v["k"]) for v in stats.values())
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges
    # rows identical pre/post; time travel intact
    assert tl.read_version(spark, base, 5).count() == 400
    assert sorted(
        r.k for r in tl.read_version(spark, base, 4).collect()
    ) == list(range(1, 401))
    got = tl.read_version(spark, base, 5, prune=("k", 200, 200))
    assert [r.v for r in got.filter("k = 200").collect()] == [400]


# --- round 13: string stats, CDC reads, compact stats/retry, ----------------
# --- subtree-aware vacuum, streaming source -----------------------------


def test_string_stat_bounds_truncation():
    """_stat_bounds (round-13 string skipping): raw BYTE_ARRAY stats
    decode to bounded-prefix string bounds — min truncates downward,
    a truncated max is padded UPWARD by incrementing its last kept
    code point (skipping the surrogate gap); undecodable binary and
    un-incrementable maxima drop the stat entirely."""
    from types import SimpleNamespace as NS

    P = tl.STRING_STAT_PREFIX
    # short strings pass through (bytes or str)
    assert tl._stat_bounds(NS(min=b"abc", max=b"abd")) == ("abc", "abd")
    assert tl._stat_bounds(NS(min="abc", max="abd")) == ("abc", "abd")
    # long min truncates downward; long max pads upward
    lo, hi = tl._stat_bounds(NS(min=b"a" * 100, max=b"a" * 50 + b"b" * 50))
    assert lo == "a" * P and lo <= "a" * 100
    assert hi == "a" * 50 + "b" * (P - 50 - 1) + "c"
    assert hi > "a" * 50 + "b" * 50  # still an upper bound
    # numerics untouched
    assert tl._stat_bounds(NS(min=3, max=9)) == (3, 9)
    # undecodable binary -> dropped
    assert tl._stat_bounds(NS(min=b"\xff\xfe", max=b"\xff\xff")) is None
    # surrogate gap skipped when incrementing
    hi2 = tl._stat_bounds(
        NS(min="a", max="x" * (P - 1) + "퟿" + "zz")
    )[1]
    assert hi2 == "x" * (P - 1) + ""
    # all-U+10FFFF max cannot be padded upward -> dropped
    assert tl._stat_bounds(NS(min="a", max="\U0010FFFF" * (P + 1))) is None


def test_string_skipping_prunes_and_stays_sound(spark, tmp_path):
    """String-keyed data skipping end-to-end: three commits with
    disjoint string key ranges (one padded past the truncation
    prefix) prune correctly, and truncation NEVER drops a file whose
    true range intersects the probe (soundness over precision)."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    P = tl.STRING_STAT_PREFIX
    groups = [
        ["apple", "avocado" + "x" * (2 * P)],  # forces max padding
        ["banana", "blueberry"],
        ["cherry", "citron"],
    ]
    for i, vals in enumerate(groups):
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        fs = tl.write_data_files(df.coalesce(1), base, f"g{i}")
        tl.commit(base, fs, "A", stats=tl.parquet_file_stats(fs, ["s"]))
    head = tl.latest_version(base)
    kept, total = tl.manifest_pruned(base, head, "s", "b", "bz")
    assert total == 3 and len(kept) == 1 and "/g1/" in kept[0]
    # probe inside group 0's PADDED tail: truncation must keep g0
    kept0, _ = tl.manifest_pruned(
        base, head, "s", "avocado", "avocadoz"
    )
    assert any("/g0/" in f for f in kept0)
    got = tl.read_version(spark, base, head, prune=("s", "b", "bz"))
    assert sorted(r.s for r in got.filter("s >= 'b' AND s <= 'bz'").collect()) == groups[1]


def test_read_changes_windows(spark, tmp_path):
    """read_changes: per-window adds, compaction change-invisible,
    empty window schema-stable, and a removed entry raises instead
    of silently dropping its rows."""
    base = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    tl.init_table(base)
    for i in range(3):
        tl.commit(
            base,
            tl.write_data_files(df.filter(f"k % 4 = {i}"), base, f"c{i}"),
            "A", checkpoint_interval=None,
        )
    assert tl.compact(spark, base) == 4
    tl.commit(
        base, tl.write_data_files(df.filter("k % 4 = 3"), base, "c3"), "A",
        checkpoint_interval=None,
    )
    w1 = tl.read_changes(spark, base, 0, 2)
    assert sorted(r.k for r in w1.collect()) == sorted(
        k for k in range(100) if k % 4 in (0, 1)
    )
    # the window spanning the compaction delivers only the append
    w2 = tl.read_changes(spark, base, 2)
    assert sorted(r.k for r in w2.collect()) == sorted(
        k for k in range(100) if k % 4 in (2, 3)
    )
    # compaction-only window: empty but schema-stable
    w3 = tl.read_changes(spark, base, 3, 4)
    assert w3.columns == ["k", "v"] and w3.count() == 0
    # stream == batch identity
    assert w1.count() + w2.count() == tl.read_version(
        spark, base, tl.latest_version(base)
    ).count()
    # retention: a removed entry in the window raises
    os.unlink(tl._entry_path(base, 2))
    with pytest.raises(ValueError, match="has been removed"):
        tl.changed_files(base, 0, 3)


def test_compact_publishes_stats(spark, tmp_path):
    """Round-13 ADVICE: compact() re-harvests footer stats for the
    snapshot's stat columns, so manifest-level skipping still works
    right after a plain OPTIMIZE (was: whole table went stat-less)."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in range(3):
        df = spark.range(i * 100, (i + 1) * 100).selectExpr("id")
        fs = tl.write_data_files(df.coalesce(1), base, f"s{i}")
        tl.commit(base, fs, "A", stats=tl.parquet_file_stats(fs, ["id"]))
    v = tl.compact(spark, base)
    files, stats, _ = tl._log_state(base, v)
    assert all(f in stats and "id" in stats[f] for f in files)
    # an out-of-range probe prunes the (single) compacted file
    kept, total = tl.manifest_pruned(base, v, "id", 10_000, 20_000)
    assert (len(kept), total) == (0, 1)
    # in-range probe keeps it and reads correctly
    got = tl.read_version(spark, base, v, prune=("id", 250, 250))
    assert [r.id for r in got.filter("id = 250").collect()] == [250]


def test_compact_retry_survives_rival(spark, tmp_path):
    """Round-13: compact(retries=1) — the loser of a
    compactor-vs-compactor race re-snapshots (the rival's output is
    now the input) and publishes a correct, non-duplicated manifest
    instead of raising."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    for i in range(2):
        tl.commit(
            base, tl.write_data_files(df, base, f"c{i}"), "A",
            checkpoint_interval=None,
        )
    orig = tl.CLAIM["fn"]
    state = {"injected": False}

    def inject_rival_then_claim(src: str, dst: str) -> bool:
        if not state["injected"]:
            state["injected"] = True
            rival_old = tl.manifest(base, tl.latest_version(base))
            rival = tl.write_data_files(
                spark.read.parquet(*rival_old).coalesce(1), base, "rival"
            )
            assert tl.try_commit(
                base, tl.latest_version(base) + 1, rival, "R",
                compacts=rival_old,
            )
        return orig(src, dst)

    tl.CLAIM["fn"] = inject_rival_then_claim
    try:
        v = tl.compact(spark, base, retries=1)
    finally:
        tl.CLAIM["fn"] = orig
    head = tl.latest_version(base)
    assert v == head
    # non-duplicated: both source commits' rows exactly once
    assert tl.read_version(spark, base, head).count() == 20
    # the retry consolidated the RIVAL's output (fresh snapshot)
    with open(tl._entry_path(base, v)) as fh:
        entry = json.load(fh)
    assert any("/rival/" in f for f in entry["compacts"])


def test_vacuum_keeps_partitioned_compaction_markers(spark, tmp_path):
    """Round-13 ADVICE: a LIVE dir whose parquet lives only in
    subdirectories (compact_zorder's partitioned output) keeps its
    _SUCCESS marker — reclaimability is a whole-subtree test now."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    df = spark.range(1, 101).selectExpr("id AS k", "id * 2 AS v")
    for i in range(2):
        fs = tl.write_data_files(
            df.filter(f"k % 2 = {i}").coalesce(1), base, f"i{i}"
        )
        tl.commit(base, fs, "A", stats=tl.parquet_file_stats(fs, ["k"]))
    v = tl.compact_zorder(spark, base, "k", n_out=2)
    zdirs = [
        d for d in os.listdir(os.path.join(base, "data"))
        if d.startswith("zorder-")
    ]
    assert len(zdirs) == 1
    zparent = os.path.join(base, "data", zdirs[0])
    assert os.path.exists(os.path.join(zparent, "_SUCCESS"))
    deleted, _ = tl.vacuum(base, min_age_sec=0.0)
    # live partitioned output untouched, markers included
    assert os.path.exists(os.path.join(zparent, "_SUCCESS"))
    assert not any(zdirs[0] in p for p in deleted)
    assert tl.read_version(spark, base, v).count() == 100
    # retention-bounded GC still reclaims the originals AND, once the
    # zorder output is itself compacted away, its whole subtree
    deleted2, _ = tl.vacuum(base, min_age_sec=0.0, keep_versions=1)
    assert any("/i0/" in p for p in deleted2)
    assert os.path.exists(os.path.join(zparent, "_SUCCESS"))


def test_stream_source_partitions_skip_compactions(spark, tmp_path):
    """The streaming source's offset math: a version window holding
    only a compaction plans ZERO partitions (change-invisible), and
    the reader's per-file partitions cover exactly the appends."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    df = spark.range(40).selectExpr("id AS k", "id * 2 AS v")
    for i in range(2):
        tl.commit(
            base,
            tl.write_data_files(df.filter(f"k % 2 = {i}").coalesce(1),
                                base, f"c{i}"),
            "A", checkpoint_interval=None,
        )
    tl.compact(spark, base)
    cls = tl.make_table_log_datasource()
    src = cls(options={"path": base})
    reader = src.streamReader(None)
    assert reader.initialOffset() == {"version": 0}
    assert reader.latestOffset() == {"version": 3}
    parts = reader.partitions({"version": 0}, {"version": 2})
    assert len(parts) == 2
    assert reader.partitions({"version": 2}, {"version": 3}) == []
    rows = []
    for p in parts:
        for batch in reader.read(p):
            rows.extend(batch.to_pylist())
    assert sorted(r["k"] for r in rows) == list(range(40))
    # schema() maps the arrow footer to Spark DDL
    assert src.schema() == "k bigint, v bigint"


def _ranged_table(spark, base, n_files=3, per=10):
    """k = 0..n*per-1 split into range files with k stats."""
    tl.init_table(base)
    df = spark.range(n_files * per).selectExpr(
        "id AS k", "CAST(id * 2 AS DOUBLE) AS v"
    )
    for i in range(n_files):
        fs = tl.write_data_files(
            df.filter(f"k >= {i * per} AND k < {(i + 1) * per}").coalesce(1),
            base, f"r{i}",
        )
        tl.commit(base, fs, "A", stats=tl.parquet_file_stats(fs, ["k"]))
    return df


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """Round-13 DELETE: stats pruning + match scan touch exactly the
    one file with qualifying rows; the others keep their paths, the
    rewrite re-harvests stats, time travel sees the original."""
    base = str(tmp_path / "t")
    _ranged_table(spark, base)
    before = set(tl.manifest(base, 3))
    res = tl.delete_where(
        spark, base, "k >= 12 AND k < 15", prune=("k", 12, 14)
    )
    assert res == {
        "version": 4, "files_total": 3, "files_candidates": 1,
        "files_rewritten": 1, "rows_deleted": 3,
    }
    after = set(tl.manifest(base, 4))
    assert len(before - after) == 1 and len(after - before) >= 1
    got = sorted(r.k for r in tl.read_version(spark, base, 4).collect())
    assert got == [k for k in range(30) if not 12 <= k < 15]
    # time travel: the pre-delete version is intact
    assert tl.read_version(spark, base, 3).count() == 30
    # rewritten output carries fresh stats: a point probe inside the
    # rewritten range opens 1 file
    kept, total = tl.manifest_pruned(base, 4, "k", 16, 16)
    assert len(kept) == 1 and total == 3
    # CDC refuses to cross the delete; windows after it still work
    with pytest.raises(ValueError, match="row-level rewrite"):
        tl.changed_files(base, 0, 4)
    assert tl.changed_files(base, 4) == ([], 4)


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: only predicate-TRUE rows go; a NULL
    predicate (NULL v) keeps its row."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    fs = tl.write_data_files(
        _mk(spark, [(1, 1.0), (2, None), (3, 9.0)]).coalesce(1), base, "c"
    )
    tl.commit(base, fs, "A")
    res = tl.delete_where(spark, base, "v > 5")
    assert res["rows_deleted"] == 1
    got = sorted(
        r.k for r in tl.read_version(
            spark, base, res["version"]
        ).collect()
    )
    assert got == [1, 2]


def test_delete_where_noop_and_full_file(spark, tmp_path):
    """No match -> no commit at all; deleting an entire file's rows
    publishes zero replacement files (the file just exits)."""
    base = str(tmp_path / "t")
    _ranged_table(spark, base)
    res = tl.delete_where(spark, base, "k > 1000", prune=("k", 1001, None))
    assert res["version"] is None and tl.latest_version(base) == 3
    res = tl.delete_where(
        spark, base, "k >= 10 AND k < 20", prune=("k", 10, 19)
    )
    assert res["rows_deleted"] == 10 and res["files_rewritten"] == 1
    with open(tl._entry_path(base, res["version"])) as fh:
        entry = json.load(fh)
    assert entry["files"] == [] and len(entry["removes"]) == 1
    assert tl.read_version(spark, base, res["version"]).count() == 20


def test_merge_into_update_insert_and_prune(spark, tmp_path):
    """Whole-row upsert: matched keys take source values exactly
    once, new keys insert, non-matching files are never rewritten."""
    base = str(tmp_path / "t")
    _ranged_table(spark, base)
    src = spark.createDataFrame(
        [(12, 999.0), (14, 888.0), (100, 1.0)], "k bigint, v double"
    )
    before = set(tl.manifest(base, 3))
    res = tl.merge_into(spark, base, src, keys=["k"], prune_col="k")
    assert res["files_total"] == 3 and res["files_rewritten"] == 1
    assert res["n_updated"] == 2 and res["n_inserted"] == 1
    after = set(tl.manifest(base, res["version"]))
    assert len(before - after) == 1  # only the k=10..19 file left
    rows = {
        r.k: r.v
        for r in tl.read_version(spark, base, res["version"]).collect()
    }
    assert len(rows) == 31
    assert rows[12] == 999.0 and rows[14] == 888.0 and rows[100] == 1.0
    assert rows[13] == 26.0  # untouched row in the rewritten file
    assert tl.read_version(spark, base, 3).count() == 30  # time travel
    with pytest.raises(ValueError, match="duplicate keys"):
        tl.merge_into(
            spark, base, src.unionByName(src.limit(1)), keys=["k"]
        )


def test_merge_into_empty_table_inserts_all(spark, tmp_path):
    base = str(tmp_path / "t")
    tl.init_table(base)
    src = _mk(spark, [(1, 1.0), (2, 2.0)])
    res = tl.merge_into(spark, base, src, keys=["k"])
    assert res["version"] == 1 and res["files_rewritten"] == 0
    assert res["n_updated"] == 0 and res["n_inserted"] == 2
    assert tl.read_version(spark, base, 1).count() == 2


def test_merge_serializable_vs_concurrent_append(spark, tmp_path):
    """THE isolation property: a rival append with a MATCHING key
    lands between snapshot and claim. retries=0 must raise (the
    merge provably missed that row); retries=1 must re-snapshot and
    fold the rival's row in — exactly one copy of the key survives,
    carrying the SOURCE value."""
    base = str(tmp_path / "t")
    _ranged_table(spark, base)
    src = _mk(spark, [(5, 555.0)])
    orig = tl.CLAIM["fn"]
    state = {"injected": False}

    def inject_rival_append(s, d):
        if not state["injected"]:
            state["injected"] = True
            rival = tl.write_data_files(
                _mk(spark, [(5, -1.0)]).coalesce(1), base, "rival"
            )
            assert tl.try_commit(
                base, tl.latest_version(base) + 1, rival, "R"
            )
        return orig(s, d)

    tl.CLAIM["fn"] = inject_rival_append
    try:
        with pytest.raises(tl.ConcurrentWriteError):
            tl.merge_into(spark, base, src, keys=["k"], retries=0)
        state["injected"] = True  # rival already landed
        res = tl.merge_into(spark, base, src, keys=["k"], retries=1)
    finally:
        tl.CLAIM["fn"] = orig
    # the retry saw BOTH k=5 copies (original file + rival append),
    # rewrote both files, and exactly one k=5 row survives: 555.0
    rows = [
        r.v
        for r in tl.read_version(spark, base, res["version"])
        .filter("k = 5").collect()
    ]
    assert rows == [555.0]
    assert res["files_rewritten"] == 2
    # 30 original + 1 rival dup - 2 matched copies + 1 source row
    assert tl.read_version(spark, base, res["version"]).count() == 30


def test_delete_conflict_raises_then_retry_wins(spark, tmp_path):
    """delete_where's claim is exact-version too: a rival append
    forces a fresh-snapshot retry whose scan covers the rival's rows
    (here: a matching one, deleted on the second pass)."""
    base = str(tmp_path / "t")
    _ranged_table(spark, base)
    orig = tl.CLAIM["fn"]
    state = {"injected": False}

    def inject(s, d):
        if not state["injected"]:
            state["injected"] = True
            rival = tl.write_data_files(
                _mk(spark, [(7, 7.5)]).coalesce(1), base, "rival"
            )
            assert tl.try_commit(
                base, tl.latest_version(base) + 1, rival, "R"
            )
        return orig(s, d)

    tl.CLAIM["fn"] = inject
    try:
        res = tl.delete_where(spark, base, "k = 7", retries=1)
    finally:
        tl.CLAIM["fn"] = orig
    # both k=7 rows (original + rival's) were visible to the retry
    assert res["rows_deleted"] == 2 and res["files_rewritten"] == 2
    assert tl.read_version(
        spark, base, res["version"]
    ).filter("k = 7").count() == 0


def test_checkpoint_folds_removes(spark, tmp_path):
    """A checkpoint written past a delete commit must fold the
    removal: the checkpointed manifest equals the full walk and the
    deleted file's stats are gone from the checkpoint body."""
    base = str(tmp_path / "t")
    _ranged_table(spark, base)
    res = tl.delete_where(
        spark, base, "k >= 10 AND k < 20", prune=("k", 10, 19)
    )
    tl.write_checkpoint(base, res["version"])
    assert tl.manifest(base, res["version"]) == tl.manifest_full_walk(
        base, res["version"]
    )
    with open(tl._ckpt_path(base, res["version"])) as fh:
        body = json.load(fh)
    removed = set(tl.manifest(base, 3)) - set(body["files"])
    assert len(removed) == 1
    assert not any(f in body.get("stats", {}) for f in removed)


def test_stream_source_raises_on_removes(spark, tmp_path):
    """The streaming reader refuses a window crossing a row-level
    rewrite instead of silently re-delivering rewritten rows."""
    base = str(tmp_path / "t")
    _ranged_table(spark, base)
    tl.delete_where(spark, base, "k = 3", prune=("k", 3, 3))
    cls = tl.make_table_log_datasource()
    reader = cls(options={"path": base}).streamReader(None)
    with pytest.raises(ValueError, match="row-level rewrite"):
        reader.partitions({"version": 0}, {"version": 4})


def test_stage_sliced_files_matches_per_slice_writes(spark, tmp_path):
    """Round-14: the single-job partitioned staging write must land
    each slice's exact rows in its own commit dir (one file per slice
    with single_file=True), the staging dir must be gone, and commits
    over the staged lists must time-travel identically to per-slice
    write_data_files commits."""
    import pyarrow.parquet as pq

    rows = [(i, float(i)) for i in range(1, 41)]
    df = _mk(spark, rows)
    base = str(tmp_path / "t")
    tl.init_table(base)
    from pyspark.sql import functions as F

    staged = tl.stage_sliced_files(df, base, F.col("k") % 3, ["a", "b", "c"])
    assert [len(fs) for fs in staged] == [1, 1, 1]  # single_file layout
    # no transient staging dir left behind for vacuum to see
    assert not [
        d for d in os.listdir(os.path.join(base, "data"))
        if d.startswith("_stage-")
    ]
    for i, fs in enumerate(staged):
        assert all(f"/data/{'abc'[i]}/" in f for f in fs)
        got = sorted(
            pq.read_table(fs[0]).to_pydict()["k"]
        )
        assert got == sorted(k for k, _v in rows if k % 3 == i)
    for fs in staged:
        tl.commit(base, fs, "A")
    assert tl.read_version(spark, base, 2).count() == sum(
        1 for k, _v in rows if k % 3 in (0, 1)
    )


def test_stage_sliced_files_empty_slice_yields_empty_list(spark, tmp_path):
    base = str(tmp_path / "t")
    tl.init_table(base)
    from pyspark.sql import functions as F

    df = _mk(spark, [(1, 1.0), (3, 3.0)])  # slice 0 (k%2==0) is empty
    staged = tl.stage_sliced_files(df, base, F.col("k") % 2, ["e", "o"])
    assert staged[0] == [] and len(staged[1]) == 1


def test_fused_aggs_match_per_frame_aggs(spark, tmp_path):
    """Round-14: fused_cents_aggs / fused_counts must be pointwise
    identical to per-frame aggregation, including the missing-group
    (0, 0) identity for an empty frame."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, 100.0 + i / 7.0) for i in range(1, 30)],
        "k bigint, o_totalprice double",
    )
    frames = [
        (1, df.filter(F.col("k") % 2 == 0)),
        (2, df.filter(F.col("k") % 2 == 1)),
        (3, df.filter(F.col("k") < 0)),  # empty
    ]
    fused = tl.fused_cents_aggs(frames)
    counts = tl.fused_counts(frames)
    for t, f in frames:
        r = f.agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ),
                F.lit(0).cast("long"),
            ).alias("cents"),
        ).first()
        assert fused.get(t, (0, 0)) == (r["n"], r["cents"])
        assert counts.get(t, 0) == r["n"]
    assert 3 not in fused and 3 not in counts  # empty frame -> no group


def test_copy_staged_orphan_invisible_and_vacuumable(spark, tmp_path):
    base = str(tmp_path / "t")
    tl.init_table(base)
    fs = tl.write_data_files(_mk(spark, [(1, 1.0)]), base, "c1")
    tl.commit(base, fs, "A")
    orph = tl.copy_staged_orphan(fs, base, "crashed")
    assert all(os.path.exists(f) for f in orph)
    assert tl.read_version(spark, base, 1).count() == 1  # invisible
    deleted, freed = tl.vacuum(base, min_age_sec=0.0)
    assert set(deleted) >= set(orph) and freed > 0


def _jobs_started(spark, fn, gid):
    """Spark jobs `fn` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, "table-log read planning")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_read_planning_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """Planning a read takes the schema from one footer on the
    driver: read_version (plain, pruned, fully pruned), read_changes
    (new rows and the empty poll) and compact's input scan start no
    Spark job. Spark's own inference runs a job per plan."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    for i in range(2):
        fs = tl.write_data_files(_mk(spark, [(i, 1.0 * i)]), base, f"c{i}")
        tl.commit(base, fs, "A", stats=tl.parquet_file_stats(fs, ["k"]))

    class Planned(Exception):
        pass

    def stop_before_write(df, path, tag):
        df.schema
        raise Planned

    def compact_scan():
        monkeypatch.setattr(tl, "write_data_files", stop_before_write)
        with pytest.raises(Planned):
            tl.compact(spark, base)

    plans = {
        "read_version": lambda: tl.read_version(spark, base, 2).schema,
        "read_version pruned": lambda: tl.read_version(
            spark, base, 2, prune=("k", 1, 1)).schema,
        "read_version fully pruned": lambda: tl.read_version(
            spark, base, 2, prune=("k", 50, 60)).schema,
        "read_changes": lambda: tl.read_changes(spark, base, 0).schema,
        "read_changes empty": lambda: tl.read_changes(spark, base, 2).schema,
        "compact input scan": compact_scan,
    }
    started = {
        name: _jobs_started(spark, fn, f"tlog-plan-{i}")
        for i, (name, fn) in enumerate(plans.items())
    }
    assert started == {name: 0 for name in plans}


def _spark_inferred(spark, files):
    return spark.read.parquet(*files).schema


def test_scan_schema_equals_spark_inference(spark, tmp_path):
    """For Spark-written files the footer schema is the one Spark
    infers, nested, decimal, date/time and non-null columns too."""
    df = spark.sql(
        "SELECT id AS k, CAST(id AS DECIMAL(12, 3)) AS d, "
        "CAST(id AS INT) AS i, 'x' AS s, DATE'2024-01-02' AS dt, "
        "TIMESTAMP'2024-01-02 03:04:05' AS ts, array(id, id) AS arr, "
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS st, "
        "map('m', id) AS mp FROM range(4)"
    )
    files = tl.write_data_files(df.repartition(2), str(tmp_path), "w")
    assert len(files) == 2
    got = tl.scan_parquet(spark, files)
    assert got.schema == _spark_inferred(spark, files)
    assert got.count() == 4


def test_scan_schema_is_smallest_paths_schema(spark, tmp_path):
    """Files with different columns: the schema is the smallest
    path's, whatever the list order, as in Spark's inference (no
    merge). With mergeSchema on, Spark's merged schema."""
    fa = tl.write_data_files(_mk(spark, [(1, 1.0)]), str(tmp_path), "a")
    fb = tl.write_data_files(
        spark.createDataFrame([(2, "y")], "k bigint, w string"),
        str(tmp_path), "b",
    )
    files = fb + fa
    got = tl.scan_parquet(spark, files).schema
    assert got == _spark_inferred(spark, fa)
    assert got == _spark_inferred(spark, files)
    assert got.fieldNames() == ["k", "v"]
    key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try:
        merged = tl.scan_parquet(spark, files).schema
        assert merged == _spark_inferred(spark, files)
        assert merged.fieldNames() == ["k", "v", "w"]
    finally:
        spark.conf.unset(key)


def test_scan_schema_without_spark_key(spark, tmp_path):
    """A file from another writer carries no Spark schema key, so
    the scan falls back to Spark's inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "other.parquet")
    pq.write_table(
        pa.table({
            "k": pa.array([1, 2], pa.int32()),
            "s": ["a", None],
            "ts": pa.array([0, 1], pa.timestamp("us")),
        }),
        f,
    )
    assert tl.SPARK_SCHEMA_KEY not in (pq.read_metadata(f).metadata or {})
    got = tl.scan_parquet(spark, [f])
    assert got.schema == _spark_inferred(spark, [f])
    assert sorted(r.k for r in got.collect()) == [1, 2]


def test_commit_conflict_rule_follows_entry_kind(tmp_path):
    """commit() picks the conflict rule from the entry's kind against
    the commits after `snapshot` (fake-file protocol test): an append
    lands past rivals, a row-level rewrite claims only snapshot + 1
    (an empty `removes` too), and a compaction passes rival appends
    but stops at a rival compaction."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    tl.commit(base, ["data/a/1.parquet"], "A")
    snap = tl.latest_version(base)
    tl.commit(base, ["data/b/2.parquet"], "B")  # rival append
    assert tl.commit(base, ["data/a/3.parquet"], "A", snapshot=snap) == 3
    for removes in (["data/a/1.parquet"], []):
        assert tl.commit(
            base, ["data/m/x.parquet"], "M", removes=removes, snapshot=snap
        ) is None
    assert tl.latest_version(base) == 3  # the lost rewrites left no entry
    v = tl.commit(
        base, ["data/c/all.parquet"], "C",
        compacts=tl.manifest(base, snap), snapshot=snap,
    )
    assert v == 4  # rival appends 2 and 3 keep their files
    assert sorted(tl.manifest(base, 4)) == [
        "data/a/3.parquet", "data/b/2.parquet", "data/c/all.parquet"
    ]
    with pytest.raises(tl.ConcurrentCompactionError, match="commit 4"):
        tl.commit(
            base, ["data/d/all.parquet"], "D",
            compacts=tl.manifest(base, 3), snapshot=3,
        )
    assert tl.latest_version(base) == 4
    assert tl.commit(
        base, ["data/m/y.parquet"], "M", removes=[], snapshot=4
    ) == 5


def test_publish_path_lives_in_commit():
    """Guard: commit() is the one library function that claims a
    version (try_commit) or writes a checkpoint (write_checkpoint).
    The only other try_commit callers allowed are @register op
    builders, which stage races on purpose (sink_table_log). A second
    publish path in table_log.py fails here."""
    import ast

    with open(tl.__file__) as fh:
        tree = ast.parse(fh.read())
    bad = []
    for top in tree.body:
        owner = getattr(top, "name", None)
        registered = any(
            isinstance(d, ast.Call)
            and getattr(d.func, "id", None) == "register"
            for d in getattr(top, "decorator_list", ())
        )
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            fn = getattr(f, "id", None) or getattr(f, "attr", None)
            if fn == "write_checkpoint" and owner != "commit":
                bad.append(f"{owner}:{node.lineno} calls write_checkpoint")
            if fn == "try_commit" and owner != "commit" and not registered:
                bad.append(f"{owner}:{node.lineno} calls try_commit")
    assert not bad, "publish paths outside commit():\n" + "\n".join(bad)


def test_compact_zorder_takes_max_from_committed_stats(spark, tmp_path):
    """compact_zorder reads MAX(col) from the snapshot's integer stats,
    so it starts fewer jobs than on a stat-less table (no aggregate)
    and writes the same bucket boundaries."""
    df = spark.range(1, 201).selectExpr("id AS k", "id * 2 AS v")
    ranges, jobs = {}, {}
    for with_stats in (True, False):
        base = str(tmp_path / f"t{with_stats}")
        tl.init_table(base)
        for i in range(2):
            fs = tl.write_data_files(
                df.filter(f"k % 2 = {i}").coalesce(1), base, f"i{i}"
            )
            stats = tl.parquet_file_stats(fs, ["k"]) if with_stats else None
            tl.commit(base, fs, "A", stats=stats)
        jobs[with_stats] = _jobs_started(
            spark, lambda: tl.compact_zorder(spark, base, "k", n_out=4),
            f"tlog-zorder-{with_stats}",
        )
        _files, stats, _ = tl._log_state(base, 3)
        ranges[with_stats] = sorted(tuple(b["k"]) for b in stats.values())
    assert ranges[True] == ranges[False] == [
        (1, 50), (51, 100), (101, 150), (151, 200)
    ]
    assert jobs[True] < jobs[False], jobs


def test_stream_source_streams_decimal_and_nested_columns(spark, tmp_path):
    """The stream source declares the schema Spark stored in the
    smallest committed file's footer, so decimal, array, struct, map
    and date columns stream, with the rows read_version returns."""
    base = str(tmp_path / "t")
    tl.init_table(base)
    df = spark.sql(
        "SELECT id AS k, CAST(id * 1.25 AS DECIMAL(12, 2)) AS d, "
        "array(id, id + 1) AS arr, "
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS st, "
        "map('m', id) AS mp, DATE'2024-01-02' AS dt FROM range(6)"
    )
    for i in range(2):
        fs = tl.write_data_files(
            df.filter(f"k % 2 = {i}").coalesce(1), base, f"c{i}"
        )
        tl.commit(base, fs, "A")
    cls = tl.make_table_log_datasource()
    assert cls(options={"path": base}).schema() == (
        "k bigint, d decimal(12,2), arr array<bigint>, "
        "st struct<a:bigint,b:string>, mp map<string,bigint>, dt date"
    )
    spark.dataSource.register(cls)
    q = (
        spark.readStream.format("lsd_table_log").option("path", base).load()
        .writeStream.format("memory").queryName("tlog_nested")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(spark.table("tlog_nested").collect(), key=lambda r: r.k)
    want = sorted(tl.read_version(spark, base, 2).collect(), key=lambda r: r.k)
    assert len(got) == 6 and got == want
