"""Dedup-family semantics on crafted corpora (consolidated from
the round-6..7 files in round 10): minhash, url, substring,
containment, incremental, phash, cluster transitivity."""


from __future__ import annotations


import os
import pandas as pd
from pyspark.sql import functions as F
import pytest
from lsd_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR, SF_SMALL
import hashlib
import math
import numpy as np
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from lsd_spark.registry import ORACLES, QUERIES, load_all
from collections import Counter


load_all()


def _shingles(text: str) -> set[str]:
    t = text.split(" ")
    hi = max(len(t) - 2, 1)
    return {" ".join(t[i : i + 3]) for i in range(hi)}


@pytest.fixture(scope="module")
def containment_dir(tmp_path_factory):
    """doc 1 = 30 unique tokens; doc 2 = doc 1's text + 60 more
    unique tokens (the paste-into-longer-page case); doc 3 unrelated."""
    short = " ".join(f"w{i}" for i in range(30))
    long = short + " " + " ".join(f"x{i}" for i in range(60))
    other = " ".join(f"z{i}" for i in range(40))
    d = tmp_path_factory.mktemp("containment")
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [short, long, other]}
    ).to_parquet(os.path.join(d, "documents.parquet"))
    return str(d)


def _docs() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))


def _doc_shingles(text: str) -> set:
    t = text.split(" ")
    n = max(len(t) - 2, 1)
    return {" ".join(t[i : i + 3]) for i in range(n)}


def test_substring_dedup_crafted(spark, tmp_path):
    from lsd_spark.llm.dedup import SUBSTR_DF_CAP, SUBSTR_K

    run = " ".join(f"tok{i}" for i in range(SUBSTR_K))  # exactly K tokens
    run_minus_1 = " ".join(f"tok{i}" for i in range(SUBSTR_K - 1))
    hot = " ".join(f"hot{i}" for i in range(SUBSTR_K))
    rows = [
        (0, f"alpha beta {run} gamma"),   # shares the K-run with doc 1
        (1, f"delta {run} epsilon zeta"),
        (2, f"eta {run_minus_1} theta"),  # only K-1 shared -> no pair
        (3, f"iota {run_minus_1} kappa"),
    ]
    # df-capped boilerplate: the same K-gram in > SUBSTR_DF_CAP docs
    rows += [(100 + i, f"pad{i} {hot}") for i in range(SUBSTR_DF_CAP + 5)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join(tmp_path, "documents.parquet")
    )
    out = QUERIES["llm_dedup_substring"](spark, str(tmp_path)).toPandas()
    got = {(r.doc_a, r.doc_b) for r in out.itertuples(index=False)}
    assert (0, 1) in got
    assert all(a < 100 and b < 100 for a, b in got), (
        f"df-capped boilerplate gram leaked pairs: {sorted(got)[:5]}"
    )
    assert (2, 3) not in got
    n = out.set_index(["doc_a", "doc_b"]).loc[(0, 1), "n_shared_grams"]
    assert n == 1


def test_incremental_dedup_crafted(spark, tmp_path):
    # doc 5 is a token-permutation of corpus doc 1 -> dup_corpus;
    # docs 10 and 15 are bag-equal to each other but new to the
    # corpus -> keep-first (10 fresh, 15 dup_batch); doc 20 is fresh.
    rows = [
        (1, "red green blue"),          # corpus
        (2, "one two three"),           # corpus
        (5, "blue red green"),          # batch: permutation of 1
        (10, "four five six"),          # batch: first of the twin pair
        (15, "six five four"),          # batch: bag-equal to 10
        (20, "seven eight nine"),       # batch: fresh
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join(tmp_path, "documents.parquet")
    )
    out = QUERIES["llm_dedup_incremental"](spark, str(tmp_path)).toPandas()
    got = dict(zip(out.doc_id, out.status))
    assert got == {5: "dup_corpus", 10: "fresh", 15: "dup_batch", 20: "fresh"}


def test_minhash_md5_identical_docs_pair(spark, tmp_path):
    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    rows = [(1, base), (2, base), (3, other)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join(tmp_path, "documents.parquet")
    )
    out = QUERIES["llm_dedup_minhash_md5"](spark, str(tmp_path)).toPandas()
    got = {(r.doc_a, r.doc_b): (r.jaccard, r.mh_est) for r in out.itertuples(index=False)}
    assert got == {(1, 2): (1.0, 1.0)}


def test_minhash_md5_jaccard_recomputes(spark):
    out = QUERIES["llm_dedup_minhash_md5"](spark, SF_DIR).toPandas()
    assert len(out) > 0, "fixture produced no near-dup pairs"
    docs = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    text = dict(zip(docs.doc_id, docs.text))
    for r in out.itertuples(index=False):
        sa, sb = _shingles(text[r.doc_a]), _shingles(text[r.doc_b])
        want = round(len(sa & sb) / len(sa | sb), 4)
        assert abs(r.jaccard - want) < 1e-9
        assert 0.0 <= r.mh_est <= 1.0


def _naive_dedup_near(spark, sf_dir):
    """The reference plan llm_dedup_near's rows are pinned against
    (the op is rows-only: no oracle covers its pair set): the band
    self-join carries both shingle arrays, a wide dropDuplicates
    dedups the pairs, and the Jaccard refine runs last."""
    from lsd_spark.catalog import load
    from lsd_spark.llm.dedup import (
        JACCARD_T, N_BANDS, ROWS_PER_BAND, _shingled, minhash_signature,
    )

    docs = load(spark, sf_dir, "documents")
    sig = _shingled(docs).select(
        "doc_id", "shingles", minhash_signature(F.col("shingles")).alias("mh")
    )
    bh = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.element_at("mh", b * ROWS_PER_BAND + r + 1) for r in range(ROWS_PER_BAND)]
            ).alias("bh"),
        )
        for b in range(N_BANDS)
    ]
    bands = sig.select(
        "doc_id", "shingles", F.explode(F.array(*bh)).alias("bk")
    ).select("doc_id", "shingles", "bk.band", "bk.bh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.shingles").alias("sh_a"),
            F.col("b.shingles").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.withColumn("jaccard", F.round(jac.cast("double"), 4))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


def test_dedup_near_matches_reference_plan(spark):
    got = sorted(map(tuple, QUERIES["llm_dedup_near"](spark, SF_SMALL).collect()))
    ref = sorted(map(tuple, _naive_dedup_near(spark, SF_SMALL).collect()))
    assert got == ref
    assert got, "fixture produced no near-dup pairs"


def test_minhash_signature_uses_every_seed(spark):
    """Each of the N_HASHES minhashes hashes with its own seed: one
    document's values are not all equal, and the plan carries one
    distinct seed literal per xxhash64."""
    import re

    from lsd_spark.llm.dedup import N_HASHES, minhash_signature

    docs = spark.createDataFrame(
        [(["a b c", "b c d", "c d e", "d e f"],)], "sh array<string>"
    )
    sig = docs.select(minhash_signature(F.col("sh")).alias("mh"))
    mh = sig.first().mh
    assert len(mh) == N_HASHES
    assert len(set(mh)) > 1, "all minhashes equal"
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    seeds = re.findall(r"xxhash64\(lambda [^,]+, (\d+), 42\)", plan)
    assert sorted(map(int, seeds)) == list(range(N_HASHES))


def test_url_dedup_canonical_invariants(spark):
    out = QUERIES["llm_dedup_url"](spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out.n_docs > 1).all()
    for u in out.canonical_url:
        assert u == u.lower()
        assert ":443" not in u and "#" not in u and "utm_" not in u
        assert not u.endswith("/") and not u.endswith("?")
        assert u.startswith("https://www.example.com/")


def test_mm_phash_dedup_groups_match_exact_text_groups(spark):
    """The image derives from md5(text), so docs with identical text
    MUST share a pHash group; and every reported group has >1 member
    with keep_id == min member."""
    out = QUERIES["mm_phash_dedup"](spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out.n_images > 1).all()
    docs = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    # exact-duplicate texts -> identical digest -> identical image
    dup_texts = docs.groupby("text").doc_id.agg(["count", "min"])
    dup_texts = dup_texts[dup_texts["count"] > 1]
    assert dup_texts["count"].sum() <= out.n_images.sum()


def test_dedup_cluster_is_transitive_closure_of_pairs(spark):
    """Clusters == connected components of the thresholded MinHash
    pair graph (recomputed in pure python union-find)."""
    pairs = QUERIES["llm_dedup_minhash_md5"](spark, SF_DIR).toPandas()
    out = QUERIES["llm_dedup_cluster"](spark, SF_DIR).toPandas()
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.doc_a, pairs.doc_b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {
        (cid, len(m), hashlib.md5(",".join(map(str, sorted(m))).encode()).hexdigest())
        for cid, m in comps.items()
        if len(m) > 1
    }
    got = {(r.cluster_id, r.n_docs, r.member_fp) for r in out.itertuples(index=False)}
    assert got == want


def test_containment_short_inside_long(spark, containment_dir):
    out = QUERIES["llm_dedup_containment"](spark, containment_dir).toPandas()
    got = {(int(r.doc_a), int(r.doc_b)): float(r.containment)
           for r in out.itertuples(index=False)}
    # every 3-shingle of the short doc appears verbatim in the long
    # one (the junction shingles belong only to the long doc)
    assert got == {(1, 2): 1.0}
    # the reverse direction is far below threshold: 28 shared of the
    # long doc's 88 shingles
    assert (2, 1) not in got


def test_containment_is_invisible_to_jaccard(spark, containment_dir):
    """The motivating property: the same pair has Jaccard 28/88 ~=
    0.32 < 0.5, so the symmetric n-gram dedup does NOT emit it."""
    out = QUERIES["llm_dedup_ngram"](spark, containment_dir).toPandas()
    pairs = {(int(r.doc_a), int(r.doc_b)) for r in out.itertuples(index=False)}
    assert (1, 2) not in pairs and (2, 1) not in pairs


def test_ngram_novelty_first_doc_attribution(spark):
    out = QUERIES["llm_ngram_novelty"](spark, SF_DIR).toPandas()
    docs = _docs().sort_values("doc_id")
    first = {}
    for _, d in docs.iterrows():
        for s in _doc_shingles(d.text):
            first.setdefault(s, d.doc_id)
    for _, d in docs.iterrows():
        sh = _doc_shingles(d.text)
        novel = sum(1 for s in sh if first[s] == d.doc_id)
        row = out[out.doc_id == d.doc_id]
        assert row.n_shingles.iloc[0] == len(sh)
        assert row.n_novel.iloc[0] == novel
    # the first document is 100% novel by construction
    d0 = out[out.doc_id == docs.doc_id.iloc[0]]
    assert d0.novelty_x1e4.iloc[0] == 10000


def test_minhash_signature_pass_is_parallel(spark):
    """Round-13 parallelism pin: the MinHash signature projection —
    H x |shingle instances| md5 evaluations, the heaviest compute of
    the dedup surface — must not collapse onto the cached corpus's
    single input partition (measured 4.4 s serial vs 0.6 s spread at
    sf0.1). The spread guard repartitions only when the input has
    fewer partitions than cores, so at scale (input already split)
    the pass stays map-only."""
    from lsd_spark.llm import dedup as dd
    from lsd_spark.registry import _PLAN_CACHE, drop_plans_matching

    drop_plans_matching("ckpt:minhash")
    dd._minhash_hits(spark, SF_DIR)
    sig = next(
        df for k, df in _PLAN_CACHE.items()
        if "ckpt:minhash_sig" in k[2] or "ckpt:minhash_rsig" in k[2]
    )
    dp = spark.sparkContext.defaultParallelism
    if dp > 1:
        assert sig.rdd.getNumPartitions() >= min(dp, 8)
