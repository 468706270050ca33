"""LLM-pipeline operator semantics (consolidated from the
round-4..7 files in round 10): sampling, splits, quantization,
ANN variants, embedding graph ops, corpus statistics."""


from __future__ import annotations


import numpy as np
import pandas as pd
from tests.conftest import SF_DIR
import hashlib
import math
import os
from lsd_spark.registry import QUERIES, load_all
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from lsd_spark.registry import ORACLES, QUERIES, load_all
from collections import Counter


load_all()


@pytest.fixture(scope="module")
def triangle_dir(tmp_path_factory):
    """11 vectors, dim 8, controlled cosines (exact float64 dots):
    vecs 0-3 identical (K4, pairwise cos 1); vec 4 is a hub at 45
    degrees between dims 2/3; vecs 5/6 are the orthogonal spokes
    (cos(hub, spoke) = 1/sqrt(2) >= 0.45, cos(spoke, spoke) = 0 —
    an open wedge); vecs 7-10 are mutually-orthogonal basis fillers
    with no edges at all."""
    vecs = np.zeros((11, 8), dtype=np.float32)
    vecs[0:4, 0] = 9.0
    vecs[4, 2] = 3.0
    vecs[4, 3] = 3.0
    vecs[5, 2] = 9.0
    vecs[6, 3] = 9.0
    for i, d in enumerate(range(4, 8)):
        vecs[7 + i, d] = 9.0
    tbl = pa.table(
        {
            "vec_id": pa.array(range(11), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * 11, pa.int32()),
        }
    )
    d = tmp_path_factory.mktemp("triangles")
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _docs() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_mix_temperature_weights_flatten(spark):
    from lsd_spark.registry import QUERIES, load_all

    load_all()
    got = QUERIES["llm_mix_temperature"](spark, SF_DIR).toPandas()
    assert abs(got.weight_ppm.sum() - 1_000_000) <= len(got)
    shares = got.toks / got.toks.sum()
    weights = got.weight_ppm / 1e6
    # alpha<1: sources below the mean token share gain weight,
    # sources above lose (monotone flattening)
    gain = weights.to_numpy() / shares.to_numpy()
    order = np.argsort(got.toks.to_numpy())
    assert (np.diff(gain[order]) <= 1e-9).all()
    # epochs_mil = weight / share (x1000): bigger for smaller sources
    assert got.epochs_mil.to_numpy()[order[0]] >= got.epochs_mil.to_numpy()[order[-1]]


def test_chunk_docs_coverage_and_fps(spark):
    from lsd_spark.llm.packing import CHUNK_LEN, CHUNK_STRIDE

    out = QUERIES["llm_chunk_docs"](spark, SF_DIR).toPandas()
    docs = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    text = dict(zip(docs.doc_id, docs.text))
    nch = dict(zip(docs.doc_id, docs.n_chars))
    # stride arithmetic + count per doc
    for doc_id, g in out.groupby("doc_id"):
        starts = g.start_pos.sort_values().to_numpy()
        assert starts[0] == 1
        assert ((starts[1:] - starts[:-1]) == CHUNK_STRIDE).all()
        n = nch[doc_id]
        want_last = max(n - (CHUNK_LEN - CHUNK_STRIDE), 1)
        assert starts[-1] + CHUNK_STRIDE > want_last  # no missing tail chunk
        # coverage: last chunk reaches the end of the doc
        assert starts[-1] + CHUNK_LEN - 1 >= n
    # fingerprints recompute from the raw text (sample)
    for r in out.head(50).itertuples(index=False):
        chunk = text[r.doc_id][r.start_pos - 1 : r.start_pos - 1 + CHUNK_LEN]
        assert r.chunk_len == len(chunk)
        assert r.chunk_fp == hashlib.md5(chunk.encode()).hexdigest()


def test_split_stratified_partitions_corpus(spark):
    out = QUERIES["llm_split_stratified"](spark, SF_DIR).toPandas()
    docs = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    assert out.n_docs.sum() == len(docs)
    assert out.n_chars.sum() == docs.n_chars.sum()
    shares = out.groupby("split").n_docs.sum() / len(docs)
    assert 0.70 <= shares["train"] <= 0.90
    assert shares.get("val", 0) > 0 and shares.get("test", 0) > 0
    # deterministic: a second build returns identical rows (in any order)
    again = QUERIES["llm_split_stratified"](spark, SF_DIR).toPandas()

    def rows(df):
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    pd.testing.assert_frame_equal(rows(out), rows(again))


def test_embed_quantize_recomputes_in_numpy(spark):
    from lsd_spark.llm.simsearch import QUANT_LEVELS

    out = QUERIES["llm_embed_quantize"](spark, SF_DIR).toPandas()
    emb = pd.read_parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    vecs = dict(zip(emb.vec_id, emb.embedding))
    assert len(out) == len(emb)
    for r in out.itertuples(index=False):
        e = np.asarray(vecs[r.vec_id], dtype=np.float64)
        mn, mx = e.min(), e.max()
        if mx > mn:
            q = np.floor((e - mn) * QUANT_LEVELS / (mx - mn) + 0.5).astype(np.int64)
        else:
            q = np.zeros(len(e), dtype=np.int64)
        assert (q >= 0).all() and (q <= QUANT_LEVELS).all()
        assert r.code_sum == q.sum()
        fp = hashlib.md5(",".join(str(int(x)) for x in q).encode()).hexdigest()
        assert r.code_fp == fp


def test_reservoir_sample_is_hash_smallest(spark):
    from lsd_spark.operators.aggregates import RESERVOIR_K

    out = QUERIES["agg_sample_reservoir"](spark, SF_DIR).toPandas()
    ev = pd.read_parquet(os.path.join(SF_DIR, "events.parquet"))
    ev = ev.assign(
        h=[hashlib.md5(f"{i}|rsv".encode()).hexdigest() for i in ev.event_id]
    )
    for et, g in ev.groupby("event_type"):
        want = set(
            g.sort_values(["h", "event_id"]).head(RESERVOIR_K).event_id
        )
        got = set(out.loc[out.event_type == et, "event_id"])
        assert got == want, f"{et}: sample membership diverged"
        assert len(got) == min(RESERVOIR_K, len(g))


def test_knn_ivf_sq8_close_to_ivf_raw(spark):
    """SQ8 refine ranks on reconstructed vectors: same buckets as
    knn_ivf, similar (not identical) top-k — at 8-bit resolution the
    neighbor overlap per query should be high."""
    raw = QUERIES["knn_ivf"](spark, SF_DIR).toPandas()
    sq8 = QUERIES["knn_ivf_sq8"](spark, SF_DIR).toPandas()
    assert set(sq8.vec_id) == set(raw.vec_id)
    overlaps = []
    for q in sorted(set(raw.vec_id)):
        a = set(raw.loc[raw.vec_id == q, "neighbor_id"])
        b = set(sq8.loc[sq8.vec_id == q, "neighbor_id"])
        overlaps.append(len(a & b) / len(a))
    assert sum(overlaps) / len(overlaps) >= 0.6, overlaps


def test_triangle_k4_and_open_wedge(spark, triangle_dir):
    out = QUERIES["graph_triangle_count"](spark, triangle_dir).toPandas()
    by_node = {int(r.node): (int(r.degree), int(r.n_tri)) for r in out.itertuples(index=False)}
    # K4: every member has degree >= 3 (its three clique partners)
    # and EXACTLY C(3,2) = 3 triangles — identical embeddings pair
    # through the collapse path, so these edges are bucketing-proof
    for n in range(4):
        assert by_node[n][1] == 3, by_node
        assert by_node[n][0] == 3, by_node
    # total participation is 3 per triangle
    assert sum(t for _, t in by_node.values()) % 3 == 0
    # the open wedge never closes: the spokes are orthogonal, so
    # whatever bucketing did to the hub edges, no spoke-spoke
    # triangle can exist
    for n in (5, 6):
        if n in by_node:
            assert by_node[n][1] == 0, by_node
    # orthogonal fillers form no edges: degree table excludes them
    assert all(n not in by_node for n in range(7, 11)), by_node


def test_triangle_matches_duckdb_on_crafted_fixture(spark, triangle_dir):
    got = QUERIES["graph_triangle_count"](spark, triangle_dir).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{triangle_dir}/embeddings.parquet'"
    )
    want = con.sql(ORACLES["graph_triangle_count"]).df()
    con.close()
    g = sorted(map(tuple, got.astype(int).itertuples(index=False)))
    w = sorted(map(tuple, want.astype(int).itertuples(index=False)))
    assert g == w


def test_filter_rules_recompute_and_nondegenerate(spark):
    out = QUERIES["llm_filter_rules"](spark, SF_DIR).toPandas()
    docs = _docs()
    reasons = []
    for _, d in docs.iterrows():
        words = d.text.split(" ")
        nw, nt = len(words), len(set(words))
        nl = len(d.text.replace(" ", ""))
        if d.n_chars < 150:
            reasons.append("too_short")
        elif nw < 30:
            reasons.append("too_few_words")
        elif nt * 100 < nw * 35:
            reasons.append("low_diversity")
        elif nl * 10 > nw * 120:
            reasons.append("words_too_long")
        elif nl * 10 < nw * 20:
            reasons.append("words_too_short")
        else:
            reasons.append("ok")
    exp = pd.Series(reasons, index=docs.doc_id.values)
    got = out.set_index("doc_id").reason.sort_index()
    assert (got.values == exp.sort_index().values).all()
    assert (out.kept == (out.reason == "ok")).all()
    assert 0 < out.kept.sum() < len(out)


def test_importance_sampling_membership(spark):
    out = QUERIES["llm_sample_importance"](spark, SF_DIR).toPandas()
    docs = _docs()
    kept = set()
    for _, d in docs.iterrows():
        ntok = len(d.text.split(" "))
        score = min(d.n_chars / 400.0, 1.0) * 0.5 + min(ntok / 80.0, 1.0) * 0.5
        p_u = math.floor(score * 1_000_000)
        u = _md5int(f"{d.doc_id}imp") % 1_000_000
        if u < p_u:
            kept.add(d.doc_id)
    assert set(out.doc_id) == kept
    assert 0 < len(kept) < len(docs)


def test_bpe_pairs_match_counter(spark):
    out = QUERIES["llm_bpe_pairs"](spark, SF_DIR).toPandas()
    c: Counter = Counter()
    for text in _docs().text:
        for w in text.split(" "):
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert list(zip(out.pair, out.cnt)) == top


def test_embed_stats_matches_numpy(spark):
    out = QUERIES["llm_embed_stats"](spark, SF_DIR).toPandas()
    emb = pd.read_parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    for label, sub in emb.groupby("label"):
        norms = np.array(
            [
                math.sqrt(sum(float(x) * float(x) for x in v))
                for v in sub.embedding
            ]
        )
        row = out[out.label == label]
        assert row.n.iloc[0] == len(sub)
        assert row.avg_norm_milli.iloc[0] == math.floor(
            norms.mean() * 1000 + 0.5
        )
        assert row.n_low.iloc[0] == (norms < 0.5).sum()
        assert row.n_high.iloc[0] == (norms > 2.0).sum()


def test_source_overlap_sets(spark):
    out = QUERIES["llm_source_overlap"](spark, SF_DIR).toPandas()
    docs = _docs()
    vocab = {
        s: set(w for t in sub.text for w in t.split(" "))
        for s, sub in docs.groupby("source")
    }
    srcs = sorted(vocab)
    assert len(out) == len(srcs) * (len(srcs) - 1) // 2
    for _, r in out.iterrows():
        inter = len(vocab[r.src_a] & vocab[r.src_b])
        union = len(vocab[r.src_a] | vocab[r.src_b])
        assert r.n_common == inter
        assert r.jaccard_x1e4 == math.floor(inter * 10000.0 / union + 0.5)


def test_bpe_apply_zero_merges_identity_and_monotone(spark):
    """Property pins for llm_bpe_apply (round-12): applying ZERO
    merges counts exactly the characters of every whitespace token
    (the identity baseline), each extra merge is monotone
    non-increasing in token count, and the registered op's output
    matches a pure-python greedy reimplementation on sample docs."""
    from lsd_spark.llm.textstats import (
        BPE_APPLY_K,
        bpe_merge_table,
        bpe_tokens_expr,
    )
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)

    def tok_counts(merges):
        ntok = bpe_tokens_expr(merges)
        agg = F.expr(
            "aggregate(filter(split(text, ' '), w -> length(w) >= 1),"
            f" 0L, (acc, w) -> acc + ({ntok}), acc -> acc)"
        )
        return {
            r.doc_id: r.t
            for r in docs.select("doc_id", agg.alias("t")).collect()
        }

    merges = bpe_merge_table(spark, SF_DIR)
    assert len(merges) == BPE_APPLY_K

    # zero merges == whitespace-token character counts
    zero = tok_counts([])
    chars = {
        r.doc_id: r.c
        for r in docs.select(
            "doc_id",
            F.expr(
                "aggregate(filter(split(text, ' '), w -> length(w) >= 1),"
                " 0L, (acc, w) -> acc + length(w), acc -> acc)"
            ).alias("c"),
        ).collect()
    }
    assert zero == chars

    # each merge round is monotone non-increasing
    prev = zero
    for k in range(1, BPE_APPLY_K + 1):
        cur = tok_counts(merges[:k])
        assert all(cur[d] <= prev[d] for d in cur)
        prev = cur

    # python third opinion: greedy leftmost non-overlapping merges
    def py_tokens(text):
        total = 0
        for w in text.split(" "):
            if not w:
                continue
            syms = list(w)
            for m in merges:
                out = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == m[0]
                        and syms[i + 1] == m[1]
                    ):
                        out.append(m)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            total += len(syms)
        return total

    got = {
        r.doc_id: r.n_bpe_tokens
        for r in QUERIES["llm_bpe_apply"](spark, SF_DIR).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        assert got[r.doc_id] == py_tokens(r.text), r.doc_id
