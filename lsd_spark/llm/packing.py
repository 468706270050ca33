"""Training-batch assembly ops: sequence packing and source mixing —
the last mile of an LLM data pipeline (after filtering + dedup, the
corpus is packed into fixed token budgets and mixed across sources
at target rates).

Scale notes baked into the shapes:
- packing needs a running token total in a defined order. A single
  global ordered window is a one-partition funnel at 100 TB, so the
  corpus is packed per SHARD (hash of doc_id): each shard's cumsum
  is an independent window partition, bins never cross shards, and
  shard count scales with the cluster. This mirrors how real
  pretraining pipelines pack per output file.
- mixing is a pure map-side filter on a portable deterministic hash
  (same reproducibility contract as llm_sample_hash): no shuffle
  until the audit aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.llm.dedup import HASH60_DUCK, HASH60_SPARK
from lsd_spark.registry import register

N_SHARDS = 8
TOKEN_BUDGET = 2048  # tokens per packed sequence bin


@register(
    "llm_pack_sequences",
    oracle=(
        "SELECT doc_id, shard, "
        f"CAST(shard * 100000 + FLOOR((cum - n_tokens) / {TOKEN_BUDGET}.0) AS BIGINT) AS bin_id, "
        "n_tokens FROM ("
        "SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
        "SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER ("
        "PARTITION BY doc_id % 8 ORDER BY doc_id) AS cum FROM documents) "
        "ORDER BY doc_id"
    ),
)
def llm_pack_sequences(spark, sf_dir):
    """Sequence packing: assign each document to a token-budget bin
    (TOKEN_BUDGET whitespace tokens) by running offset within its
    shard, in doc_id order. bin_id = shard * 100000 + local bin, so
    bins are globally unique and shard-local. A doc lands in the bin
    where its first token starts (contiguous concat-then-chunk
    packing, the GPT-style pretraining layout)."""
    docs = load(spark, sf_dir, "documents")
    shard = (F.col("doc_id") % N_SHARDS).cast("bigint")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    w = Window.partitionBy("shard").orderBy("doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), n_tokens.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "shard",
            (
                F.col("shard") * 100000
                + F.floor((F.col("cum") - F.col("n_tokens")) / float(TOKEN_BUDGET))
            ).cast("bigint").alias("bin_id"),
            "n_tokens",
        )
    )


# per-source keep rate in percent, derived arithmetically from the
# source index so both engines compute it (a real pipeline would
# broadcast a configured dict; the formula stands in for it):
# src<k>  ->  10 + (7k mod 90) percent
_RATE_SQL = "(10 + (CAST(substring(source, 4) AS INTEGER) * 7) % 90)"


@register(
    "llm_mix_sources",
    oracle=(
        "SELECT source, count(*) AS kept, "
        f"{_RATE_SQL} AS target_pct FROM documents "
        "WHERE (" + HASH60_DUCK.format(t="CAST(doc_id AS VARCHAR) || source") + ") % 100 "
        f"< {_RATE_SQL} "
        "GROUP BY source ORDER BY source"
    ),
)
def llm_mix_sources(spark, sf_dir):
    """Deterministic source mixing: each source kept at its target
    rate via the portable content hash — the same doc survives on
    any engine, any run, any partitioning. Map-only filter; the
    output is the per-source audit (kept count vs target rate)."""
    docs = load(spark, sf_dir, "documents")
    rate = 10 + (F.substring("source", 4, 10).cast("int") * 7) % 90
    h = F.expr(HASH60_SPARK.format(t="CAST(doc_id AS STRING) || source"))
    return (
        docs.filter((h % 100) < rate)
        .groupBy("source")
        .agg(F.count("*").alias("kept"), F.first(rate).alias("target_pct"))
    )


TESTSET_MAX_ID = 50
SHINGLE_W = 5


@register(
    "llm_decontaminate",
    oracle=(
        "WITH sh AS (SELECT doc_id, unnest(list_transform("
        f"generate_series(1, len(w) - {SHINGLE_W - 1}), "
        f"i -> array_to_string(w[i:i+{SHINGLE_W - 1}], ' '))) AS s "
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents "
        f"WHERE len(string_split(text, ' ')) >= {SHINGLE_W})), "
        f"t AS (SELECT DISTINCT s FROM sh WHERE doc_id < {TESTSET_MAX_ID}) "
        "SELECT sh.doc_id, count(*) AS n_hits FROM sh JOIN t USING (s) "
        f"WHERE sh.doc_id >= {TESTSET_MAX_ID} GROUP BY sh.doc_id ORDER BY doc_id"
    ),
)
def llm_decontaminate(spark, sf_dir):
    """Train/test decontamination — the canonical pre-training check:
    flag every training document sharing a SHINGLE_W-word shingle
    with the held-out set (here: doc_id < TESTSET_MAX_ID stands in
    for the eval benchmark). Test shingles are DISTINCT and broadcast
    (eval sets are tiny vs the corpus); the train side streams
    through an equi-join on the shingle — at 100 TB this is one scan
    + broadcast probe, no shuffle of the corpus."""
    docs = load(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= SHINGLE_W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {SHINGLE_W - 1}), "
                    f"i -> concat_ws(' ', slice(w, i, {SHINGLE_W})))"
                )
            ).alias("s"),
        )
    )
    test_sh = base.filter(F.col("doc_id") < TESTSET_MAX_ID).select("s").distinct()
    return (
        base.filter(F.col("doc_id") >= TESTSET_MAX_ID)
        .join(F.broadcast(test_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@register(
    "llm_repetition_score",
    oracle=(
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, "
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct, "
        "ROUND(1.0 - len(list_distinct(string_split(text, ' '))) * 1.0 / "
        "len(string_split(text, ' ')), 4) AS rep_ratio "
        "FROM documents ORDER BY doc_id"
    ),
)
def llm_repetition_score(spark, sf_dir):
    """Repetition/boilerplate score: 1 - distinct-word ratio. High
    values mark template/boilerplate docs a quality gate drops.
    Map-only (no shuffle)."""
    docs = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct"),
        F.round(1.0 - F.size(F.array_distinct(w)) / F.size(w), 4).alias("rep_ratio"),
    )


MM_QSCORE_T = 0.5
MM_SAMPLE_PCT = 50
_QSCORE_SQL = (
    "CAST(FLOOR((LEAST(n_chars / 400.0, 1.0) * 0.5 + "
    "LEAST(len(string_split(text, ' ')) / 80.0, 1.0) * 0.5) * 10000 + 0.5) / 10000 "
    "AS DOUBLE)"
)


def _mm_pipeline_oracle() -> str:
    from lsd_spark.llm.dedup import EMBCOS_T, embcos_candidate_pairs_sql

    return (
        # 1. semantic near-dup victims (higher id of each pair) via the
        #    SAME IVF-bucketed candidates the engine uses
        f"WITH dup AS (SELECT DISTINCT vec_b AS doc_id FROM "
        f"({embcos_candidate_pairs_sql()}) WHERE sim >= {EMBCOS_T}), "
        # 2. quality gate + dedup + deterministic sample
        "kept AS (SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_tok "
        "FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id "
        f"WHERE {_QSCORE_SQL} >= {MM_QSCORE_T} AND dup.doc_id IS NULL "
        "AND (" + HASH60_DUCK.format(t="CAST(d.doc_id AS VARCHAR) || 'mm'") + ") % 100 "
        f"< {MM_SAMPLE_PCT}) "
        # 3. per-lang audit
        "SELECT lang, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens "
        "FROM kept GROUP BY lang ORDER BY lang"
    )


@register("llm_pipeline_mm", oracle=_mm_pipeline_oracle())
def llm_pipeline_mm(spark, sf_dir):
    """End-to-end MULTIMODAL curation job: quality gate (length/
    density score) -> semantic near-dup removal through the
    IVF-bucketed embedding pairs (vectors joined on doc_id=vec_id,
    higher id of each pair dropped) -> deterministic hash subsample
    -> per-lang token audit. One lazy plan: the anti-join against
    dup victims broadcasts (duplicate sets are small), the gate and
    sample are map-side, the audit is one combined agg — the shape a
    100 TB curation run has."""
    from lsd_spark.llm.dedup import embcos_near_pairs

    docs = load(spark, sf_dir, "documents")
    dup = (
        embcos_near_pairs(spark, sf_dir)
        .select(F.col("vec_b").alias("dup_id"))
        .distinct()
    )
    ntok = F.size(F.split("text", " "))
    score = (
        F.least(F.col("n_chars") / 400.0, F.lit(1.0)) * 0.5
        + F.least(ntok / 80.0, F.lit(1.0)) * 0.5
    )
    q4 = (F.floor(score * 10000 + F.lit(0.5)) / 10000).cast("double")
    h = F.expr(HASH60_SPARK.format(t="CAST(doc_id AS STRING) || 'mm'"))
    return (
        docs.join(F.broadcast(dup), docs.doc_id == F.col("dup_id"), "left_anti")
        .filter((q4 >= MM_QSCORE_T) & ((h % 100) < MM_SAMPLE_PCT))
        .select("lang", ntok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


STRATUM_N = 5


@register(
    "llm_sample_stratified",
    oracle=(
        "SELECT doc_id, lang FROM ("
        "SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang "
        "ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'strat'), 1, 15))::BIGINT, "
        "doc_id) AS rn FROM documents) "
        f"WHERE rn <= {STRATUM_N} ORDER BY lang, doc_id"
    ),
)
def llm_sample_stratified(spark, sf_dir):
    """Stratified sampling with EXACT per-stratum counts: the first
    STRATUM_N docs per language in deterministic hash order — every
    engine, every run, every partitioning picks the same docs (the
    eval-set construction primitive; rand()-based sampling guarantees
    neither exactness nor reproducibility). Per-stratum window over
    the hash; at 100 TB strata are the window partitions, no global
    funnel."""
    docs = load(spark, sf_dir, "documents")
    h = F.expr(HASH60_SPARK.format(t="CAST(doc_id AS STRING) || 'strat'"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATUM_N)
        .select("doc_id", "lang")
    )


MIX_ALPHA = 0.7  # temperature exponent (multilingual-LM convention)


@register(
    "llm_mix_temperature",
    oracle=(
        "WITH s AS (SELECT source, COUNT(*) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS toks FROM documents GROUP BY source) "
        "SELECT source, n_docs, toks, "
        f"CAST(FLOOR(pow(toks, {MIX_ALPHA}) / "
        f"SUM(pow(toks, {MIX_ALPHA})) OVER () * 1000000 + 0.5) AS BIGINT) "
        "AS weight_ppm, "
        f"CAST(FLOOR(pow(toks, {MIX_ALPHA}) / "
        f"SUM(pow(toks, {MIX_ALPHA})) OVER () "
        "* SUM(toks) OVER () / toks * 1000 + 0.5) AS BIGINT) AS epochs_mil "
        "FROM s ORDER BY source"
    ),
)
def llm_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing: sampling weight w_s ∝
    (token mass)^alpha, alpha < 1 — the standard upsample-the-tail
    recipe for multilingual/multi-source pretraining mixes; the
    per-source epoch count (how many passes the sampler makes over
    each source at those weights) is the audit a data engineer
    actually reads. Complements llm_mix_sources (fixed rates,
    per-doc hash filter) with the weight DERIVATION step.

    Plan: one map-side-combined aggregate to per-source mass (rows =
    |sources|, tiny at any scale), then window totals over that tiny
    aggregate — the corpus is touched exactly once; the 1e-6 weight
    grid absorbs cross-engine pow/summation ulps."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("toks")
    )
    wall = Window.partitionBy()
    p = F.pow(F.col("toks"), MIX_ALPHA)
    tot_p = F.sum(p).over(wall)
    tot_toks = F.sum("toks").over(wall)
    return s.select(
        "source",
        "n_docs",
        "toks",
        F.floor(p / tot_p * 1000000 + 0.5).cast("bigint").alias("weight_ppm"),
        F.floor(p / tot_p * tot_toks / F.col("toks") * 1000 + 0.5)
        .cast("bigint")
        .alias("epochs_mil"),
    )


CHUNK_LEN = 200  # chars per chunk
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


@register(
    "llm_chunk_docs",
    oracle=(
        "WITH starts AS (SELECT doc_id, n_chars, unnest(generate_series(1, "
        f"greatest(n_chars - {CHUNK_LEN - CHUNK_STRIDE}, 1), {CHUNK_STRIDE})) AS st "
        "FROM documents), "
        f"ch AS (SELECT doc_id, st, substr(text, st, {CHUNK_LEN}) AS chunk "
        "FROM starts JOIN documents USING (doc_id)) "
        "SELECT doc_id, CAST((st - 1) / " + str(CHUNK_STRIDE) + " AS BIGINT) AS chunk_idx, "
        "CAST(st AS BIGINT) AS start_pos, CAST(len(chunk) AS BIGINT) AS chunk_len, "
        "md5(chunk) AS chunk_fp "
        "FROM ch ORDER BY doc_id, chunk_idx"
    ),
)
def llm_chunk_docs(spark, sf_dir):
    """Sliding-window document chunking (RAG / context-window prep):
    each doc explodes into CHUNK_LEN-char windows every CHUNK_STRIDE
    chars (50-char overlap), emitting the chunk index, offset,
    length, and content fingerprint. Pure generate+explode map — no
    shuffle — and the fan-out factor is n_chars/stride, so output
    partitioning follows input partitioning; at 100 TB chunking is
    IO-bound, exactly as it should be. Fingerprint instead of raw
    chunk text keeps the result row narrow (the pattern for auditing
    a chunker without re-shipping the corpus)."""
    docs = load(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("n_chars") - F.lit(CHUNK_LEN - CHUNK_STRIDE), F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    ch = docs.select(
        "doc_id", "text", F.explode(starts).alias("st")
    ).withColumn("chunk", F.expr(f"substr(text, st, {CHUNK_LEN})"))
    return ch.select(
        "doc_id",
        ((F.col("st") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.col("st").cast("long").alias("start_pos"),
        F.length("chunk").cast("long").alias("chunk_len"),
        F.md5(F.col("chunk").cast("binary")).alias("chunk_fp"),
    )


SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 90  # 80-90 val, 90+ test


_SPLIT_BUCKET_DUCK = HASH60_DUCK.format(t="CAST(doc_id AS VARCHAR) || '|split'") + " % 100"
_SPLIT_BUCKET_SPARK = HASH60_SPARK.format(t="concat(CAST(doc_id AS STRING), '|split')") + " % 100"


@register(
    "llm_split_stratified",
    oracle=(
        "WITH tagged AS (SELECT lang, n_chars, CASE "
        f"WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_VAL_PCT} THEN 'val' "
        "ELSE 'test' END AS split FROM documents) "
        "SELECT lang, split, count(*) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS n_chars "
        "FROM tagged GROUP BY lang, split ORDER BY lang, split"
    ),
)
def llm_split_stratified(spark, sf_dir):
    """Deterministic train/val/test split: bucket = hash60(md5(id ||
    salt)) % 100, 80/10/10 — the reproducible content-independent
    split every training pipeline stamps before anything else. The
    hash is portable (md5-hex -> BIGINT, the simhash trick) so the
    assignment — not just the counts — is verified cross-engine.
    Audit output: per (lang, split) doc and char counts, which is
    also the stratification check (each lang should split ~80/10/10;
    a skewed lang reveals id-correlated content). Pure map + one
    tiny groupBy; at 100 TB the split column is computed inline at
    scan time, never materialized via shuffle."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_BUCKET_SPARK)
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("long").alias("n_chars"))
    )


# --- importance sampling ---------------------------------------------------

IMP_U_SCALE = 1_000_000  # md5-uniform resolution


@register(
    "llm_sample_importance",
    oracle=(
        "WITH s AS (SELECT doc_id, lang, "
        "FLOOR((LEAST(n_chars / 400.0, 1.0) * 0.5 + "
        "LEAST(len(string_split(text, ' ')) / 80.0, 1.0) * 0.5) "
        f"* {IMP_U_SCALE}) AS p_u, "
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'imp'), 1, 15))"
        f"::BIGINT % {IMP_U_SCALE} AS u FROM documents) "
        "SELECT doc_id, lang, CAST(p_u AS BIGINT) AS weight_x1e6 "
        "FROM s WHERE u < p_u ORDER BY doc_id"
    ),
)
def llm_sample_importance(spark, sf_dir):
    """Importance (quality-weighted) sampling: each document is kept
    with probability equal to its quality score — the standard way
    training pipelines upsample high-quality text without a hard
    cutoff (soft filtering, e.g. the DCLM/FineWeb recipes, public).
    Acceptance is deterministic: a per-doc md5-derived uniform u is
    compared against the score, so the SAME sample reproduces on
    any engine, run, or partitioning (rand() guarantees none of
    that, and resampling drift silently changes training mixes).

    Both the score and u are scaled to exact 1e6-grid integers
    before the comparison — no float boundary can disagree. Plan:
    map-only filter, no shuffle, pushdown-friendly; the score reuses
    the llm_quality_score formula. 100 TB: embarrassingly parallel;
    the acceptance test costs one md5 per row."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    score = (
        F.least(F.col("n_chars") / 400.0, F.lit(1.0)) * 0.5
        + F.least(ntok / 80.0, F.lit(1.0)) * 0.5
    )
    p_u = F.floor(score * IMP_U_SCALE)
    u = (
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING) || 'imp'), 1, 15), "
            "16, 10) AS BIGINT)"
        )
        % IMP_U_SCALE
    )
    return (
        docs.select(
            "doc_id", "lang", p_u.alias("p_u"), u.alias("u")
        )
        .filter(F.col("u") < F.col("p_u"))
        .select("doc_id", "lang", F.col("p_u").cast("long").alias("weight_x1e6"))
    )
