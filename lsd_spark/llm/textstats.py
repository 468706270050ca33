"""§2.J text analysis — language-ID, quality scoring, token counting,
tf-idf. All hot paths are Catalyst built-ins (split/regexp/agg);
the language-ID heuristic is a two-pass vocabulary-profile pipeline
(deterministic, no external models — none exist in this container).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lsd_spark.catalog import load
from lsd_spark.registry import register


@register(
    "llm_text_stats",
    oracle=(
        "SELECT lang, count(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars, "
        "count(DISTINCT source) AS n_sources FROM documents "
        "GROUP BY lang ORDER BY lang"
    ),
)
def llm_text_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "llm_quality_score",
    oracle=(
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, "
        "CAST(FLOOR((LEAST(n_chars / 400.0, 1.0) * 0.5 + "
        "LEAST(len(string_split(text, ' ')) / 80.0, 1.0) * 0.5) * 10000 + 0.5) / 10000 "
        "AS DOUBLE) AS qscore FROM documents"
    ),
)
def llm_quality_score(spark, sf_dir):
    """Quality scoring: length + token-density heuristics (the
    punct/stopword terms degenerate on word-soup fixtures but the
    formula shape is the real pipeline's)."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    score = (
        F.least(F.col("n_chars") / 400.0, F.lit(1.0)) * 0.5
        + F.least(ntok / 80.0, F.lit(1.0)) * 0.5
    )
    q4 = (F.floor(score * 10000 + F.lit(0.5)) / 10000).cast("double")
    return docs.select("doc_id", ntok.alias("n_tokens"), q4.alias("qscore"))


@register(
    "llm_token_count",
    oracle=(
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws, "
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe "
        "FROM documents"
    ),
)
def llm_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex segmenter
    (letters / digits / other runs)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))).alias(
            "n_bpe"
        ),
    )


@register(
    "llm_tfidf_topterms",
    oracle=(
        "WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token "
        "FROM documents), tot AS (SELECT count(*) AS n FROM documents) "
        "SELECT token, df, ROUND(LN(n / df), 6) AS idf FROM ("
        "SELECT token, count(*) AS df FROM tok GROUP BY token), tot "
        "ORDER BY df DESC, token ASC LIMIT 10"
    ),
)
def llm_tfidf_topterms(spark, sf_dir):
    """Top-10 tokens by document frequency + idf. The doc-frequency
    agg is the reusable df half of tf-idf; the per-(doc,term) tf side
    is udtf_flatmap's output."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    tot = docs.agg(F.count("*").alias("n"))
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            "df",
            F.round(F.log(F.col("n") / F.col("df")), 6).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(10)
    )


_LANG_ID_ORACLE = (
    "WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token "
    "FROM documents), "
    "profile AS (SELECT lang AS p_lang, token FROM ("
    "SELECT lang, token, ROW_NUMBER() OVER (PARTITION BY lang "
    "ORDER BY COUNT(DISTINCT doc_id) DESC, token ASC) AS r "
    "FROM tok GROUP BY lang, token) WHERE r <= 20), "
    "hits AS (SELECT t.doc_id, t.lang AS true_lang, p.p_lang, count(*) AS hits "
    "FROM tok t JOIN profile p USING (token) GROUP BY 1, 2, 3), "
    "guessed AS (SELECT doc_id, true_lang, p_lang AS guess FROM ("
    "SELECT doc_id, true_lang, p_lang, ROW_NUMBER() OVER (PARTITION BY doc_id "
    "ORDER BY hits DESC, p_lang ASC) AS r FROM hits) WHERE r = 1) "
    "SELECT true_lang, count(*) AS n_docs, "
    "CAST(SUM(CASE WHEN guess = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct "
    "FROM guessed GROUP BY true_lang ORDER BY true_lang"
)


@register("llm_lang_id", oracle=_LANG_ID_ORACLE)
def llm_lang_id(spark, sf_dir):
    """n-gram/vocabulary language-ID heuristic, two deterministic
    passes: (1) profile = top-20 most-frequent tokens per language
    (df-weighted, tiebreak token); (2) classify each doc to the
    language whose profile it hits most (tiebreak lang asc). Returns
    per-lang accuracy vs the fixture's ground-truth lang column.

    Full oracle (upgraded from rows-only): the heuristic is pure
    integer logic — distinct-counts, row_number with total tiebreaks
    — so DuckDB reproduces the classifier exactly; being a heuristic
    never meant being non-deterministic."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    w = Window.partitionBy("lang").orderBy(F.col("df").desc(), F.col("token").asc())
    profile = (
        tok.groupBy("lang", "token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 20)
        .select(F.col("lang").alias("p_lang"), "token")
    )
    hits = (
        tok.select("doc_id", F.col("lang").alias("true_lang"), "token")
        .join(F.broadcast(profile), "token")
        .groupBy("doc_id", "true_lang", "p_lang")
        .agg(F.count("*").alias("hits"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("p_lang").asc())
    guessed = (
        hits.withColumn("r", F.row_number().over(w2))
        .filter(F.col("r") == 1)
        .select("doc_id", "true_lang", F.col("p_lang").alias("guess"))
    )
    return (
        guessed.groupBy("true_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("guess") == F.col("true_lang"), 1).otherwise(0)).alias(
                "n_correct"
            ),
        )
    )


_E2E_ORACLE = (
    "WITH q AS (SELECT * FROM documents WHERE n_chars >= 10), "
    "k AS (SELECT md5(text) AS fp, min(doc_id) AS keeper FROM q GROUP BY fp), "
    "d AS (SELECT q.* FROM q JOIN k ON md5(q.text) = k.fp AND q.doc_id = k.keeper), "
    "s AS (SELECT * FROM d WHERE "
    "(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 2 = 0) "
    "SELECT lang, count(*) AS docs, "
    "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens, "
    "FLOOR(AVG(n_chars) * 100 + 0.5) / 100 AS avg_chars "
    "FROM s GROUP BY lang ORDER BY lang"
)


@register("llm_pipeline_e2e", oracle=_E2E_ORACLE)
def llm_pipeline_e2e(spark, sf_dir):
    """End-to-end training-data pipeline: quality gate -> exact-dedup
    keep-first -> deterministic 50% subsample -> per-language corpus
    stats. The composition the individual §2.J operators exist for,
    in one lazy plan: Catalyst fuses the quality filter into the
    scan, the dedup is ONE corpus exchange on the fingerprint (a
    row_number window keeping the min doc_id per group — strictly
    less shuffle than the agg+join formulation, which moves the
    corpus through the join exchange AND the key set through the
    agg), the sample is a map-only hash filter, and the final stats
    are a partial+final agg — two shuffles total end-to-end. At
    100 TB this plan shape IS the curation job."""
    from pyspark.sql import Window

    from lsd_spark.llm.dedup import HASH60_SPARK

    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 10)
    fp = F.md5(F.col("text").cast("binary"))
    w = Window.partitionBy(fp).orderBy("doc_id")
    deduped = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    sampled = deduped.filter(
        F.expr(HASH60_SPARK.format(t="CAST(doc_id AS STRING)")) % 2 == 0
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens"),
            (F.floor(F.avg("n_chars") * 100 + 0.5) / 100).alias("avg_chars"),
        )
    )


@register(
    "llm_char_entropy",
    oracle=(
        "SELECT doc_id, ROUND(entropy(c), 6) AS h FROM ("
        "SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents) "
        "GROUP BY doc_id ORDER BY doc_id"
    ),
)
def llm_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy (bits) per document —
    the gibberish/compression-quality signal (machine-generated or
    base64-ish text scores far from natural-language ~4.1 bits).
    Computed as log2(N) - sum(n*log2(n))/N from per-char counts: one
    explode + two map-side-combined aggs, no window."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("n"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.round(
                F.log2(F.sum("n")) - F.sum(F.col("n") * F.log2("n")) / F.sum("n"), 6
            ).alias("h")
        )
    )


BM25_QUERY = ["data", "scan", "join"]
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in BM25_QUERY)
    return (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id), "
        "stats AS (SELECT count(*) AS n, avg(len) AS avgdl FROM dl), "
        f"q(term) AS (VALUES {terms}), "
        "tf AS (SELECT doc_id, term, count(*) AS f FROM tok "
        "WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term), "
        "df AS (SELECT term, count(DISTINCT doc_id) AS d FROM tf GROUP BY term) "
        "SELECT doc_id, CAST(FLOOR(SUM("
        "LN((stats.n - df.d + 0.5) / (df.d + 0.5) + 1) * "
        f"tf.f * ({BM25_K1} + 1) / "
        f"(tf.f + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.len / stats.avgdl))"
        ") * 10000 + 0.5) AS BIGINT) AS score4 "
        "FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats "
        "GROUP BY doc_id ORDER BY doc_id"
    )


@register("llm_bm25_score", oracle=_bm25_oracle())
def llm_bm25_score(spark, sf_dir):
    """BM25 relevance scoring of the corpus against a fixed query —
    the retrieval half of data curation (finding docs about a topic
    at 100 TB is a broadcast of the tiny query-term stats against a
    single corpus scan). tf per (doc, queried term) + df per term +
    doc lengths feed the standard BM25 formula (k1=1.2, b=0.75);
    score quantized at 1e-4 (3-term float sum order). Only query
    terms survive the first filter, so the shuffled state is
    O(matched docs x |query|), never the vocabulary."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = dl.agg(
        F.count("*").alias("n"), F.avg("len").alias("avgdl")
    )
    tf = (
        tok.filter(F.col("term").isin(BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("f"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("d"))
    idf = F.log((F.col("n") - F.col("d") + 0.5) / (F.col("d") + 0.5) + 1)
    denom = F.col("f") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("len") / F.col("avgdl"))
    contrib = idf * F.col("f") * (BM25_K1 + 1) / denom
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.floor(F.sum(contrib) * 10000 + 0.5).cast("bigint").alias("score4")
        )
    )


@register(
    "llm_unigram_logprob",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), "
        "tot AS (SELECT count(*) AS n FROM tok), "
        "p AS (SELECT term, count(*) AS c FROM tok GROUP BY term) "
        "SELECT doc_id, CAST(FLOOR(AVG(LN(p.c * 1.0 / tot.n)) * 10000 + 0.5) AS BIGINT) "
        "AS avg_lp4 FROM tok JOIN p USING (term), tot "
        "GROUP BY doc_id ORDER BY doc_id"
    ),
)
def llm_unigram_logprob(spark, sf_dir):
    """Unigram language-model scoring (the CCNet-style LM quality
    filter, with the corpus itself as the LM): per-doc mean log
    probability of its tokens under corpus unigram frequencies.
    Out-of-distribution/gibberish docs score low. The LM table
    (term -> count) broadcasts; scoring is one scan + one per-doc
    agg. Quantized at 1e-4 (float-sum order)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tot = tok.agg(F.count("*").alias("n"))
    p = tok.groupBy("term").agg(F.count("*").alias("c"))
    return (
        tok.join(F.broadcast(p), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.floor(F.avg(F.log(F.col("c") * 1.0 / F.col("n"))) * 10000 + 0.5)
            .cast("bigint")
            .alias("avg_lp4")
        )
    )


@register(
    "llm_ngram_freq",
    oracle=(
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        "b AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), "
        "i -> w[i] || ' ' || w[i+1])) AS bg FROM t) "
        "SELECT bg, count(*) AS cf, count(DISTINCT doc_id) AS df "
        "FROM b GROUP BY bg ORDER BY cf DESC, bg ASC LIMIT 100"
    ),
)
def llm_ngram_freq(spark, sf_dir):
    """Corpus n-gram frequency table (bigrams): collection frequency
    + document frequency, top-100 — the vocabulary/contamination
    report every corpus audit starts with. Bigrams are built
    JVM-side with zip_with over two shifted slices (no Python, no
    explode-before-slice): slice(w,1,n-1) zip slice(w,2,n-1) is
    empty for 1-token docs, so no sequence(1,0) descending-range
    trap. One explode + one map-side-combined groupBy; the top-100
    is TakeOrderedAndProject (no global sort). At 100 TB the bigram
    key space is heavy-tailed but the partial agg absorbs the head;
    df via count(DISTINCT doc_id) shuffles (bg, doc_id) pairs once."""
    docs = load(spark, sf_dir, "documents")
    bg = F.expr(
        "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), "
        "(a, b) -> concat(a, ' ', b))"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.explode(bg).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("cf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("cf").desc(), F.col("bg").asc())
        .limit(100)
    )


@register(
    "llm_oov_rate",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "v AS (SELECT term FROM (SELECT term, count(*) AS c FROM tok "
        "GROUP BY term ORDER BY c DESC, term ASC LIMIT 20)) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(FLOOR((1.0 - SUM(CASE WHEN term IN (SELECT term FROM v) "
        "THEN 1 ELSE 0 END) * 1.0 / count(*)) * 10000 + 0.5) / 10000 AS DOUBLE) "
        "AS oov_rate FROM tok GROUP BY doc_id ORDER BY doc_id"
    ),
)
def llm_oov_rate(spark, sf_dir):
    """Vocabulary coverage: per-doc out-of-vocabulary token rate
    against the corpus top-20 vocabulary (count desc, term asc —
    fully deterministic) — the tokenizer-fit metric a training
    pipeline reports before committing to a vocab. Plan: one
    explode + agg builds the vocabulary (TakeOrdered, bounded), it
    BROADCASTS to a left join against the token stream, one
    map-side-combined per-doc agg. At 100 TB the vocab is a
    thousand-row broadcast and the token stream never shuffles on
    the term key. OOV quantized at 1e-4."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(20)
        .select("term", F.lit(1).alias("in_v"))
    )
    cov = F.sum(F.coalesce(F.col("in_v"), F.lit(0)))
    rate = (F.floor((1.0 - cov / F.count("*")) * 10000 + F.lit(0.5)) / 10000).cast(
        "double"
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), rate.alias("oov_rate"))
    )


# --- PII detection / redaction (public pattern: Presidio/CCNet-style
# regex scrubbing pass every curation pipeline runs before training).
# The synthetic corpus carries no contact strings, so — the same
# technique as the synthetic sphere coordinates (plans/sphere.py) —
# a deterministic "dirty" view is derived from doc_id: a third of the
# docs gain an email, a quarter a phone number (overlapping, so some
# docs have both and some neither), and detection runs for real on
# the result. Patterns are kept to the Java-regex ∩ RE2 common
# subset so Spark and the DuckDB oracle agree byte-for-byte.

PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}"
PII_PHONE_RE = "\\+1-555-[0-9]{4}"

_PII_TEXT_DUCK = (
    "text || CASE WHEN doc_id % 3 = 0 THEN ' Contact user' || doc_id "
    "|| '@example.com for details.' ELSE '' END || "
    "CASE WHEN doc_id % 4 = 0 THEN ' Call +1-555-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.' ELSE '' END"
)


@register(
    "llm_pii_redact",
    oracle=(
        f"WITH dirty AS (SELECT doc_id, {_PII_TEXT_DUCK} AS t FROM documents) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails, "
        f"CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones, "
        f"md5(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_PHONE_RE}', '<PHONE>', 'g')) AS red_fp "
        "FROM dirty ORDER BY doc_id"
    ),
)
def llm_pii_redact(spark, sf_dir):
    """Detect and mask PII spans: per doc, the email/phone match
    counts and the md5 of the redacted text (the fingerprint proves
    the rewrite, not just the counts, survived). Pure map — two
    regexp_extract_all + two regexp_replace per row, all JVM-side,
    zero shuffles; at 100 TB this is the textbook
    embarrassingly-parallel scrubbing pass (the regex NFA is the
    bottleneck, and it runs inside codegen, not in Python)."""
    docs = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" Contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com for details."),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" Call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" now."),
            ),
        ).otherwise(F.lit("")),
    )
    red = F.regexp_replace(
        F.regexp_replace(dirty, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(dirty, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(dirty, F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(red.cast("binary")).alias("red_fp"),
    )


# --- rule-based quality filter ---------------------------------------------

FILT_MIN_CHARS = 150  # C4 uses word/sentence floors; chars fit the fixture
FILT_MIN_WORDS = 30
FILT_MIN_TTR = 0.35  # type-token ratio floor (word-soup repetition screen)
FILT_MAX_MWL = 12.0  # mean word length ceiling (gibberish screen)
FILT_MIN_MWL = 2.0


@register(
    "llm_filter_rules",
    oracle=(
        "WITH s AS (SELECT doc_id, n_chars, "
        "len(string_split(text, ' ')) AS n_words, "
        "len(list_distinct(string_split(text, ' '))) AS n_types, "
        "length(replace(text, ' ', '')) AS n_letters "
        "FROM documents), "
        "r AS (SELECT doc_id, CASE "
        f"WHEN n_chars < {FILT_MIN_CHARS} THEN 'too_short' "
        f"WHEN n_words < {FILT_MIN_WORDS} THEN 'too_few_words' "
        f"WHEN n_types * 100 < n_words * {int(FILT_MIN_TTR * 100)} "
        "THEN 'low_diversity' "
        f"WHEN n_letters * 10 > n_words * {int(FILT_MAX_MWL * 10)} "
        "THEN 'words_too_long' "
        f"WHEN n_letters * 10 < n_words * {int(FILT_MIN_MWL * 10)} "
        "THEN 'words_too_short' "
        "ELSE 'ok' END AS reason FROM s) "
        "SELECT doc_id, CAST(reason = 'ok' AS BOOLEAN) AS kept, reason "
        "FROM r ORDER BY doc_id"
    ),
)
def llm_filter_rules(spark, sf_dir):
    """Rule-based document quality filter — the C4/Gopher-style
    heuristic gauntlet (public: Raffel et al. 2020 §2.2, Rae et al.
    2021 Table A1): length floor, word-count floor, type-token
    diversity floor, mean-word-length band. Emits keep/drop plus
    the FIRST failing rule as a reason code, which is what a real
    pipeline logs for ablation accounting.

    Every ratio test is integer cross-multiplication (n_types*100 <
    n_words*35, not a float division), so engines can't disagree at
    the boundary. Plan: pure map-side projection — no shuffle, no
    UDF; the rules compile to string/array builtins inside
    whole-stage codegen. 100 TB: embarrassingly parallel scan."""
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_types = F.size(F.array_distinct(F.split("text", " ")))
    n_letters = F.length(F.regexp_replace("text", " ", ""))
    reason = (
        F.when(F.col("n_chars") < FILT_MIN_CHARS, "too_short")
        .when(n_words < FILT_MIN_WORDS, "too_few_words")
        .when(
            n_types * 100 < n_words * int(FILT_MIN_TTR * 100), "low_diversity"
        )
        .when(
            n_letters * 10 > n_words * int(FILT_MAX_MWL * 10),
            "words_too_long",
        )
        .when(
            n_letters * 10 < n_words * int(FILT_MIN_MWL * 10),
            "words_too_short",
        )
        .otherwise("ok")
    )
    return docs.select(
        "doc_id",
        (reason == "ok").alias("kept"),
        reason.alias("reason"),
    )


# --- BPE merge-step pair counts --------------------------------------------

BPE_TOP = 50  # report the top merge candidates


@register(
    "llm_bpe_pairs",
    oracle=(
        "SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM ("
        "SELECT substr(w, CAST(i AS INT), 2) AS pair "
        "FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM documents), "
        "LATERAL (SELECT unnest(range(1, length(w)::BIGINT)) AS i) u "
        "WHERE length(w) >= 2) "
        f"GROUP BY pair ORDER BY cnt DESC, pair LIMIT {BPE_TOP}"
    ),
)
def llm_bpe_pairs(spark, sf_dir):
    """The distributed kernel of BPE tokenizer training (Sennrich et
    al. 2016, public): count every adjacent symbol pair inside each
    word across the corpus; the argmax pair is the next merge. One
    training round = this op; a full tokenizer iterates it with the
    merged symbol table fed back in.

    Plan: pairs are generated INSIDE one map-side array expression
    (split -> per-word substring windows -> flatten -> explode), so
    the only shuffle is the final pair-count aggregate with map-side
    combine, and the explode never materializes per-document arrays
    bigger than the document itself. Top-k is rank-stable
    (count DESC, pair ASC). 100 TB: pair cardinality is bounded by
    |alphabet|^2, so the reduce side is tiny however big the corpus;
    this is exactly the word-count shape Spark is best at."""
    docs = load(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(
            F.expr(
                "flatten(transform("
                "  filter(split(text, ' '), w -> length(w) >= 2),"
                "  w -> transform(sequence(1, length(w) - 1),"
                "                 i -> substring(w, i, 2))))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP)
    )


# --- BPE merge application ---------------------------------------------------

BPE_APPLY_K = 6  # merges applied; unrolled so DuckDB mirrors the rounds

_BPE_PAIR_FILTER = "^[a-z0-9]{2}$"  # alnum merge candidates only: the
# pair text is embedded as a replace() literal in BOTH engines'
# expressions, so quoting/regex-special characters are excluded by
# construction (tokenizer-realistic — real BPE vocabularies are built
# over normalized alphabets)


def _bpe_apply_oracle() -> str:
    """DuckDB mirror of llm_bpe_apply: the same top-K merge table
    derived in-SQL (scalar columns m1..mK), the same greedy
    leftmost-non-overlapping pair replacement unrolled K rounds via
    nested replace() — string replace scans left-to-right without
    overlap in both engines, which IS the BPE merge-application
    order for one rule."""
    k = BPE_APPLY_K
    seq = "(' ' || regexp_replace(w.w, '(.)', '\\1 ', 'g'))"
    for i in range(1, k + 1):
        seq = (
            f"replace({seq}, ' ' || substr(m{i},1,1) || ' ' || "
            f"substr(m{i},2,1) || ' ', ' ' || m{i} || ' ')"
        )
    mcols = ", ".join(
        f"MAX(CASE WHEN rk={i} THEN pair END) AS m{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH pc AS (SELECT pair, COUNT(*) AS cnt FROM ("
        "SELECT substr(w, CAST(i AS INT), 2) AS pair "
        "FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM documents), "
        "LATERAL (SELECT unnest(range(1, length(w)::BIGINT)) AS i) u "
        "WHERE length(w) >= 2) "
        f"WHERE regexp_matches(pair, '{_BPE_PAIR_FILTER}') GROUP BY pair), "
        "mg AS (SELECT pair, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) "
        "AS rk FROM pc), "
        f"m AS (SELECT {mcols} FROM mg WHERE rk <= {k}), "
        "w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
        "FROM documents) "
        "SELECT w.doc_id, CAST(SUM(length(w.w)) AS BIGINT) AS n_char_tokens, "
        f"CAST(SUM(length({seq}) - length(replace({seq}, ' ', '')) - 1) "
        "AS BIGINT) AS n_bpe_tokens "
        "FROM w, m WHERE length(w.w) >= 1 "
        "GROUP BY w.doc_id ORDER BY w.doc_id"
    )


def bpe_merge_table(spark, sf_dir: str, k: int = BPE_APPLY_K) -> list[str]:
    """The top-k merge table (cnt DESC, pair ASC over alnum character
    pairs) — llm_bpe_pairs' training argmax, taken k deep. k rows to
    the driver: a merge TABLE is vocabulary-sized metadata, the same
    bounded-collect class as IVF centroids; at 100 TB it would be
    trained on a sample and broadcast exactly like this."""
    docs = load(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(
            F.expr(
                "flatten(transform("
                "  filter(split(text, ' '), w -> length(w) >= 2),"
                "  w -> transform(sequence(1, length(w) - 1),"
                "                 i -> substring(w, i, 2))))"
            )
        ).alias("pair")
    ).filter(F.col("pair").rlike(_BPE_PAIR_FILTER))
    top = (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(k)
        .collect()
    )
    return [r["pair"] for r in top]


def bpe_tokens_expr(merges: list[str], word: str = "w") -> str:
    """SQL-text expression: BPE token count of one word after
    applying `merges` in order. The word is exploded to a
    space-separated symbol string (' h e l l o '), each merge rule
    'ab' is one replace(' a b ' -> ' ab ') — greedy leftmost
    non-overlapping, the canonical single-rule application — and the
    token count is (#separators - 1). Applying ZERO merges therefore
    counts characters (the property test's identity)."""
    seq = f"concat(' ', regexp_replace({word}, '(.)', '$1 '))"
    for p in merges:
        seq = f"replace({seq}, ' {p[0]} {p[1]} ', ' {p} ')"
    return f"length({seq}) - length(replace({seq}, ' ', '')) - 1"


@register("llm_bpe_apply", oracle=_bpe_apply_oracle())
def llm_bpe_apply(spark, sf_dir):
    """BPE merge APPLICATION (round-11 VERDICT missing #4 — the other
    half of the tokenizer: llm_bpe_pairs computes the training
    argmax, this op tokenizes the corpus with the learned table):
    the top-K merge table is trained once (bounded driver collect,
    vocabulary-sized — the broadcast-merges pass every
    tokenizer-bound pipeline runs), then every document's per-word
    symbol sequences absorb the K merges in priority order and the
    op reports per-document character-token vs BPE-token counts —
    the compression a tokenizer actually buys.

    Plan: application is MAP-ONLY — one higher-order
    filter/transform/aggregate expression per document (no explode,
    no shuffle); the merge rules are
    string literals folded into the expression, i.e. broadcast by
    construction. The iterative pair-replacement is unrolled exactly
    K rounds so the DuckDB oracle replays the identical rounds via
    nested replace() with its OWN in-SQL merge derivation — the two
    engines must agree on the training top-K (exact integer counts,
    pair tiebreak) AND on every replacement round for the hash to
    match. 100 TB: embarrassingly parallel scan, merge table size
    |vocab|, the same shape as llm_lang_id's broadcast n-gram table."""
    merges = bpe_merge_table(spark, sf_dir)
    # Round-13 ADVICE: the unrolled oracle assumes exactly K merge
    # rules — a corpus with fewer distinct qualifying pairs would
    # leave its mK columns NULL and replace(NULL) silently NULLs
    # n_bpe_tokens in DuckDB while Spark just applies fewer merges.
    # Refuse loudly instead of diverging silently.
    if len(merges) != BPE_APPLY_K:
        raise ValueError(
            f"llm_bpe_apply: corpus yields {len(merges)} qualifying "
            f"merge pairs, need exactly {BPE_APPLY_K} for the unrolled "
            "cross-engine oracle"
        )
    ntok = bpe_tokens_expr(merges)
    agg = F.expr(
        "aggregate("
        "  filter(split(text, ' '), w -> length(w) >= 1),"
        "  named_struct('c', 0L, 't', 0L),"
        f" (acc, w) -> named_struct('c', acc.c + length(w),"
        f"                          't', acc.t + ({ntok})),"
        "  acc -> acc)"
    )
    docs = load(spark, sf_dir, "documents")
    return (
        # Round-13 ADVICE: drive output membership from the same
        # word-derived grouping the oracle uses — a document whose
        # text splits to zero non-empty words yields NO row in the
        # oracle's GROUP BY over words, so it must yield none here
        # either (was a (doc_id, 0, 0) row on other corpora).
        docs.filter(F.exists(F.split("text", " "), lambda w: F.length(w) >= 1))
        .select("doc_id", agg.alias("a"))
        .select(
            "doc_id",
            F.col("a.c").cast("long").alias("n_char_tokens"),
            F.col("a.t").cast("long").alias("n_bpe_tokens"),
        )
    )


# --- n-gram novelty ----------------------------------------------------------

_NOV_SHINGLE_DUCK = (
    "SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, greatest(len(t) - 2, 1) + 1), "
    "i -> array_to_string(t[i:i+2], ' ')))) AS s "
    "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)"
)


@register(
    "llm_ngram_novelty",
    oracle=(
        f"WITH tok AS ({_NOV_SHINGLE_DUCK}), "
        "fst AS (SELECT s, MIN(doc_id) AS first_doc FROM tok GROUP BY s) "
        "SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, "
        "CAST(SUM(CASE WHEN fst.first_doc = tok.doc_id THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_novel, "
        "CAST(FLOOR(SUM(CASE WHEN fst.first_doc = tok.doc_id THEN 1 ELSE 0 "
        "END) * 10000.0 / COUNT(*) + 0.5) AS BIGINT) AS novelty_x1e4 "
        "FROM tok JOIN fst USING (s) GROUP BY tok.doc_id "
        "ORDER BY tok.doc_id"
    ),
)
def llm_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a document's
    distinct 3-token shingles whose FIRST corpus occurrence (min
    doc_id, the ingest-order proxy) is this document — the standard
    marginal-contribution measure for data curation (a document
    whose shingles all appeared earlier adds nothing; dedup ops ask
    "is it a copy?", novelty asks "how much is new?").

    Plan: shingle explode (map-side, the shared dedup tokenizer) ->
    min-doc_id per shingle (map-side-combined agg on the shingle
    key) -> join back on the shingle and re-aggregate per doc. Two
    shuffles, both on bounded-width keys; the shingle posting list
    is the SAME structure the ngram-dedup inverted index uses, so
    at 100 TB this shares its df-cap/skew story. No corpus-sized
    broadcast anywhere."""
    from lsd_spark.llm.dedup import _shingled

    docs = load(spark, sf_dir, "documents")
    tok = _shingled(docs).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    fst = tok.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        tok.join(fst, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.floor(novel * 10000.0 / F.count("*") + 0.5)
            .cast("long")
            .alias("novelty_x1e4"),
        )
    )


# --- cross-source vocabulary overlap -----------------------------------------


@register(
    "llm_source_overlap",
    oracle=(
        "WITH v AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) "
        "AS w FROM documents), "
        "sz AS (SELECT source, COUNT(*) AS c FROM v GROUP BY source), "
        "inter AS (SELECT a.source AS src_a, b.source AS src_b, "
        "COUNT(*) AS i FROM v a JOIN v b ON a.w = b.w "
        "AND a.source < b.source GROUP BY 1, 2) "
        "SELECT src_a, src_b, CAST(i AS BIGINT) AS n_common, "
        "CAST(FLOOR(i * 10000.0 / (sa.c + sb.c - i) + 0.5) AS BIGINT) "
        "AS jaccard_x1e4 "
        "FROM inter JOIN sz sa ON src_a = sa.source "
        "JOIN sz sb ON src_b = sb.source "
        "ORDER BY src_a, src_b"
    ),
)
def llm_source_overlap(spark, sf_dir):
    """Pairwise vocabulary overlap between corpus sources: Jaccard
    similarity of the distinct-word sets for every source pair —
    the source-contamination / redundancy matrix a mixing recipe
    (llm_mix_sources) is tuned against: two sources with ~1.0
    vocabulary Jaccard contribute near-duplicate distribution mass.

    Plan: ONE corpus pass — distinct (source, word) postings, then
    collect the per-WORD sorted source list (a ≤|sources|-element
    array) and explode every ordered pair x <= y INCLUDING the
    diagonal: (x,x) rows count each source's vocabulary size, (x,y)
    rows count intersections, so a SINGLE ≤C(|sources|+1,2)-per-word
    explode + one pair-count aggregate yields both, and the
    corpus-scale subtree is consumed exactly once (a naive
    self-join formulation — the oracle's SQL, semantically
    identical — re-scans the DISTINCT three times; joining the
    diagonal back would re-scan it too, because Catalyst duplicates
    a DataFrame subtree per consumer). The sizes are instead pulled
    off the diagonal with two WINDOW passes over the ~C(|sources|,2)-
    row pair table — zero joins, and the audit shows exactly ONE
    parquet scan. 100 TB: everything after the per-word aggregate
    is vocabulary-bounded, and a stopword's posting list is
    |sources| long here, not |docs| long — the DISTINCT already
    collapsed it."""
    docs = load(spark, sf_dir, "documents")
    v = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    g = v.groupBy("w").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pairs = g.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) -> "
                "transform(slice(srcs, i + 1, size(srcs)), "
                "y -> struct(x AS src_a, y AS src_b))))"
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    cnt = pairs.groupBy("src_a", "src_b").agg(F.count("*").alias("i"))
    diag = F.when(F.col("src_a") == F.col("src_b"), F.col("i"))
    ca = F.max(diag).over(Window.partitionBy("src_a"))
    cb = F.max(diag).over(Window.partitionBy("src_b"))
    return (
        cnt.select("src_a", "src_b", "i", ca.alias("ca"), cb.alias("cb"))
        .filter(F.col("src_a") != F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.col("i").cast("long").alias("n_common"),
            F.floor(
                F.col("i") * 10000.0 / (F.col("ca") + F.col("cb") - F.col("i"))
                + 0.5
            )
            .cast("long")
            .alias("jaccard_x1e4"),
        )
    )
