"""Text-analysis operators for training-data pipelines (SURVEY §2.3
K10–K12 + driver-mandated extensions: language-ID heuristic, quality
scoring, tokenization, document fingerprinting).

All operators are pure column expressions (JVM-side, whole-stage codegen)
— at 100 TB these run in the scan stage with zero Python overhead. Each
has a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nibbler_spark.queries import pin, register
from nibbler_spark.queries._helpers import davg, seq1, spread
from nibbler_spark.sources import load_table


@register(
    "k10_text_stats",
    survey_id="K10",
    category="llm-text",
    oracle="""
WITH t AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       LENGTH(text) AS len_chars,
       len(toks) AS n_words,
       CAST(LENGTH(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_word_len,
       LENGTH(text) = n_chars AS n_chars_consistent
FROM t ORDER BY doc_id
""",
)
def k10_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character/word counts and average word length (single-space text ⇒
    total token length = n_chars − (n_words−1)); cross-checks the n_chars
    column."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    len_chars = F.length("text")
    return d.select(
        "doc_id",
        len_chars.alias("len_chars"),
        n_words.alias("n_words"),
        (
            (len_chars - (n_words - F.lit(1))).cast("double") / n_words
        ).alias("avg_word_len"),
        (len_chars == F.col("n_chars")).alias("n_chars_consistent"),
    ).orderBy("doc_id")


@register(
    "k11_lang_source_distribution",
    survey_id="K11",
    category="llm-text",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang IN ('en', 'de', 'zh')
GROUP BY lang, source ORDER BY lang, source
""",
)
def k11_lang_source_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language/source distribution with language filtering — the first
    pass of any corpus curation pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.where(F.col("lang").isin("en", "de", "zh"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


@register(
    "k12_tf_idf",
    survey_id="K12",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id % 20 = 0
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
docfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks)
SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
       ROUND(tf.tf * (LN((n.n_docs + 1.0) / (docfreq.df + 1.0)) + 1.0), 4) AS tfidf
FROM tf, docfreq, n
WHERE tf.term = docfreq.term
ORDER BY tf.doc_id, tf.term
""",
)
def k12_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via pure SQL-shaped dataflow (explode → two aggregations →
    broadcast joins) — HashingTF avoided deliberately so the oracle can
    recompute it (SURVEY K12). Sampled to every 20th doc to bound output."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = toks.select(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                4,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "term")
    )


# Deterministic marker-token language heuristic. The corpus is synthetic
# word soup, so the *semantics* are what's declared: a rule table applied
# identically in both engines (real lang-ID would swap in a character
# n-gram profile — same dataflow shape).
_MARKERS = [("the", "en"), ("der", "de"), ("el", "es"), ("le", "fr")]


@register(
    "ext_language_id_heuristic",
    survey_id="EXT-LANGID",
    category="llm-text",
    oracle="""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang,
       CASE WHEN list_contains(toks, 'the') THEN 'en'
            WHEN list_contains(toks, 'der') THEN 'de'
            WHEN list_contains(toks, 'el') THEN 'es'
            WHEN list_contains(toks, 'le') THEN 'fr'
            ELSE 'unknown' END AS lang_guess
FROM t ORDER BY doc_id
""",
)
def ext_language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language identification over marker tokens."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    expr = F.lit("unknown")
    for marker, lang in reversed(_MARKERS):
        expr = F.when(F.array_contains(toks, marker), lang).otherwise(expr)
    return d.select("doc_id", "lang", expr.alias("lang_guess")).orderBy(
        "doc_id"
    )


@register(
    "ext_quality_score",
    survey_id="EXT-QUALITY",
    category="llm-text",
    oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars_t,
         len(toks) AS n_words,
         len(list_filter(toks, w -> w IN ('the','a','of','and','to'))) AS n_stop,
         len(list_filter(toks, w -> LENGTH(w) >= 8)) AS n_long
  FROM t)
SELECT doc_id,
       CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
       CAST(n_long AS DOUBLE) / n_words AS long_word_ratio,
       LEAST(n_chars_t / 500.0, 1.0) AS length_score,
       ROUND(0.4 * LEAST(n_chars_t / 500.0, 1.0)
             + 0.4 * (CAST(n_stop AS DOUBLE) / n_words)
             + 0.2 * (1.0 - CAST(n_long AS DOUBLE) / n_words), 4) AS quality
FROM s ORDER BY doc_id
""",
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / stopword-ratio / long-word-ratio
    blended into one score — the standard pre-training filter features."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    n_long = F.size(F.filter(toks, lambda w: F.length(w) >= 8))
    n_chars_t = F.length("text")
    stop_ratio = n_stop.cast("double") / n_words
    long_ratio = n_long.cast("double") / n_words
    length_score = F.least(n_chars_t / F.lit(500.0), F.lit(1.0))
    quality = (
        F.lit(0.4) * length_score
        + F.lit(0.4) * stop_ratio
        + F.lit(0.2) * (F.lit(1.0) - long_ratio)
    )
    # Round the scaled double, as DuckDB's ROUND(x, 4) does; Spark's
    # round(x, 4) rounds x's decimal string half-up, which lands on the
    # other side for some docs (720 and 1747 at sf0.1).
    return d.select(
        "doc_id",
        stop_ratio.alias("stopword_ratio"),
        long_ratio.alias("long_word_ratio"),
        length_score.alias("length_score"),
        (F.round(quality * F.lit(10000.0)) / F.lit(10000.0)).alias("quality"),
    ).orderBy("doc_id")


@register(
    "ext_token_count",
    survey_id="EXT-TOKENS",
    category="llm-text",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpeish_tokens,
       CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS char_estimate
FROM documents ORDER BY doc_id
""",
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    segmentation (letter runs / digit runs / single symbols), and the
    chars/4 heuristic — the budget estimators of an LLM data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("bpeish_tokens"),
        F.ceil(F.length("text") / F.lit(4.0)).alias("char_estimate"),
    ).orderBy("doc_id")


@register(
    "ext_doc_fingerprint",
    survey_id="EXT-FINGERPRINT",
    category="llm-text",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 2),
                        i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hashes
  FROM t)
SELECT doc_id,
       list_sort(hashes)[1:3] AS fingerprint,
       md5(array_to_string(list_sort(hashes)[1:3], '')) AS fingerprint_key
FROM sh ORDER BY doc_id
""",
)
def ext_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: md5 over every 3-token
    shingle, keep the 3 lexicographically smallest — a compact signature
    whose collisions indicate near-duplication (the md5 hex strings order
    identically in both engines, no numeric-hash divergence)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select("doc_id", toks.alias("toks"))
    hashes = F.transform(
        seq1(F.size("toks") - 2),
        lambda i: F.md5(
            F.concat_ws(
                " ",
                F.element_at("toks", i),
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
            )
        ),
    )
    fp = F.slice(F.array_sort(hashes), 1, 3)
    return t.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.md5(F.array_join(fp, "")).alias("fingerprint_key"),
    ).orderBy("doc_id")


@register(
    "ext_curation_pipeline",
    survey_id="EXT-CURATE",
    category="llm-text",
    oracle="""
WITH norm AS (
  SELECT doc_id, lang, n_chars,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
  FROM documents
),
quality AS (
  SELECT *, len(string_split(norm_text, ' ')) AS n_tokens
  FROM norm
  WHERE n_chars >= 100 AND len(string_split(norm_text, ' ')) BETWEEN 15 AND 90
),
dedup AS (
  SELECT md5(norm_text) AS content_key,
         ARG_MIN(doc_id, doc_id) AS doc_id,
         ARG_MIN(lang, doc_id) AS lang,
         ARG_MIN(n_tokens, doc_id) AS n_tokens,
         ARG_MIN(n_chars, doc_id) AS n_chars
  FROM quality GROUP BY md5(norm_text)
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / COUNT(n_chars)
         AS avg_chars
FROM dedup GROUP BY lang ORDER BY lang
""",
)
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation chain — normalize → quality
    filter (length + token-count band) → exact dedup (keep lowest
    doc_id) → per-language corpus stats. One declared query composing
    K2/K10/K1/D1 the way a production pipeline chains them; every stage
    stays in whole-stage codegen (no UDFs), and the only shuffles are
    the dedup groupBy and the final tiny per-lang aggregate."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    staged = d.select("doc_id", "lang", "n_chars", norm.alias("norm_text"))
    quality = staged.select(
        "*", F.size(F.split("norm_text", " ")).alias("n_tokens")
    ).where(
        (F.col("n_chars") >= 100) & F.col("n_tokens").between(15, 90)
    )
    dedup = (
        quality.groupBy(F.md5("norm_text").alias("content_key"))
        .agg(
            F.min_by("doc_id", "doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
        )
    )
    return (
        dedup.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            davg("n_chars").alias("avg_chars"),
        )
        .orderBy("lang")
    )


@register(
    "ext_repetition_ratio",
    survey_id="EXT-REP",
    category="llm-text",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
ex AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY doc_id, tok),
top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_all FROM tf GROUP BY doc_id)
SELECT t.doc_id,
       len(t.tk) AS n_tokens,
       len(list_distinct(t.tk)) AS n_distinct,
       1.0 - CAST(len(list_distinct(t.tk)) AS DOUBLE) / len(t.tk)
         AS repetition_ratio,
       CAST(p.top_c AS DOUBLE) / len(t.tk) AS top_token_frac
FROM toks t JOIN top p USING (doc_id)
ORDER BY t.doc_id
""",
)
def ext_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals per document: token repetition ratio
    (1 - distinct/total) straight off the token array — a narrow
    projection, no shuffle — plus the most-frequent-token fraction via
    explode -> (doc_id, tok) count -> per-doc max, two shuffles both
    keyed by doc_id so they partition with the corpus. High repetition
    flags boilerplate/spam for curation filtering. All divisions are
    int/int in double — bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    tf = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return (
        base.join(tf, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_tokens")
            ).alias("repetition_ratio"),
            (F.col("top_c").cast("double") / F.col("n_tokens")).alias(
                "top_token_frac"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "ext_pii_redaction",
    survey_id="EXT-PII",
    category="llm-text",
    oracle="""
WITH payloads AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS payload
  FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id,
       md5(regexp_replace(
             regexp_replace(payload, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5,
       len(regexp_extract_all(payload, '[a-z0-9.]+@[a-z0-9.]+')) AS n_emails,
       len(regexp_extract_all(payload, '[0-9]{3}-[0-9]{4}')) AS n_phones
FROM payloads ORDER BY doc_id
""",
)
def ext_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing for curation: regex-redact email and phone
    patterns, counting hits per document. The synthetic corpus has no
    PII, so each doc gets a deterministic doc_id-derived contact suffix
    appended first — making the redaction observable and oracle-checked
    end to end (md5 of redacted text + match counts). Patterns stay in
    the Java/RE2 common dialect subset (SURVEY H2 discipline). Pure
    map-side column expressions: at 100 TB this runs in the scan stage,
    zero shuffles."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    payload = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    email = r"[a-z0-9.]+@[a-z0-9.]+"
    phone = r"[0-9]{3}-[0-9]{4}"
    redacted = F.regexp_replace(
        F.regexp_replace(payload, email, "<EMAIL>"), phone, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        F.size(F.regexp_extract_all(payload, F.lit(email), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(payload, F.lit(phone), F.lit(0))).alias(
            "n_phones"
        ),
    ).orderBy("doc_id")


@register(
    "ext_token_entropy",
    survey_id="EXT-ENTROPY",
    category="llm-text",
    oracle="""
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(c * log2(c) AS DECIMAL(28,10))) AS DOUBLE) AS s
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(CAST(log2(CAST(n_tokens AS DOUBLE)) - s / n_tokens
            AS DECIMAL(18,6)) AS DOUBLE) AS token_entropy_bits
FROM agg ORDER BY doc_id
""",
)
def ext_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon token entropy per document (bits) — low entropy flags
    repetitive/templated text for curation. Algebraic form
    H = log2(n) - sum(c*log2(c))/n keeps the inner sum over the
    per-term products, which are cast to DECIMAL(28,10) before summing so
    accumulation order (Spark partial aggs vs DuckDB) cannot perturb the
    result; the final value is rounded through DECIMAL(18,6) because the
    engines' log2 implementations differ by 1 ulp on some inputs. Two
    shuffles, both keyed by doc_id."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum((F.col("c") * F.log2("c")).cast("decimal(28,10)"))
        .cast("double")
        .alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        (
            F.log2(F.col("n_tokens").cast("double"))
            - F.col("s") / F.col("n_tokens")
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("token_entropy_bits"),
    ).orderBy("doc_id")


@register(
    "ext_bigram_lm",
    survey_id="EXT-BIGRAM-LM",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE doc_id % 5 = 0
),
bigrams AS (
  SELECT UNNEST(list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM toks
),
bg_counts AS (
  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         COUNT(*) AS c2
  FROM bigrams GROUP BY 1, 2
),
uni AS (SELECT w1, SUM(c2) AS c1 FROM bg_counts GROUP BY w1)
SELECT b.w1, b.w2, b.c2, CAST(b.c2 AS DOUBLE) / u.c1 AS p_cond
FROM bg_counts b JOIN uni u ON b.w1 = u.w1
WHERE b.c2 >= 5
ORDER BY b.w1, b.w2
""",
)
def ext_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model counts with conditional probability
    P(w2 | w1) = c(w1,w2) / c(w1·) — the statistic behind n-gram LM
    scoring and domain-shift detection in curation. Bigrams come from an
    index-transform over the token array (order-preserving, no
    explode-regroup round trip); both aggregations key on the leading
    token. Integer counts divide to bit-identical doubles."""
    # r11 perf (guide §2.5): spread the sampled scan before the explode.
    d = spread(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    )
    toks = F.split("text", " ")
    bigrams = d.select(
        F.explode(
            F.transform(
                seq1(F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ).alias("bg")
    )
    parts = F.split("bg", " ")
    bg_counts = (
        bigrams.select(
            parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2")
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    uni = bg_counts.groupBy(F.col("w1").alias("u_w1")).agg(
        F.sum("c2").alias("c1")
    )
    return (
        bg_counts.join(uni, bg_counts["w1"] == uni["u_w1"])
        .where(F.col("c2") >= 5)
        .select(
            "w1",
            "w2",
            "c2",
            (F.col("c2").cast("double") / F.col("c1")).alias("p_cond"),
        )
        .orderBy("w1", "w2")
    )


@register(
    "ext_stopword_removal",
    survey_id="EXT-STOPWORDS",
    category="llm-text",
    oracle="""
SELECT doc_id,
       md5(array_to_string(
         list_filter(string_split(text, ' '),
                     w -> w NOT IN ('the','a','of','and','to')), ' '))
         AS cleaned_md5,
       len(string_split(text, ' '))
         - len(list_filter(string_split(text, ' '),
                           w -> w NOT IN ('the','a','of','and','to')))
         AS n_removed
FROM documents WHERE doc_id % 9 = 0 ORDER BY doc_id
""",
)
def ext_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal as a transformation (not just a ratio): filter
    the token array with a HOF, re-join, fingerprint the cleaned text.
    Order-preserving, purely map-side — the first rewrite stage of a
    normalization pipeline."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 9 == 0)
    toks = F.split("text", " ")
    stop = ("the", "a", "of", "and", "to")
    kept = F.filter(toks, lambda w: ~w.isin(*stop))
    return d.select(
        "doc_id",
        F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
        (F.size(toks) - F.size(kept)).alias("n_removed"),
    ).orderBy("doc_id")


@register(
    "ext_lm_doc_score",
    survey_id="EXT-LM-SCORE",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
bigrams AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM toks
),
split_bg AS (
  SELECT doc_id, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
  FROM bigrams
),
bg_counts AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM split_bg GROUP BY w1, w2
),
uni AS (SELECT w1, SUM(c2) AS c1 FROM bg_counts GROUP BY w1),
vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM bg_counts),
scored AS (
  SELECT s.doc_id,
         CAST(log2((b.c2 + 1.0) / (u.c1 + v.v)) AS DECIMAL(28,10)) AS lp
  FROM split_bg s
  JOIN bg_counts b ON s.w1 = b.w1 AND s.w2 = b.w2
  JOIN uni u ON s.w1 = u.w1
  CROSS JOIN vocab v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(CAST(CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6))
            AS DOUBLE) AS avg_log2_prob
FROM scored GROUP BY doc_id ORDER BY doc_id
""",
)
def ext_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model document scoring: every doc scored under the
    corpus's own add-one-smoothed bigram model (avg log2 P(w2|w1)) —
    the LM-perplexity filter used to rank corpus fit in curation
    pipelines. Counts aggregate once corpus-wide, broadcast back onto
    the per-doc bigram stream; per-bigram log-probs are decimal-cast
    before the per-doc sum (entropy-query discipline) so the score is
    order-independent, with a final DECIMAL(18,6) rounding for the
    engines' log2 ulp differences."""
    # r11 perf (guide §2.5): corpus-scale n-gram explode off a 1-split
    # local scan — spread() widens it (conditional; no-op on wide scans).
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    bg = d.select(
        "doc_id",
        F.explode(
            F.transform(
                seq1(F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ).alias("bg"),
    )
    parts = F.split("bg", " ")
    split_bg = bg.select(
        "doc_id",
        parts.getItem(0).alias("w1"),
        parts.getItem(1).alias("w2"),
    )
    bg_counts = split_bg.groupBy(
        F.col("w1").alias("b_w1"), F.col("w2").alias("b_w2")
    ).agg(F.count("*").alias("c2"))
    uni = bg_counts.groupBy(F.col("b_w1").alias("u_w1")).agg(
        F.sum("c2").alias("c1")
    )
    vocab = bg_counts.agg(F.countDistinct("b_w2").alias("v"))
    lp = F.log2((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))).cast(
        "decimal(28,10)"
    )
    scored = (
        split_bg.join(
            F.broadcast(bg_counts),
            (F.col("w1") == F.col("b_w1")) & (F.col("w2") == F.col("b_w2")),
        )
        .join(F.broadcast(uni), F.col("w1") == F.col("u_w1"))
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("lp").cast("double") / F.count("*"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("avg_log2_prob"),
        )
        .orderBy("doc_id")
    )


@register(
    "ext_rag_corpus_prep",
    survey_id="EXT-RAG-PREP",
    category="llm-text",
    oracle="""
WITH canon AS (
  SELECT doc_id, lang, source, text,
         md5(array_to_string(
           list_sort(list_distinct(
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))),
           ' ')) AS canon_key
  FROM documents
),
keepers AS (
  SELECT canon_key, MIN(doc_id) AS doc_id FROM canon GROUP BY canon_key
),
deduped AS (
  SELECT c.doc_id, c.lang, c.source, c.text
  FROM canon c JOIN keepers k
    ON k.canon_key = c.canon_key AND k.doc_id = c.doc_id
),
scored AS (
  SELECT doc_id, lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         ROUND(0.4 * LEAST(LENGTH(text) / 500.0, 1.0)
               + 0.4 * (CAST(len(list_filter(string_split(text, ' '),
                             w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
                        / len(string_split(text, ' ')))
               + 0.2 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                             w -> LENGTH(w) >= 8)) AS DOUBLE)
                        / len(string_split(text, ' '))), 4) AS quality
  FROM deduped
)
SELECT s.doc_id, s.lang, s.source, s.n_tokens, s.quality,
       e.vec_id IS NOT NULL AS has_embedding
FROM scored s LEFT JOIN embeddings e ON e.vec_id = s.doc_id
WHERE s.quality >= 0.5 AND s.n_tokens BETWEEN 10 AND 200
ORDER BY s.doc_id
""",
)
def ext_rag_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-prep pipeline as ONE declarative query:
    normalized dedup (keep lowest doc_id per canonical key) → quality
    scoring → quality + token-budget filters → left join to the
    embedding index for retrievability — producing the curated corpus
    manifest a RAG/pretraining run consumes. Each stage is an
    already-declared operator (K2, EXT-QUALITY, EXT-TOKENS, C2);
    composing them in one plan lets Catalyst pipeline the map-side
    stages into the scan and share the single doc_id-keyed exchange —
    the point of a declarative engine over a step-by-step script."""
    d = load_table(spark, sf_dir, "documents")
    canon_key = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.split(
                        F.lower(
                            F.trim(F.regexp_replace("text", r"\s+", " "))
                        ),
                        " ",
                    )
                )
            ),
            " ",
        )
    )
    canon = d.select("doc_id", "lang", "source", "text", canon_key.alias("ck"))
    keepers = canon.groupBy("ck").agg(F.min("doc_id").alias("k_doc"))
    deduped = canon.join(
        keepers,
        (canon["ck"] == keepers["ck"]) & (canon["doc_id"] == keepers["k_doc"]),
    ).select("doc_id", "lang", "source", "text")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    n_long = F.size(F.filter(toks, lambda w: F.length(w) >= 8))
    quality = F.round(
        0.4 * F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
        + 0.4 * (n_stop.cast("double") / n_words)
        + 0.2 * (F.lit(1.0) - n_long.cast("double") / n_words),
        4,
    )
    scored = deduped.select(
        "doc_id",
        "lang",
        "source",
        n_words.alias("n_tokens"),
        quality.alias("quality"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        scored.join(emb, scored["doc_id"] == emb["vec_id"], "left")
        .where(
            (F.col("quality") >= 0.5) & F.col("n_tokens").between(10, 200)
        )
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "quality",
            F.col("vec_id").isNotNull().alias("has_embedding"),
        )
        .orderBy("doc_id")
    )


@register(
    "ext_feature_hashing",
    survey_id="EXT-FEATHASH",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id % 25 = 0
),
bucketed AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096
          + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256
          + (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % 64
           AS bucket
  FROM toks
)
SELECT doc_id, CAST(bucket AS INT) AS bucket, COUNT(*) AS n
FROM bucketed GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
""",
)
def ext_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens map to a fixed 64-bucket feature space
    via md5 (engine-identical — the reason over library hash functions,
    as EXT-MINHASH-EXACT), giving bounded-width sparse count vectors
    with no vocabulary build — the streaming-friendly featurizer
    (HashingTF's semantics, oracle-checkable). One explode + one
    (doc, bucket) aggregate."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 25 == 0
    )
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % 64
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("doc_id", "bucket")
    )


@register(
    "ext_gopher_rules",
    survey_id="EXT-GOPHER",
    category="llm-text",
    oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CAST(LENGTH(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
           AS mean_word_len,
         len(list_distinct(list_filter(toks,
           w -> w IN ('the','a','of','and','to')))) AS n_stop_distinct,
         len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
           AS n_alpha_words
  FROM t)
SELECT doc_id, n_words, mean_word_len,
       n_words BETWEEN 35 AND 100000 AS ok_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
       n_stop_distinct >= 2 AS ok_stopwords,
       CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8 AS ok_alpha,
       (n_words BETWEEN 35 AND 100000)
         AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND n_stop_distinct >= 2
         AND CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8 AS keep
FROM s ORDER BY doc_id
""",
)
def ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard quality gates (Rae et al. 2021 §A1.1, public
    paper): word-count window, mean-word-length window, >=2 distinct
    stopwords, >=80% words containing a letter — each emitted as a flag
    plus the conjunctive keep decision. Unlike ext_quality_score's soft
    blend these are the REJECTION rules a curation pipeline applies
    first; all arithmetic is int/int division in double, so the flags
    are engine-exact with no rounding. Pure per-row projection — at
    100 TB this runs in the scan stage and the keep flag drives
    partition-pruned writes of the surviving corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    mean_wl = (F.length("text") - (n_words - F.lit(1))).cast(
        "double"
    ) / n_words
    n_stop_distinct = F.size(
        F.array_distinct(
            F.filter(toks, lambda w: w.isin("the", "a", "of", "and", "to"))
        )
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    ok_wc = n_words.between(35, 100000)
    ok_mwl = mean_wl.between(3.0, 10.0)
    ok_stop = n_stop_distinct >= 2
    ok_alpha = n_alpha.cast("double") / n_words >= 0.8
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha"),
        (ok_wc & ok_mwl & ok_stop & ok_alpha).alias("keep"),
    ).orderBy("doc_id")


@register(
    "ext_block_dedup",
    survey_id="EXT-BLOCK-DEDUP",
    category="llm-text",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
blocks AS (
  SELECT doc_id, i AS block_idx,
         md5(array_to_string(toks[(i-1)*3+1 : i*3], ' ')) AS block_h
  FROM t, UNNEST(generate_series(1, CAST(FLOOR(len(toks) / 3) AS BIGINT))) AS u(i)
),
freq AS (SELECT block_h, COUNT(*) AS n_occ FROM blocks GROUP BY block_h)
SELECT b.doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_blocks,
       CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_block_ratio
FROM blocks b JOIN freq f USING (block_h)
GROUP BY b.doc_id
ORDER BY b.doc_id
""",
)
def ext_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph/block-level dedup signal (the within-corpus granularity
    below document near-dup, cf. C4's three-sentence span dedup): text
    splits into non-overlapping 3-token blocks, each block is hashed,
    corpus-wide occurrence counts mark duplicated blocks, and each doc
    reports its duplicated-block ratio. Two shuffles, both on bounded
    keys: (block_h) for the frequency count — partial map-side combine
    shrinks it to one row per distinct block per partition — and
    (doc_id) for the per-doc rollup. At 100 TB the freq side stays
    proportional to DISTINCT blocks, not corpus size, and docs above a
    ratio threshold are dropped or span-cleaned."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    blocks = t.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.floor(F.size("toks") / 3).cast("bigint"),
            )
        ).alias("block_idx"),
        F.col("toks"),
    ).select(
        "doc_id",
        "block_idx",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("toks"),
                    ((F.col("block_idx") - 1) * 3 + 1).cast("int"),
                    3,
                ),
                " ",
            )
        ).alias("block_h"),
    )
    freq = blocks.groupBy("block_h").agg(F.count("*").alias("n_occ"))
    dup = F.when(F.col("n_occ") > 1, 1).otherwise(0)
    return (
        blocks.join(freq, "block_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(dup).cast("bigint").alias("n_dup_blocks"),
            (F.sum(dup).cast("double") / F.count("*")).alias(
                "dup_block_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "ext_vocab_coverage",
    survey_id="EXT-VOCAB",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT lang, tok FROM (
    SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM documents
  )
),
global_counts AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn
    FROM global_counts
  ) WHERE rn <= 1000
),
per_lang AS (
  SELECT t.lang,
         COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_covered
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
  GROUP BY t.lang
)
SELECT lang, n_tokens, n_covered,
       CAST(n_covered AS DOUBLE) / n_tokens AS coverage
FROM per_lang ORDER BY lang
""",
)
def ext_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage per language for a top-1000 global vocab —
    the out-of-vocabulary statistic that decides tokenizer vocab size
    and flags languages a shared vocab underserves.

    Token counting shuffles once on the token key (map-side combined);
    the ranked vocab is VOCABULARY-sized, not corpus-sized, so its
    unpartitioned top-k window and the coverage probe both run against
    a broadcast-scale table. Integer counts divide to bit-identical
    doubles.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    global_counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # orderBy+limit = TakeOrderedAndProject; the token vocabulary is
    # corpus-derived, so an unpartitioned rank window over it would
    # single-partition a potentially huge aggregate.
    vocab = (
        global_counts.orderBy(F.col("c").desc(), "tok")
        .limit(1000)
        .select("tok")
    )
    per_lang = (
        toks.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))),
            "tok",
            "left",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNotNull(), 1).otherwise(0)
            ).alias("n_covered"),
        )
    )
    return per_lang.select(
        "lang",
        "n_tokens",
        "n_covered",
        (F.col("n_covered").cast("double") / F.col("n_tokens")).alias(
            "coverage"
        ),
    ).orderBy("lang")


@register(
    "ext_winnowing",
    survey_id="EXT-WINNOW",
    category="llm-text",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE doc_id % 5 = 0
),
grams AS (
  SELECT doc_id, i AS pos,
         md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
  FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
),
wins AS (
  SELECT g.doc_id, w.pos AS win_start, g.pos, g.h,
         row_number() OVER (
           PARTITION BY g.doc_id, w.pos ORDER BY g.h ASC, g.pos DESC
         ) AS rk
  FROM grams g
  JOIN grams w
    ON w.doc_id = g.doc_id AND g.pos BETWEEN w.pos AND w.pos + 3
),
fps AS (
  SELECT DISTINCT doc_id, pos, h FROM wins WHERE rk = 1
)
SELECT doc_id, COUNT(*) AS n_fingerprints,
       MIN(h) AS min_fp, MAX(h) AS max_fp,
       md5(string_agg(h, ',' ORDER BY pos)) AS fp_digest
FROM fps GROUP BY doc_id ORDER BY doc_id
""",
)
def ext_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS algorithm): md5 each 3-token k-gram, slide a window of 4
    consecutive gram hashes over every document, and select each
    window's RIGHTMOST MINIMUM — one `min(struct(hash, -pos))` window
    aggregate per start position, deduplicated. The guarantee this buys
    over min-k signatures (ext_doc_fingerprint): any shared substring
    of ≥ 6 tokens yields at least one COMMON selected fingerprint, with
    density ~2/(w+1) — positional coverage no global-min sketch gives.
    md5 hex strings order identically in both engines, and the
    tie-break toward the larger position is pinned in the oracle's
    (h ASC, pos DESC) ranking, so the per-document fingerprint DIGEST
    (ordered md5 chain) hash-matches exactly. Scale: everything is
    row-local per document — the window frame runs inside a
    doc-partitioned sort, no cross-document data movement at all; the
    oracle's O(n·w) self-join is the spec, the frame is the plan."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    ).select("doc_id", F.split("text", " ").alias("toks"))
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                seq1(F.size("toks") - 2),
                lambda i: F.md5(
                    F.concat_ws(
                        " ",
                        F.element_at("toks", i),
                        F.element_at("toks", i + 1),
                        F.element_at("toks", i + 2),
                    )
                ),
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, 3)
    )
    sel = grams.select(
        "doc_id",
        F.min(F.struct("h", (-F.col("pos")).alias("np"))).over(w).alias("m"),
    ).select(
        "doc_id",
        (-F.col("m.np")).alias("pos"),
        F.col("m.h").alias("h"),
    ).distinct()
    return (
        sel.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.min("h").alias("min_fp"),
            F.max("h").alias("max_fp"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "h"))
                        ),
                        lambda s: s["h"],
                    ),
                    ",",
                )
            ).alias("fp_digest"),
        )
        .orderBy("doc_id")
    )


@register(
    "ext_k_anonymity",
    survey_id="EXT-KANON",
    category="llm-text",
    oracle="""
WITH q AS (
  SELECT lang, source,
         CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_bucket,
         COUNT(*) AS grp_n
  FROM documents GROUP BY lang, source, FLOOR(n_chars / 100)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(grp_n) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
         AS rows_violating_k5,
       CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_violating_k5,
       (MIN(grp_n) >= 5) AS is_k5_anonymous
FROM q
""",
)
def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data release pipeline runs after PII redaction
    (ext_pii_redaction removes direct identifiers; this measures
    whether the INDIRECT ones still single people out): every
    (lang, source, length-bucket) equivalence class is counted, and
    the audit reports the smallest class, the rows and classes below
    k=5, and the overall verdict. One map-side-combinable groupBy over
    the quasi-identifier tuple, then an O(classes) rollup — the same
    two-tier shape at any corpus size. A failing audit's remediation
    (generalize buckets, suppress small classes) re-runs the identical
    query with coarser keys."""
    d = load_table(spark, sf_dir, "documents")
    q = d.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).cast("bigint").alias("len_bucket"),
    ).agg(F.count("*").alias("grp_n"))
    return q.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.min("grp_n").cast("bigint").alias("min_class_size"),
        F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
        .cast("bigint")
        .alias("rows_violating_k5"),
        F.sum(F.when(F.col("grp_n") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_violating_k5"),
        (F.min("grp_n") >= 5).alias("is_k5_anonymous"),
    )


@register(
    "ext_data_card_report",
    survey_id="EXT-DATACARD",
    category="llm-text",
    oracle="""
WITH base AS (
  SELECT source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         n_chars
  FROM documents
)
SELECT COALESCE(source, 'ALL') AS source,
       COALESCE(lang, 'ALL') AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CAST(n_toks AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
         AS avg_tokens,
       ROUND(quantile_cont(n_toks, 0.5), 4) AS p50_tokens,
       MIN(n_toks) AS min_tokens,
       MAX(n_toks) AS max_tokens
FROM base
GROUP BY ROLLUP (source, lang)
ORDER BY source, lang
""",
)
def ext_data_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset datasheet ("data card") generator — the per-(source,
    lang) corpus profile with subtotal and grand-total rows that
    accompanies a training-data release: document counts, token and
    character volume, mean / median / extreme document lengths, at
    every ROLLUP level (source x lang, per-source, corpus-wide). Token
    counts are integers so every sum is exact; the mean is the
    decimal-exact davg form; the interpolated median rounds to 4
    (d17 precedent). Scale: one pass — ROLLUP computes all three
    grouping levels inside a single partial/final aggregate (no
    re-scan per level), keyed on a few dozen composite values; the
    exact per-group percentile is the only sort, swap in
    approx_percentile at 100 TB under the same plan."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        "n_chars",
    )
    return (
        d.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            davg("n_toks").alias("avg_tokens"),
            F.round(F.percentile("n_toks", 0.5), 4).alias("p50_tokens"),
            F.min("n_toks").alias("min_tokens"),
            F.max("n_toks").alias("max_tokens"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source"),
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            "n_docs",
            "total_tokens",
            "total_chars",
            "avg_tokens",
            "p50_tokens",
            "min_tokens",
            "max_tokens",
        )
        .orderBy("source", "lang")
    )


@register(
    "ext_encoding_repair",
    survey_id="EXT-MOJIBAKE",
    category="llm-text",
    oracle="""
WITH moji AS (
  SELECT chr(195) || chr(169) || chr(194) || chr(167)
         || chr(195) || chr(188) AS bad,
         chr(233) || chr(167) || chr(252) AS good
),
c AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 3 = 0 THEN d.text || ' ' || m.bad
              ELSE d.text END AS corrupted,
         CASE WHEN d.doc_id % 3 = 0 THEN d.text || ' ' || m.good
              ELSE d.text END AS repaired
  FROM documents d, moji m
)
SELECT doc_id,
       length(repaired) AS repaired_len,
       md5(repaired) AS repaired_md5,
       corrupted <> repaired AS was_mojibake
FROM c ORDER BY doc_id
""",
)
def ext_encoding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair — the ftfy-style encoding fix every web-crawl
    pipeline needs: text that was UTF-8 on the wire but got decoded as
    Latin-1 somewhere upstream reads as 'Ã©' where 'é' was meant. The
    repair is the exact inverse — re-encode the corrupted text as
    ISO-8859-1 (recovering the original UTF-8 bytes byte-for-byte,
    since Latin-1 maps codepoints U+00-U+FF to themselves) and decode
    those bytes as UTF-8 — done entirely JVM-side with the built-in
    encode/decode pair, no UDF. A third of the corpus is corrupted
    with a multi-char mojibake suffix (Ã©Â§Ã¼ ← é§ü); clean ASCII
    documents pass through the same repair unchanged, which is the
    detection signal (repaired <> input). The oracle rebuilds the
    repaired text closed-form and the md5 of every repaired document
    must match — a byte-exact check that the recovered text is right,
    not just its length. Scale: one codegen'd projection, no shuffle
    beyond the final presentation sort."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    good = "".join(chr(c) for c in (233, 167, 252))  # é§ü
    bad = good.encode("utf-8").decode("latin-1")  # Ã©Â§Ã¼
    corrupted = F.when(
        F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" " + bad))
    ).otherwise(F.col("text"))
    c = d.select("doc_id", corrupted.alias("corrupted"))
    repaired = F.decode(F.encode("corrupted", "ISO-8859-1"), "UTF-8")
    return c.select(
        "doc_id",
        F.length(repaired).alias("repaired_len"),
        F.md5(repaired).alias("repaired_md5"),
        (F.col("corrupted") != repaired).alias("was_mojibake"),
    ).orderBy("doc_id")


@register(
    "ext_corpus_statistics",
    survey_id="EXT-CORPUS-STATS",
    category="llm-text",
    oracle="""
WITH tok AS (
  SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token),
lg AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS big_n,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(n * (n - 1)) AS BIGINT) AS simpson_num
  FROM tf GROUP BY lang
),
top AS (
  SELECT lang, n,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n DESC, token) AS rnk
  FROM tf QUALIFY rnk <= 50
),
grid AS (
  SELECT lang,
         CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000e0) AS BIGINT) AS x,
         CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000e0) AS BIGINT) AS y
  FROM top
),
ols AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM grid GROUP BY lang
)
SELECT lg.lang,
       lg.big_n AS n_tokens,
       lg.vocab,
       CAST(lg.vocab AS DOUBLE) / CAST(lg.big_n AS DOUBLE)
         AS type_token_ratio,
       CAST(lg.simpson_num AS DOUBLE)
         / CAST(lg.big_n * (lg.big_n - 1) AS DOUBLE) AS simpson_index,
       CAST(ols.m * ols.sxy - ols.sx * ols.sy AS DOUBLE)
         / CAST(ols.m * ols.sxx - ols.sx * ols.sx AS DOUBLE) AS zipf_slope
FROM lg JOIN ols USING (lang)
ORDER BY lg.lang
""",
)
def ext_corpus_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics — the profile sheet a training
    corpus ships with: token volume, vocabulary size, type-token
    ratio, Simpson concentration index (the probability two random
    tokens coincide — integer-exact numerator Σn·(n−1)), and the
    ZIPF SLOPE: an OLS fit of ln(freq) on ln(rank) over each
    language's top-50 tokens (natural corpora land near −1; a corpus
    whose slope drifts is the classic boilerplate/duplication smell).
    The fit uses the gridded-transcendental recipe (ln values floored
    to a 1e-6 grid → ALL sufficient statistics are exact BIGINTs →
    slope is one division of exact integers), so even the regression
    hash-matches. Rank assignment is top-k-per-group (WindowGroupLimit
    — never a corpus-wide window). Scale: one explode + keyed count,
    one 50-row-per-lang rank, one 5-row aggregate."""
    tok = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("lang", "token").agg(F.count("*").alias("n"))
    lg = tf.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(F.col("n") * (F.col("n") - 1))
        .cast("bigint")
        .alias("simpson_num"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    top = tf.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 50
    )
    grid = top.select(
        "lang",
        F.floor(F.log(F.col("rnk").cast("double")) * 1e6)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("n").cast("double")) * 1e6)
        .cast("bigint")
        .alias("y"),
    )
    ols = grid.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return (
        lg.join(ols, "lang")
        .select(
            "lang",
            F.col("big_n").alias("n_tokens"),
            "vocab",
            (F.col("vocab").cast("double") / F.col("big_n").cast("double"))
            .alias("type_token_ratio"),
            (
                F.col("simpson_num").cast("double")
                / (F.col("big_n") * (F.col("big_n") - 1)).cast("double")
            ).alias("simpson_index"),
            (
                (
                    F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
                ).cast("double")
                / (
                    F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double")
            ).alias("zipf_slope"),
        )
        .orderBy("lang")
    )


@register(
    "ext_l_diversity",
    survey_id="EXT-LDIV",
    category="llm-text",
    oracle="""
WITH q AS (
  SELECT source,
         CAST(FLOOR(n_chars / 200) AS BIGINT) AS len_bucket,
         lang
  FROM documents
),
g AS (
  SELECT source, len_bucket,
         CAST(SUM(cnt) AS BIGINT) AS grp_n,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_distinct,
         CAST(MAX(cnt) AS BIGINT) AS max_sensitive
  FROM (
    SELECT source, len_bucket, lang, COUNT(*) AS cnt
    FROM q GROUP BY source, len_bucket, lang
  ) GROUP BY source, len_bucket
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(l_distinct) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN l_distinct < 2 THEN grp_n ELSE 0 END)
            AS BIGINT) AS rows_below_l2,
       CAST(SUM(CASE WHEN max_sensitive * 2 > grp_n THEN 1 ELSE 0 END)
            AS BIGINT) AS classes_majority_dominated,
       MIN(l_distinct) >= 2 AS is_2_diverse
FROM g
""",
)
def ext_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al.) — the attack
    k-anonymity misses: a class of 50 identical-quasi-identifier rows
    is useless to an attacker ONLY if the sensitive attribute varies
    within it; here each (source, length-bucket) class is scored by
    how many distinct sensitive values (lang as the stand-in) it
    carries and whether one value dominates (homogeneity attack
    surface = classes where the top value exceeds half the class).
    Two keyed aggregations — sensitive-value counts, then class
    rollup — both map-side combinable; the audit row is O(classes).
    Complements EXT-KANON in the release-gate trio."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "source",
        F.floor(F.col("n_chars") / 200).cast("bigint").alias("len_bucket"),
        "lang",
    )
    cnt = q.groupBy("source", "len_bucket", "lang").agg(
        F.count("*").alias("cnt")
    )
    g = cnt.groupBy("source", "len_bucket").agg(
        F.sum("cnt").cast("bigint").alias("grp_n"),
        F.count("*").cast("bigint").alias("l_distinct"),
        F.max("cnt").cast("bigint").alias("max_sensitive"),
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.min("l_distinct").cast("bigint").alias("min_l"),
        F.sum(
            F.when(F.col("l_distinct") < 2, F.col("grp_n")).otherwise(0)
        )
        .cast("bigint")
        .alias("rows_below_l2"),
        F.sum(
            F.when(F.col("max_sensitive") * 2 > F.col("grp_n"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("classes_majority_dominated"),
        (F.min("l_distinct") >= 2).alias("is_2_diverse"),
    )


@register(
    "ext_t_closeness",
    survey_id="EXT-TCLOSE",
    category="llm-text",
    oracle="""
WITH q AS (
  SELECT source,
         CAST(FLOOR(n_chars / 200) AS BIGINT) AS len_bucket,
         lang
  FROM documents
),
gl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS g FROM q GROUP BY lang),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM q),
cls AS (
  SELECT source, len_bucket, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM q GROUP BY source, len_bucket, lang
),
cn AS (
  SELECT source, len_bucket, CAST(SUM(c) AS BIGINT) AS n
  FROM cls GROUP BY source, len_bucket
),
terms AS (
  SELECT cn.source, cn.len_bucket, cn.n,
         CAST(SUM(ABS(COALESCE(cls.c, 0) * tot.big_n - gl.g * cn.n))
              AS BIGINT) AS tv_num
  FROM cn CROSS JOIN gl CROSS JOIN tot
  LEFT JOIN cls ON cls.source = cn.source
               AND cls.len_bucket = cn.len_bucket
               AND cls.lang = gl.lang
  GROUP BY cn.source, cn.len_bucket, cn.n, tot.big_n
),
vals AS (
  SELECT tv_num, n,
         CAST(tv_num AS DOUBLE)
           / (2e0 * CAST(n AS DOUBLE)
              * CAST((SELECT big_n FROM tot) AS DOUBLE)) AS tv
  FROM terms
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       MAX(tv) AS max_tv,
       CAST(SUM(CASE WHEN tv > 0.3e0 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_exceeding_t,
       MAX(tv) <= 0.3e0 AS is_t_close_03
FROM vals
""",
)
def ext_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al.) — the third rung of the release
    gate after k-anonymity and l-diversity: even a diverse class leaks
    if its sensitive-value DISTRIBUTION differs sharply from the
    corpus-wide one (skewness attack), so every (source, length-
    bucket) class is scored by the total-variation distance between
    its lang distribution and the global distribution. The distance
    is computed integer-exactly in cross-multiplied form — Σ|c_i·N −
    g_i·n| over the GLOBAL value spine (absent values contribute
    their full global mass) with one double division per class at the
    end — so the audit hash-matches. Scale: class×values spine join
    rides a broadcast of the tiny (value, global-count) table; the
    per-class aggregate is map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "source",
        F.floor(F.col("n_chars") / 200).cast("bigint").alias("len_bucket"),
        "lang",
    )
    gl = q.groupBy("lang").agg(F.count("*").cast("bigint").alias("g"))
    big_n = q.count()
    cls = q.groupBy("source", "len_bucket", "lang").agg(
        F.count("*").cast("bigint").alias("c")
    )
    cn = cls.groupBy("source", "len_bucket").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    spine = cn.crossJoin(F.broadcast(gl))
    terms = (
        spine.join(cls, ["source", "len_bucket", "lang"], "left")
        .groupBy("source", "len_bucket", "n")
        .agg(
            F.sum(
                F.abs(
                    F.coalesce(F.col("c"), F.lit(0)) * F.lit(big_n)
                    - F.col("g") * F.col("n")
                )
            )
            .cast("bigint")
            .alias("tv_num")
        )
    )
    vals = terms.select(
        "tv_num",
        (
            F.col("tv_num").cast("double")
            / (F.lit(2.0) * F.col("n").cast("double") * F.lit(float(big_n)))
        ).alias("tv"),
    )
    return vals.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.max("tv").alias("max_tv"),
        F.sum(F.when(F.col("tv") > 0.3, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_exceeding_t"),
        (F.max("tv") <= 0.3).alias("is_t_close_03"),
    )


@register(
    "ext_rake_keywords",
    survey_id="EXT-RAKE",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT doc_id, pos, tk[pos] AS w FROM (
    SELECT doc_id, tk, UNNEST(generate_series(1, len(tk))) AS pos
    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
  )
),
flagged AS (
  SELECT doc_id, pos, w,
         CASE WHEN w IN ('the','a','of','and','to') THEN 1 ELSE 0 END
           AS is_stop
  FROM toks
),
islands AS (
  SELECT doc_id, pos, w, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
),
phrases AS (
  SELECT doc_id, island,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM islands WHERE is_stop = 0
  GROUP BY doc_id, island
  HAVING COUNT(*) BETWEEN 2 AND 4
),
members AS (
  SELECT p.doc_id, p.island, p.n_words, i.w
  FROM phrases p JOIN islands i
    ON i.doc_id = p.doc_id AND i.island = p.island AND i.is_stop = 0
),
wstats AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(n_words) AS BIGINT) AS deg
  FROM members GROUP BY w
),
wscore AS (SELECT w, deg * 1000000 // freq AS score_q FROM wstats),
pscore AS (
  SELECT m.doc_id, m.island,
         CAST(SUM(ws.score_q) AS BIGINT) AS score_q
  FROM members m JOIN wscore ws ON ws.w = m.w
  GROUP BY m.doc_id, m.island
),
ranked AS (
  SELECT p.phrase, p.n_words, s.score_q,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM phrases p JOIN pscore s
    ON s.doc_id = p.doc_id AND s.island = p.island
  GROUP BY p.phrase, p.n_words, s.score_q
)
SELECT phrase, n_words, score_q, n_occurrences
FROM ranked ORDER BY score_q DESC, phrase LIMIT 10
""",
)
def ext_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the classic
    unsupervised keyphrase method, stated relationally: stopwords
    split each document into candidate phrases (a gaps-and-islands
    pass: the running stopword count IS the island id), every
    candidate word scores degree/frequency (degree = summed length of
    phrases containing it — co-occurrence credit; frequency penalizes
    boilerplate words), and a phrase scores the sum of its member
    word scores. Scores ride a 1e6 integer grid (deg·1e6 div freq),
    so the whole ranking is exact; top-10 via
    TakeOrderedAndProject. Scale: one explode, per-document windows,
    two keyed aggregates over corpus-bounded phrase tables — the
    textbook RAKE loop with no driver involvement."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    stop = ("the", "a", "of", "and", "to")
    flagged = toks.select(
        "doc_id",
        "pos",
        "w",
        F.when(F.col("w").isin(*stop), 1).otherwise(0).alias("is_stop"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("is_stop").over(win))
    nonstop = pin(islands.where(F.col("is_stop") == 0))
    phrases = (
        nonstop.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("bigint").alias("n_words"),
        )
        .where(F.col("n_words").between(2, 4))
    )
    members = nonstop.join(
        phrases.select("doc_id", "island", "n_words"),
        ["doc_id", "island"],
    )
    wscore = (
        members.groupBy("w")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("n_words").cast("bigint").alias("deg"),
        )
        .select(
            "w", F.expr("deg * 1000000 div freq").alias("score_q")
        )
    )
    pscore = (
        members.join(wscore, "w")
        .groupBy("doc_id", "island")
        .agg(F.sum("score_q").cast("bigint").alias("score_q"))
    )
    ranked = (
        phrases.join(pscore, ["doc_id", "island"])
        .groupBy("phrase", "n_words", "score_q")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )
    return (
        ranked.orderBy(F.col("score_q").desc(), "phrase")
        .limit(10)
        .select("phrase", "n_words", "score_q", "n_occurrences")
    )


_TEXTRANK_ORACLE = """
WITH toks AS (
  SELECT doc_id, pos, tk[pos] AS w FROM (
    SELECT doc_id, tk, UNNEST(generate_series(1, len(tk))) AS pos
    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
  )
),
ns AS (
  SELECT doc_id, pos, w FROM toks
  WHERE w NOT IN ('the','a','of','and','to')
),
e0 AS (
  SELECT LEAST(a.w, b.w) AS u, GREATEST(a.w, b.w) AS v,
         CAST(COUNT(*) AS BIGINT) AS wt
  FROM ns a JOIN ns b
    ON a.doc_id = b.doc_id
   AND b.pos - a.pos BETWEEN 1 AND 2
   AND a.w <> b.w
  GROUP BY 1, 2
),
edges AS (
  SELECT u AS src, v AS dst, wt FROM e0
  UNION ALL SELECT v, u, wt FROM e0
),
wdeg AS (SELECT src, CAST(SUM(wt) AS BIGINT) AS d FROM edges GROUP BY src),
s0 AS (SELECT src AS w, CAST(1000000 AS BIGINT) AS s FROM wdeg),
r1 AS (
  SELECT e.dst AS w,
         150000 + CAST(SUM(85 * (e.wt * s0.s // wd.d) // 100) AS BIGINT)
           AS s
  FROM edges e JOIN s0 ON s0.w = e.src JOIN wdeg wd ON wd.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS w,
         150000 + CAST(SUM(85 * (e.wt * r1.s // wd.d) // 100) AS BIGINT)
           AS s
  FROM edges e JOIN r1 ON r1.w = e.src JOIN wdeg wd ON wd.src = e.src
  GROUP BY e.dst
)
SELECT w AS word, s AS score_q FROM r2
ORDER BY score_q DESC, word LIMIT 10
"""


@register(
    "ext_textrank_keywords",
    survey_id="EXT-TEXTRANK",
    category="llm-text",
    oracle=_TEXTRANK_ORACLE,
)
def ext_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau 2004) — PageRank on
    the word co-occurrence graph, the graph-centrality complement of
    RAKE's degree/frequency heuristic: non-stopword tokens within
    distance 2 of each other become weighted undirected edges, and
    two damped power-iteration rounds (d=0.85, uniform start)
    redistribute mass along edge weights. Every step is INTEGER
    arithmetic on a 1e6 grid — the per-neighbor contribution is
    wt·s(u) div wdeg(u), the damping is 85·x div 100 — so both rounds
    hash-match the oracle's unrolled CTEs exactly (same recipe as
    LPA/BFS/HITS, which share this graph discipline). Top-10 via
    TakeOrderedAndProject. Scale: edge build is a position-band
    self-join within documents (never cross-document); each round is
    one keyed join + combine, localCheckpoint lineage cuts."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    stop = ("the", "a", "of", "and", "to")
    ns = pin(toks.where(~F.col("w").isin(*stop)))
    a, b = ns.alias("a"), ns.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") - F.col("a.pos")).between(1, 2)
            & (F.col("a.w") != F.col("b.w")),
        )
        .groupBy(
            F.least("a.w", "b.w").alias("u"),
            F.greatest("a.w", "b.w").alias("v"),
        )
        .agg(F.count("*").cast("bigint").alias("wt"))
    )
    edges = pin(
        e0.select(F.col("u").alias("src"), F.col("v").alias("dst"), "wt")
        .unionAll(
            e0.select(
                F.col("v").alias("src"), F.col("u").alias("dst"), "wt"
            )
        )
    )
    wdeg = edges.groupBy("src").agg(F.sum("wt").cast("bigint").alias("d"))
    scores = wdeg.select(
        F.col("src").alias("w"), F.lit(1_000_000).cast("bigint").alias("s")
    )
    for _ in range(2):
        contrib = (
            edges.join(scores.withColumnRenamed("w", "src"), "src")
            .join(wdeg, "src")
            .select(
                F.col("dst").alias("w"),
                F.expr("85 * (wt * s div d) div 100").alias("c"),
            )
        )
        scores = pin(
            contrib.groupBy("w")
            .agg(
                (F.lit(150_000) + F.sum("c").cast("bigint")).alias("s")
            )
        )
    return (
        scores.orderBy(F.col("s").desc(), "w")
        .limit(10)
        .select(F.col("w").alias("word"), F.col("s").alias("score_q"))
    )


@register(
    "ext_html_text_extraction",
    survey_id="EXT-HTML-EXTRACT",
    category="llm-text",
    oracle="""
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' '
         || replace(text, ' the ', ' & ') AS extracted,
       CAST(length('Doc ' || CAST(doc_id AS VARCHAR) || ' '
         || replace(text, ' the ', ' & ')) AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 3 = 0
ORDER BY doc_id
""",
)
def ext_html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction — the first stage of every web-corpus
    pipeline (the C4/CommonCrawl recipe): each sampled document is
    wrapped into a realistic HTML page (title, <style> block, <nav>
    boilerplate, entity-escaped body), and the extraction pipeline
    must drop style/script CONTENT (not just the tags), strip markup,
    remove navigation boilerplate, unescape entities, and normalize
    whitespace — all as JVM-side regexp/replace column expressions,
    no UDF. The oracle is the GROUND TRUTH reconstruction computed
    directly from the source text (never a replica of the regexps),
    so the check proves the pipeline recovers exactly the content
    that went in. At 100 TB this is a stateless row-local map —
    whole-stage codegen over the scan, zero shuffles."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id"),
        F.lit("</title><style>body { margin: 0; }</style></head>"),
        F.lit('<body><nav class="top">home | about | contact</nav><p>'),
        F.regexp_replace(F.col("text"), F.lit(" the "), F.lit(" &amp; ")),
        F.lit("</p><script>track();</script></body></html>"),
    )
    t = d.select("doc_id", html.alias("html"))
    no_blocks = F.regexp_replace(
        F.regexp_replace(
            F.col("html"), F.lit("<style>.*?</style>"), F.lit(" ")
        ),
        F.lit("<script>.*?</script>"),
        F.lit(" "),
    )
    no_tags = F.regexp_replace(no_blocks, F.lit("<[^>]*>"), F.lit(" "))
    no_nav = F.regexp_replace(
        no_tags, F.lit("home \\| about \\| contact"), F.lit(" ")
    )
    unescaped = F.replace(
        F.replace(
            F.replace(no_nav, F.lit("&amp;"), F.lit("&")),
            F.lit("&lt;"),
            F.lit("<"),
        ),
        F.lit("&gt;"),
        F.lit(">"),
    )
    clean = F.trim(
        F.regexp_replace(unescaped, F.lit("\\s+"), F.lit(" "))
    )
    return t.select(
        "doc_id",
        clean.alias("extracted"),
        F.length(clean).cast("bigint").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "ext_hash_collision_audit",
    survey_id="EXT-HASH-AUDIT",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
),
hashed AS (
  SELECT doc_id, term,
         CAST(('0x' || substr(md5(term), 1, 12)) AS BIGINT) % 1024
           AS bucket
  FROM toks
),
cells AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
  FROM hashed GROUP BY bucket
),
summary AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_used_buckets,
         CAST(SUM(CASE WHEN n_terms > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_collision_buckets,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(MAX(n_tokens) AS BIGINT) AS max_bucket_load
  FROM cells
)
SELECT c.bucket, c.n_tokens, c.n_terms,
       s.n_used_buckets, s.n_collision_buckets, s.total_tokens,
       s.max_bucket_load
FROM cells c CROSS JOIN summary s
ORDER BY c.n_tokens DESC, c.bucket LIMIT 20
""",
)
def ext_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (feature hashing / HashingTF) with a PORTABLE
    hash: tokens land in 1024 md5-derived buckets — the fixed-width
    featurization that needs no vocabulary broadcast, no fitting pass,
    and no OOV handling, which is why it's the default first
    featurizer at corpus scale (MLlib's HashingTF uses JVM-private
    murmur seeds; the md5-nibble hash makes the SAME features
    computable in any engine, so the bucket loads, per-bucket distinct
    -term counts and the collision summary are all hash-oracled).
    Output: top-20 heaviest buckets + global collision statistics —
    the diagnostic that tells you whether 1024 dims is enough for
    this vocabulary. Scale: one explode → one map-side-combinable
    groupBy into a fixed 1024-cell table; the summary rides the cell
    table."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 12), 16, 10).cast(
            "bigint"
        )
        % 1024
    )
    cells = (
        toks.select(bucket.alias("bucket"), "term")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.countDistinct("term").cast("bigint").alias("n_terms"),
        )
    )
    summary = cells.agg(
        F.count("*").cast("bigint").alias("n_used_buckets"),
        F.sum(F.when(F.col("n_terms") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_collision_buckets"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_bucket_load"),
    )
    return (
        cells.crossJoin(F.broadcast(summary))
        .select(
            "bucket",
            "n_tokens",
            "n_terms",
            "n_used_buckets",
            "n_collision_buckets",
            "total_tokens",
            "max_bucket_load",
        )
        .orderBy(F.col("n_tokens").desc(), "bucket")
        .limit(20)
    )


@register(
    "ext_perplexity_buckets",
    survey_id="EXT-PPL-BUCKETS",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
),
bigrams AS (
  SELECT doc_id, lang,
         UNNEST(list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM toks
),
split_bg AS (
  SELECT doc_id, lang,
         string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
  FROM bigrams
),
bg_counts AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM split_bg GROUP BY w1, w2
),
uni AS (SELECT w1, SUM(c2) AS c1 FROM bg_counts GROUP BY w1),
vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM bg_counts),
scored AS (
  SELECT s.doc_id, s.lang,
         CAST(log2((b.c2 + 1.0) / (u.c1 + v.v)) AS DECIMAL(28,10)) AS lp
  FROM split_bg s
  JOIN bg_counts b ON s.w1 = b.w1 AND s.w2 = b.w2
  JOIN uni u ON s.w1 = u.w1
  CROSS JOIN vocab v
),
doc_scores AS (
  SELECT doc_id, lang,
         COUNT(*) AS n_bigrams,
         CAST(CAST(CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6))
              AS DOUBLE) AS score
  FROM scored GROUP BY doc_id, lang
),
ranked AS (
  SELECT lang, n_bigrams, score,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM doc_scores
)
SELECT lang,
       CASE (3 * (rk - 1)) // cnt
         WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
       CAST(CAST(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS avg_score,
       MIN(score) AS min_score,
       MAX(score) AS max_score
FROM ranked
GROUP BY lang, (3 * (rk - 1)) // cnt
ORDER BY lang, bucket
""",
)
def ext_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document under the
    corpus's own add-one-smoothed bigram LM (EXT-LM-SCORE's exact
    discipline — per-bigram log-probs decimal-cast before the per-doc
    mean), then split each LANGUAGE into head / middle / tail terciles
    by LM fit — the filter CCNet uses to keep the well-modeled third of
    a crawl. Tercile = (3*(rank-1)) div count on the per-language rank
    (deterministic: score ties break on doc_id), so the cut is exact
    and engine-portable, unlike quantile-valued cuts.

    Scale: bigram counts are vocab^2-bounded (broadcast back onto the
    bigram stream); the per-language rank avoids a single-partition
    sort via the two-phase pattern — rows bucket by floor(score*100),
    per-(lang,bucket) counts roll into per-language offsets (tiny,
    langs x ~600 rows, broadcast), and a row_number partitioned by
    (lang, bucket) adds the within-bucket position. The widest window
    in the plan is over a few hundred offset rows; everything
    corpus-sized stays hash-partitioned. Output is langs x 3 rows."""
    # r11 perf (guide §2.5): corpus-scale n-gram explode off a 1-split
    # local scan — spread() widens it (conditional; no-op on wide scans).
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                seq1(F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ).alias("bg"),
    )
    parts = F.split("bg", " ")
    split_bg = bg.select(
        "doc_id",
        "lang",
        parts.getItem(0).alias("w1"),
        parts.getItem(1).alias("w2"),
    )
    bg_counts = split_bg.groupBy(
        F.col("w1").alias("b_w1"), F.col("w2").alias("b_w2")
    ).agg(F.count("*").alias("c2"))
    uni = bg_counts.groupBy(F.col("b_w1").alias("u_w1")).agg(
        F.sum("c2").alias("c1")
    )
    vocab = bg_counts.agg(F.countDistinct("b_w2").alias("v"))
    lp = F.log2((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))).cast(
        "decimal(28,10)"
    )
    doc_scores = (
        split_bg.join(
            F.broadcast(bg_counts),
            (F.col("w1") == F.col("b_w1")) & (F.col("w2") == F.col("b_w2")),
        )
        .join(F.broadcast(uni), F.col("w1") == F.col("u_w1"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum(lp.alias("lp")).cast("double") / F.count("*"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("score"),
        )
    )
    # two-phase per-language rank: coarse-monotone score bucket
    # (descending — rank 1 is the BEST-modeled doc), tiny offset table
    fb = F.floor(F.col("score") * 100).alias("_fb")
    tagged = doc_scores.withColumn("_fb", fb)
    counts = tagged.groupBy("lang", "_fb").agg(F.count("*").alias("_n"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy(F.col("_fb").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "lang",
        "_fb",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_n").over(Window.partitionBy("lang")).alias("cnt"),
    )
    w_in = Window.partitionBy("lang", "_fb").orderBy(
        F.col("score").desc(), "doc_id"
    )
    ranked = tagged.join(F.broadcast(offsets), ["lang", "_fb"]).withColumn(
        "rk", F.col("_off") + F.row_number().over(w_in)
    )
    tercile = F.expr("((rk - 1) * 3) div cnt")
    bucket = (
        F.when(tercile == 0, "head")
        .when(tercile == 1, "middle")
        .otherwise("tail")
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            (
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            )
            .cast("decimal(18,6)")
            .cast("double")
            .alias("avg_score"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "ext_kneser_ney_bigram",
    survey_id="EXT-KNESER-NEY",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS tk
  FROM documents WHERE doc_id % 5 = 0
),
bg_counts AS (
  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c2
  FROM (
    SELECT UNNEST(list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i+1])) AS bg
    FROM toks
  ) GROUP BY 1, 2
),
lhs AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS fanout
  FROM bg_counts GROUP BY w1
),
rhs AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ctn FROM bg_counts GROUP BY w2),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bg_counts)
SELECT w1, w2, c2, fanout, ctn, p_num, p_den,
       CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) AS p_kn
FROM (
  SELECT b.w1, b.w2, b.c2, l.fanout, r.ctn,
         CAST(tot.t * (4 * b.c2 - 3) + 3 * l.fanout * r.ctn AS BIGINT)
           AS p_num,
         CAST(4 * l.c1 * tot.t AS BIGINT) AS p_den
  FROM bg_counts b
  JOIN lhs l ON b.w1 = l.w1
  JOIN rhs r ON b.w2 = r.w2
  CROSS JOIN tot
  WHERE b.c2 >= 5
)
ORDER BY w1, w2
""",
)
def ext_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing
    that made n-gram LMs work, and the scoring backbone of
    perplexity-based corpus filtering (CCNet-style): P_KN(w2|w1) =
    (c(w1,w2) - D)/c(w1.) + D*N1+(w1.)/c(w1.) * N1+(.w2)/N1+(..) with
    absolute discount D = 3/4.  The continuation probability counts
    the DISTINCT left-contexts of w2, not its raw frequency — the
    "San Francisco" correction.  With D = 3/4 the whole expression is
    one exact rational: p_num = T*(4*c2-3) + 3*fanout*ctn over
    p_den = 4*c1*T, emitted as BIGINTs whose double quotient is
    bit-identical on both engines (c2 >= 1, so the discount never
    clips and max(.,0) is vacuous).

    Scale shape: one corpus-scale shuffle into the distinct-bigram
    table; every other input (left fan-outs, continuation counts, the
    1-row type total) is a vocabulary-scale aggregate of THAT table —
    the joins are vocab-sized on both sides and the type total rides a
    broadcast cross join.  BIGINT headroom: 4*c1*T caps at ~4e10 at
    bench scale; a 100 TB corpus would lift p_num/p_den to
    DECIMAL(38,0) per the repo discipline."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    toks = F.split("text", " ")
    bigrams = d.select(
        F.explode(
            F.transform(
                seq1(F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ).alias("bg")
    )
    parts = F.split("bg", " ")
    bg = (
        bigrams.select(
            parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2")
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c2"))
    )
    lhs = bg.groupBy(F.col("w1").alias("l_w1")).agg(
        F.sum("c2").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("fanout"),
    )
    rhs = bg.groupBy(F.col("w2").alias("r_w2")).agg(
        F.count("*").cast("bigint").alias("ctn")
    )
    tot = bg.agg(F.count("*").cast("bigint").alias("t"))
    return (
        bg.where(F.col("c2") >= 5)
        .join(lhs, F.col("w1") == F.col("l_w1"))
        .join(rhs, F.col("w2") == F.col("r_w2"))
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c2",
            "fanout",
            "ctn",
            (
                F.col("t") * (4 * F.col("c2") - 3)
                + 3 * F.col("fanout") * F.col("ctn")
            )
            .cast("bigint")
            .alias("p_num"),
            (4 * F.col("c1") * F.col("t")).cast("bigint").alias("p_den"),
        )
        .withColumn(
            "p_kn",
            F.col("p_num").cast("double") / F.col("p_den").cast("double"),
        )
        .orderBy("w1", "w2")
    )


@register(
    "ext_ngram_novelty_decay",
    survey_id="EXT-NOVELTY",
    category="llm-text",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
dg AS (
  SELECT DISTINCT doc_id, substr(md5(g), 1, 16) AS g
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(tk) - 4),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                       || tk[i+3] || ' ' || tk[i+4])) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
  )
),
dec AS (
  SELECT dg.doc_id, dg.g,
         CAST(LEAST(9, dg.doc_id * 10 // (mx.m + 1)) AS BIGINT) AS decile
  FROM dg CROSS JOIN mx
),
totals AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS total_grams
  FROM dec GROUP BY decile
),
novel AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS novel_grams
  FROM (SELECT g, MIN(decile) AS decile, MIN(doc_id) FROM dec GROUP BY g)
  GROUP BY decile
)
SELECT t.decile, t.total_grams, COALESCE(n.novel_grams, 0) AS novel_grams,
       CAST((1000000 * COALESCE(n.novel_grams, 0)) // t.total_grams
            AS BIGINT) AS novelty_micro
FROM totals t LEFT JOIN novel n USING (decile)
ORDER BY t.decile
""",
)
def ext_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diminishing-returns curve of corpus growth: per doc_id
    decile, what fraction of (doc, 5-gram) observations are NOVEL —
    i.e. the gram's first occurrence in doc_id order falls in that
    decile.  A healthy diverse corpus decays slowly; heavy duplication
    or templated text makes the curve crash — the diagnostic a data
    team reads before buying more of the same crawl.  novelty_micro is
    exact BIGINT floor division.

    Scale shape: grams are md5-slimmed to 16 hex chars before the two
    corpus-scale keyed aggregations (distinct doc-gram, then min-doc
    per gram) — the same slim-before-shuffle discipline as the shingle
    graph builders, and portable to the oracle (md5 is engine-shared,
    and any collision is identical on both sides).  A gram's novelty
    decile is derived from its MIN(doc_id) inside the same aggregate —
    no join back against the corpus — and the final decile join is 10
    rows."""
    # r11 perf (guide §2.5): corpus-scale n-gram explode off a 1-split
    # local scan — spread() widens it (conditional; no-op on wide scans).
    d = spread(load_table(spark, sf_dir, "documents"))
    mx = d.agg(F.max("doc_id").alias("m"))
    toks = F.split("text", " ")
    dg = (
        d.select(
            "doc_id",
            F.explode(
                F.transform(
                    seq1(F.size(toks) - 4),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                        F.element_at(toks, i + 3),
                        F.element_at(toks, i + 4),
                    ),
                )
            ).alias("g0"),
        )
        .select("doc_id", F.substring(F.md5("g0"), 1, 16).alias("g"))
        .distinct()
        .crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            "g",
            F.least(
                F.lit(9), F.col("doc_id") * 10 / (F.col("m") + 1)
            )
            .cast("bigint")
            .alias("decile"),
        )
    )
    totals = dg.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("total_grams")
    )
    novel = (
        dg.groupBy("g")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("bigint").alias("novel_grams"))
    )
    return (
        totals.join(novel, "decile", "left")
        .select(
            "decile",
            "total_grams",
            F.coalesce("novel_grams", F.lit(0))
            .cast("bigint")
            .alias("novel_grams"),
            F.expr(
                "CAST((1000000 * COALESCE(novel_grams, 0)) DIV total_grams "
                "AS BIGINT)"
            ).alias("novelty_micro"),
        )
        .orderBy("decile")
    )


@register(
    "ext_good_turing_smoothing",
    survey_id="EXT-GOOD-TURING",
    category="llm-text",
    oracle="""
WITH tf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY token
),
ff AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tf GROUP BY c),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM tf),
spine AS (SELECT UNNEST(generate_series(0, 10)) AS r)
SELECT s.r,
       COALESCE(cur.n_r, 0) AS n_r,
       COALESCE(nxt.n_r, 0) AS n_next,
       CASE WHEN s.r >= 1 AND COALESCE(cur.n_r, 0) > 0
            THEN CAST(((s.r + 1) * COALESCE(nxt.n_r, 0) * 1000000)
                      // cur.n_r AS BIGINT)
            ELSE 0 END AS r_star_micro,
       CAST(((s.r + 1) * COALESCE(nxt.n_r, 0) * 1000000) // tot.t
            AS BIGINT) AS mass_micro
FROM spine s
LEFT JOIN ff cur ON cur.r = s.r
LEFT JOIN ff nxt ON nxt.r = s.r + 1
CROSS JOIN tot
ORDER BY s.r
""",
)
def ext_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus unigram counts —
    the classical answer to "how much probability mass belongs to
    tokens we have NOT seen yet", which for a training-data pipeline
    doubles as a coverage diagnostic: a large unseen mass (row r=0)
    says the crawl is still discovering vocabulary, a tiny one says
    the corpus has saturated (compare ext_ngram_novelty_decay, which
    reads the same signal off 5-grams over ingest order).

    Per count r in 0..10: the frequency-of-frequencies N_r, the Turing
    re-estimate r* = (r+1)*N_{r+1}/N_r, and the total smoothed mass
    this count class keeps, (r+1)*N_{r+1}/T — one formula that at r=0
    IS the missing-mass estimate N_1/T (N_0 conceptually infinite, so
    r* is reported as 0 there). All derived values are exact BIGINT
    floor-micro ratios — the two engines agree bit-for-bit.

    Scale shape: one explode + one map-side-combinable token count
    (the only corpus-scale shuffle), then a <=vocab-size frequency-of-
    frequencies aggregate, an 11-row spine, and broadcast joins. The
    spine joins are trivially broadcast; nothing here grows faster
    than the vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ff = tf.groupBy(F.col("c").alias("r")).agg(
        F.count("*").cast("bigint").alias("n_r")
    )
    tot = tf.agg(F.sum("c").cast("bigint").alias("t"))
    spine = spark.range(0, 11).select(F.col("id").alias("r"))
    cur = ff.select(F.col("r").alias("cr"), F.col("n_r").alias("cur_n"))
    nxt = ff.select((F.col("r") - 1).alias("nr"), F.col("n_r").alias("nxt_n"))
    return (
        spine.join(F.broadcast(cur), F.col("r") == F.col("cr"), "left")
        .join(F.broadcast(nxt), F.col("r") == F.col("nr"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            F.coalesce("cur_n", F.lit(0)).cast("bigint").alias("n_r"),
            F.coalesce("nxt_n", F.lit(0)).cast("bigint").alias("n_next"),
            F.when(
                (F.col("r") >= 1) & (F.coalesce("cur_n", F.lit(0)) > 0),
                F.expr(
                    "((r + 1) * COALESCE(nxt_n, 0) * 1000000) "
                    "DIV cur_n"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("r_star_micro"),
            F.expr("((r + 1) * COALESCE(nxt_n, 0) * 1000000) DIV t")
            .cast("bigint")
            .alias("mass_micro"),
        )
        .orderBy("r")
    )


@register(
    "ext_ppmi_associations",
    survey_id="EXT-PPMI",
    category="llm-text",
    oracle="""
WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
pairs AS (
  SELECT string_split(p, CHR(31))[1] AS w1,
         string_split(p, CHR(31))[2] AS w2
  FROM (
    SELECT UNNEST(
      list_concat(
        list_transform(generate_series(1, GREATEST(len(tk) - 1, 0)),
                       i -> tk[i] || CHR(31) || tk[i+1]),
        list_transform(generate_series(1, GREATEST(len(tk) - 2, 0)),
                       i -> tk[i] || CHR(31) || tk[i+2]))) AS p
    FROM toks
  )
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pairs),
top50 AS (
  SELECT w1 FROM (
    SELECT token AS w1, COUNT(*) AS n,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rk
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
  ) WHERE rk <= 50
),
c2t AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM pairs GROUP BY w2),
c12t AS (
  SELECT p.w1, p.w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM pairs p JOIN top50 USING (w1)
  GROUP BY p.w1, p.w2
),
c1t AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12t GROUP BY w1),
scored AS (
  SELECT c12t.w1, c12t.w2, c12t.c12, c1t.c1, c2t.c2, tot.t,
         CAST(FLOOR(ln((CAST(c12t.c12 AS DOUBLE) * CAST(tot.t AS DOUBLE))
                       / (CAST(c1t.c1 AS DOUBLE) * CAST(c2t.c2 AS DOUBLE)))
                    * 1000000e0) AS BIGINT) AS pmi_micro
  FROM c12t JOIN c1t USING (w1) JOIN c2t USING (w2) CROSS JOIN tot
)
SELECT w1, w2, c12, c1, c2, t, pmi_micro,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
             ORDER BY pmi_micro DESC, c12 DESC, w2) AS rk
  FROM scored
) WHERE rk <= 5
ORDER BY w1, rank
""",
)
def ext_ppmi_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI word associations — the count-based precursor of word
    embeddings (PPMI factorization IS skip-gram's implicit objective,
    Levy & Goldberg 2014): for each of the corpus's 50 most frequent
    tokens, the 5 co-occurring tokens with the highest pointwise
    mutual information ln(c12*T / (c1*c2)) over a 2-token forward
    window. A data pipeline reads this as a collocation/boilerplate
    probe: natural corpora surface grammatical collocates, template
    farms surface frozen phrases with near-ln(T) PMI.

    Exactness: every count is an exact BIGINT; the PMI itself is the
    gridded-transcendental recipe (identical int64 -> double casts,
    one correctly-rounded divide, ln floored to the 1e-6 grid), and
    the top-5 rank orders by the GRIDDED value with c12/w2
    tie-breaks, so both engines select identical rows.

    Scale shape: pair formation is row-local (two shifted zips);
    marginal c2 is one map-side-combinable count over the pair
    stream; c12 is counted only for pairs whose head survives the
    broadcast top-50 semi-join (the corpus-scale shuffle is filtered
    BEFORE the exchange); c1 folds out of c12 rather than re-scanning
    pairs; the final scoring joins broadcast the 50-head side; the
    top-50 itself is a TakeOrdered, never a global window. Nothing is
    all-pairs; the only vocab-wide state is the c2 table, keyed and
    combinable."""
    sep = chr(31)
    # r11 perf (guide §2.5): corpus-scale n-gram explode off a 1-split
    # local scan — spread() widens it (conditional; no-op on wide scans).
    d = spread(load_table(spark, sf_dir, "documents"))
    tk = F.split("text", " ")

    def mk(k):
        return F.when(
            F.size(tk) >= k + 1,
            F.transform(
                seq1(F.size(tk) - k),
                lambda i: F.concat_ws(
                    sep, F.element_at(tk, i), F.element_at(tk, i + k)
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))

    pairs = d.select(F.explode(F.concat(mk(1), mk(2))).alias("p")).select(
        F.split_part(F.col("p"), F.lit(sep), F.lit(1)).alias("w1"),
        F.split_part(F.col("p"), F.lit(sep), F.lit(2)).alias("w2"),
    )
    tot = pairs.agg(F.count("*").cast("bigint").alias("t"))
    top50 = (
        d.select(F.explode(F.split("text", " ")).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "w1")
        .limit(50)
        .select("w1")
    )
    c2t = pairs.groupBy("w2").agg(F.count("*").cast("bigint").alias("c2"))
    c12t = (
        pairs.join(F.broadcast(top50), "w1", "left_semi")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    c1t = c12t.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    scored = (
        F.broadcast(c12t)
        .join(c2t, "w2")
        .join(F.broadcast(c1t), "w1")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            "t",
            F.floor(
                F.log(
                    (F.col("c12").cast("double") * F.col("t").cast("double"))
                    / (
                        F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                )
                * 1e6
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    w = Window.partitionBy("w1").orderBy(
        F.col("pmi_micro").desc(), F.col("c12").desc(), "w2"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .orderBy("w1", "rank")
    )


@register(
    "ext_bleu_self_similarity",
    survey_id="EXT-BLEU",
    category="llm-text",
    oracle="""
WITH paired AS (
  SELECT lang, string_split(text, ' ') AS c,
         string_split(lead(text) OVER (PARTITION BY lang ORDER BY doc_id),
                      ' ') AS r
  FROM documents
),
pp AS (SELECT * FROM paired WHERE r IS NOT NULL),
grams AS (
  SELECT lang, len(c) AS cand_len, len(r) AS ref_len,
         list_transform(c, x -> substr(md5(x), 1, 16)) AS gc1,
         list_transform(r, x -> substr(md5(x), 1, 16)) AS gr1,
         list_transform(generate_series(1, GREATEST(len(c) - 1, 0)),
                        i -> substr(md5(c[i] || ' ' || c[i+1]), 1, 16))
           AS gc2,
         list_transform(generate_series(1, GREATEST(len(r) - 1, 0)),
                        i -> substr(md5(r[i] || ' ' || r[i+1]), 1, 16))
           AS gr2,
         list_transform(generate_series(1, GREATEST(len(c) - 2, 0)),
                        i -> substr(md5(c[i] || ' ' || c[i+1] || ' '
                                        || c[i+2]), 1, 16)) AS gc3,
         list_transform(generate_series(1, GREATEST(len(r) - 2, 0)),
                        i -> substr(md5(r[i] || ' ' || r[i+1] || ' '
                                        || r[i+2]), 1, 16)) AS gr3,
         list_transform(generate_series(1, GREATEST(len(c) - 3, 0)),
                        i -> substr(md5(c[i] || ' ' || c[i+1] || ' '
                                        || c[i+2] || ' ' || c[i+3]), 1, 16))
           AS gc4,
         list_transform(generate_series(1, GREATEST(len(r) - 3, 0)),
                        i -> substr(md5(r[i] || ' ' || r[i+1] || ' '
                                        || r[i+2] || ' ' || r[i+3]), 1, 16))
           AS gr4
  FROM pp
),
perpair AS (
  SELECT lang, cand_len, ref_len,
         COALESCE(list_sum(list_transform(list_distinct(gc1),
           g -> LEAST(len(list_filter(gc1, x -> x = g)),
                      len(list_filter(gr1, x -> x = g))))), 0) AS m1,
         len(gc1) AS t1,
         COALESCE(list_sum(list_transform(list_distinct(gc2),
           g -> LEAST(len(list_filter(gc2, x -> x = g)),
                      len(list_filter(gr2, x -> x = g))))), 0) AS m2,
         len(gc2) AS t2,
         COALESCE(list_sum(list_transform(list_distinct(gc3),
           g -> LEAST(len(list_filter(gc3, x -> x = g)),
                      len(list_filter(gr3, x -> x = g))))), 0) AS m3,
         len(gc3) AS t3,
         COALESCE(list_sum(list_transform(list_distinct(gc4),
           g -> LEAST(len(list_filter(gc4, x -> x = g)),
                      len(list_filter(gr4, x -> x = g))))), 0) AS m4,
         len(gc4) AS t4
  FROM grams
),
agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(cand_len) AS BIGINT) AS cand_tokens,
         CAST(SUM(ref_len) AS BIGINT) AS ref_tokens,
         CAST(SUM(m1) AS BIGINT) AS c1, CAST(SUM(t1) AS BIGINT) AS t1,
         CAST(SUM(m2) AS BIGINT) AS c2, CAST(SUM(t2) AS BIGINT) AS t2,
         CAST(SUM(m3) AS BIGINT) AS c3, CAST(SUM(t3) AS BIGINT) AS t3,
         CAST(SUM(m4) AS BIGINT) AS c4, CAST(SUM(t4) AS BIGINT) AS t4
  FROM perpair GROUP BY lang
),
lned AS (
  SELECT *,
    CASE WHEN cand_tokens <= ref_tokens
         THEN CAST(FLOOR((1e0 - CAST(ref_tokens AS DOUBLE)
                          / CAST(cand_tokens AS DOUBLE)) * 1000000e0)
                   AS BIGINT)
         ELSE 0 END AS bp_ln_micro,
    CAST(FLOOR(ln(CAST(c1 + 1 AS DOUBLE) / CAST(t1 + 1 AS DOUBLE))
               * 1000000e0) AS BIGINT)
    + CAST(FLOOR(ln(CAST(c2 + 1 AS DOUBLE) / CAST(t2 + 1 AS DOUBLE))
               * 1000000e0) AS BIGINT)
    + CAST(FLOOR(ln(CAST(c3 + 1 AS DOUBLE) / CAST(t3 + 1 AS DOUBLE))
               * 1000000e0) AS BIGINT)
    + CAST(FLOOR(ln(CAST(c4 + 1 AS DOUBLE) / CAST(t4 + 1 AS DOUBLE))
               * 1000000e0) AS BIGINT) AS lp_sum_micro
  FROM agg
)
SELECT lang, n_pairs, cand_tokens, ref_tokens,
       c1, t1, c2, t2, c3, t3, c4, t4, bp_ln_micro, lp_sum_micro,
       CAST(FLOOR(exp(CAST(4 * bp_ln_micro + lp_sum_micro AS DOUBLE)
                      / 4000000e0) * 1000e0) AS BIGINT) AS bleu_milli
FROM lned
ORDER BY lang
""",
)
def ext_bleu_self_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed corpus BLEU of each document against its same-language
    successor — BLEU+1 (Lin & Och 2004: add-one clipped n-gram
    precisions, n=1..4, with the brevity penalty) used the way a data
    team actually uses it: not for MT eval but as a corpus
    SELF-SIMILARITY meter. High intra-language BLEU between unrelated
    adjacent docs means templated/boilerplate text; natural corpora
    sit near the unigram-overlap floor.

    Exactness: clipped matches and totals are exact BIGINTs computed
    row-locally (candidate and reference arrays sit in the same row,
    so min(count_c, count_r) per distinct gram is a pure array fold);
    ln precisions are gridded to 1e-6; the final exp composes exact
    micro integers (score*4 avoids signed integer division — both
    engines' DIV semantics differ on negatives) and floors at the
    1e-3 grid, ~9 orders above exp's ulp spread.

    Scale shape: pairing is a lead() window per language — at 100 TB
    partition additionally by (lang, doc_id bucket) with a boundary
    patch-join, the same pattern as ext_sessionize_batch. Everything
    after the pairing is row-local n-gram arithmetic in whole-stage
    codegen followed by one 5-row aggregate; no corpus-scale join,
    no gram exchange at all (grams never leave their row)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    # r11 perf (guide §2.5): the O(grams^2) clip folds below are
    # row-local but used to run in the lead() window's ~5 lang
    # partitions; spread the pairs across every core first (per-lang
    # sums are order-independent integers — same result).
    pp = (
        d.select(
            "lang",
            F.split("text", " ").alias("c"),
            F.split(F.lead("text").over(w), " ").alias("r"),
        )
        .where(F.col("r").isNotNull())
        .transform(spread)
    )

    def grams(col, n):
        # md5-slimmed to 16 hex chars: the clip fold below compares
        # each distinct gram against every gram occurrence, so compare
        # width matters; any collision hashes identically in DuckDB.
        if n == 1:
            return F.transform(
                F.col(col), lambda x: F.substring(F.md5(x), 1, 16)
            )
        return F.when(
            F.size(col) >= n,
            F.transform(
                seq1(F.size(col) - (n - 1)),
                lambda i: F.substring(
                    F.md5(F.array_join(F.slice(col, i, n), " ")), 1, 16
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))

    def clipped(gc, gr):
        return F.coalesce(
            F.aggregate(
                F.array_distinct(gc),
                F.lit(0).cast("bigint"),
                lambda acc, g: acc
                + F.least(
                    F.size(F.filter(gc, lambda x: x == g)),
                    F.size(F.filter(gr, lambda x: x == g)),
                ).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
        )

    # Materialize the gram arrays as real columns BEFORE folding over
    # them: a column reference inside a higher-order-function lambda is
    # a cheap attribute read, but an inline expression is re-evaluated
    # per lambda call — O(distinct-grams) rebuilds of a 50-element
    # string array per row without this select.
    gram_cols = ["lang", F.size("c").alias("cand_len"),
                 F.size("r").alias("ref_len")]
    for n in range(1, 5):
        gram_cols.append(grams("c", n).alias(f"gc{n}"))
        gram_cols.append(grams("r", n).alias(f"gr{n}"))
    gdf = pp.select(*gram_cols)
    cols = ["lang", "cand_len", "ref_len"]
    for n in range(1, 5):
        cols.append(
            clipped(F.col(f"gc{n}"), F.col(f"gr{n}")).alias(f"m{n}")
        )
        cols.append(F.size(f"gc{n}").alias(f"tt{n}"))
    perpair = gdf.select(*cols)
    agg = perpair.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("cand_len").cast("bigint").alias("cand_tokens"),
        F.sum("ref_len").cast("bigint").alias("ref_tokens"),
        *[
            c
            for n in range(1, 5)
            for c in (
                F.sum(f"m{n}").cast("bigint").alias(f"c{n}"),
                F.sum(f"tt{n}").cast("bigint").alias(f"t{n}"),
            )
        ],
    )
    lp = None
    for n in range(1, 5):
        term = F.floor(
            F.log(
                (F.col(f"c{n}") + 1).cast("double")
                / (F.col(f"t{n}") + 1).cast("double")
            )
            * 1e6
        ).cast("bigint")
        lp = term if lp is None else lp + term
    bp = F.when(
        F.col("cand_tokens") <= F.col("ref_tokens"),
        F.floor(
            (
                F.lit(1.0)
                - F.col("ref_tokens").cast("double")
                / F.col("cand_tokens").cast("double")
            )
            * 1e6
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    lned = agg.withColumn("bp_ln_micro", bp).withColumn("lp_sum_micro", lp)
    return lned.select(
        "lang",
        "n_pairs",
        "cand_tokens",
        "ref_tokens",
        *[c for n in range(1, 5) for c in (f"c{n}", f"t{n}")],
        "bp_ln_micro",
        "lp_sum_micro",
        F.floor(
            F.exp(
                (4 * F.col("bp_ln_micro") + F.col("lp_sum_micro")).cast(
                    "double"
                )
                / 4e6
            )
            * 1e3
        )
        .cast("bigint")
        .alias("bleu_milli"),
    ).orderBy("lang")


@register(
    "ext_rouge_l_similarity",
    survey_id="EXT-ROUGE-L",
    category="llm-text",
    oracle="""
WITH paired AS (
  SELECT lang, string_split(text, ' ')[1:24] AS c,
         string_split(lead(text) OVER (PARTITION BY lang ORDER BY doc_id),
                      ' ')[1:24] AS r
  FROM documents
),
pp AS (SELECT lang, c, r FROM paired WHERE r IS NOT NULL),
eqv AS (
  SELECT lang, len(c) AS nc, len(r) AS nr, r,
         list_transform(c, ct ->
           list_concat([0], list_transform(r, rt ->
             CASE WHEN rt = ct THEN 1 ELSE 0 END))) AS eqvecs
  FROM pp
),
dp AS (
  SELECT lang, nc, nr,
         reduce(
           list_concat(
             [list_transform(generate_series(0, nr), x -> 0)],
             eqvecs),
           (acc, eq) -> list_transform(generate_series(1, nr + 1),
             j -> CASE WHEN j = 1 THEN 0
                  ELSE GREATEST(acc[j],
                    COALESCE(list_max(list_transform(
                      generate_series(2, j),
                      i -> acc[i-1] + eq[i])), 0)) END)
         )[nr + 1] AS lcs
  FROM eqv
),
agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(lcs) AS BIGINT) AS lcs_sum,
         CAST(SUM(nc) AS BIGINT) AS cand_tokens,
         CAST(SUM(nr) AS BIGINT) AS ref_tokens
  FROM dp GROUP BY lang
)
SELECT lang, n_pairs, lcs_sum, cand_tokens, ref_tokens,
       CAST(lcs_sum * 1000000 // cand_tokens AS BIGINT) AS p_micro,
       CAST(lcs_sum * 1000000 // ref_tokens AS BIGINT) AS r_micro,
       CAST(2 * lcs_sum * 1000000 // (cand_tokens + ref_tokens)
            AS BIGINT) AS f1_micro
FROM agg
ORDER BY lang
""",
)
def ext_rouge_l_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level ROUGE-L between each document and its
    same-language successor (24-token cap) — the LCS-based overlap
    metric of summarization eval (Lin 2004), computed here as ONE
    higher-order-function expression per pair: the LCS dynamic
    program is an F.aggregate fold over candidate tokens whose
    accumulator IS the DP row, using the prefix-max identity
    new[j] = max(acc[j], max_{i<=j}(acc[i-1] + eq_i)) (valid because
    LCS DP rows are non-decreasing), so no UDF, no explode, no join —
    pure whole-stage-codegen array arithmetic, the viterbi/holt
    pattern applied to a 2-D DP.

    Corpus-level scores collapse to exact integers: with P = S/C and
    R = S/R_tok over SUMMED statistics, F1 = 2PR/(P+R) = 2S/(C+R_tok)
    identically, so precision, recall and F1 are all BIGINT
    floor-micro ratios — no transcendental, no grid. The DuckDB
    oracle runs the IDENTICAL fold via reduce() (accumulator list
    prepended, since reduce has no init parameter) over per-token
    equality vectors; both engines walk the same integer lattice.

    Scale shape: pairing is one lead() window per language (bucket +
    boundary-patch at 100 TB, as ext_bleu_self_similarity); the DP is
    row-local O(n*m^2) on 24-capped arrays (~7k integer ops/pair,
    in-scan); the reduction is a 5-row aggregate. Nothing leaves the
    row until the final groupBy."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    # r11 perf (guide §2.5/§2.6-adjacent): the lead() window hashes on
    # lang (~5 partitions), and the O(n*m^2) row-local LCS fold below
    # used to run in the SAME stage — the whole DP serialized onto ~5
    # tasks while the rest of the machine idled. Materialize the cheap
    # window pairing, then spread the heavy row-local projection across
    # defaultParallelism (core-count-adaptive; sums are order-independent
    # integers, so the round-robin repartition cannot change the result).
    pp = (
        d.select(
            "lang",
            F.slice(F.split("text", " "), 1, 24).alias("c"),
            F.slice(F.split(F.lead("text").over(w), " "), 1, 24).alias("r"),
        )
        .where(F.col("r").isNotNull())
        .transform(spread)
    )
    nr = F.size("r")
    lcs_row = F.aggregate(
        F.col("c"),
        F.transform(F.sequence(F.lit(0), nr), lambda x: F.lit(0).cast("bigint")),
        lambda acc, ct: F.transform(
            F.sequence(F.lit(1), nr + 1),
            lambda j: F.when(j == 1, F.lit(0).cast("bigint")).otherwise(
                F.greatest(
                    F.element_at(acc, j),
                    F.coalesce(
                        F.array_max(
                            F.transform(
                                F.sequence(F.lit(2), j),
                                lambda i: F.element_at(acc, i - 1)
                                + F.when(
                                    F.element_at(F.col("r"), i - 1) == ct,
                                    F.lit(1),
                                )
                                .otherwise(F.lit(0))
                                .cast("bigint"),
                            )
                        ),
                        F.lit(0).cast("bigint"),
                    ),
                )
            ),
        ),
    )
    dp = pp.select(
        "lang",
        F.size("c").alias("nc"),
        nr.alias("nr"),
        F.element_at(lcs_row, nr + 1).alias("lcs"),
    )
    agg = dp.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("lcs").cast("bigint").alias("lcs_sum"),
        F.sum("nc").cast("bigint").alias("cand_tokens"),
        F.sum("nr").cast("bigint").alias("ref_tokens"),
    )
    return agg.select(
        "lang",
        "n_pairs",
        "lcs_sum",
        "cand_tokens",
        "ref_tokens",
        F.expr("lcs_sum * 1000000 DIV cand_tokens")
        .cast("bigint")
        .alias("p_micro"),
        F.expr("lcs_sum * 1000000 DIV ref_tokens")
        .cast("bigint")
        .alias("r_micro"),
        F.expr("2 * lcs_sum * 1000000 DIV (cand_tokens + ref_tokens)")
        .cast("bigint")
        .alias("f1_micro"),
    ).orderBy("lang")


@register(
    "ext_lang_kl_divergence",
    survey_id="EXT-KL-DIVERGENCE",
    category="llm-text",
    oracle="""
WITH tf AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c_lw
  FROM (
    SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY lang, token
),
cw AS (SELECT token, CAST(SUM(c_lw) AS BIGINT) AS c_w FROM tf GROUP BY token),
nl AS (SELECT lang, CAST(SUM(c_lw) AS BIGINT) AS n_l,
              CAST(COUNT(*) AS BIGINT) AS vocab_l
       FROM tf GROUP BY lang),
tot AS (SELECT CAST(SUM(c_lw) AS BIGINT) AS n FROM tf),
terms AS (
  SELECT tf.lang,
         tf.c_lw * CAST(FLOOR(ln(
           (CAST(tf.c_lw AS DOUBLE) * CAST(tot.n AS DOUBLE))
           / (CAST(nl.n_l AS DOUBLE) * CAST(cw.c_w AS DOUBLE)))
           * 1000000e0) AS BIGINT) AS contrib
  FROM tf JOIN cw USING (token) JOIN nl USING (lang) CROSS JOIN tot
)
SELECT nl.lang, nl.n_l, nl.vocab_l,
       CAST(SUM(t.contrib) AS BIGINT) AS kl_num_micro,
       CAST(CAST(SUM(t.contrib) AS DOUBLE) / CAST(nl.n_l AS DOUBLE)
            / 1000000e0 AS DOUBLE) AS kl_nats
FROM terms t JOIN nl USING (lang)
GROUP BY nl.lang, nl.n_l, nl.vocab_l
ORDER BY nl.lang
""",
)
def ext_lang_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each language's unigram LM from the corpus
    unigram LM, KL(P_lang || P_corpus) = sum_w p_l(w) ln(p_l(w)/p_c(w))
    — the domain-shift score behind mixture design (how far each
    slice sits from the blend it feeds; the same quantity DoReMi-style
    reweighting tracks per domain). Languages that share vocabulary
    with the blend score near 0; disjoint-vocabulary slices score near
    ln(n/n_l).

    Exactness: each term's transcendental rides the gridded-ln recipe
    (all four counts are exact BIGINTs; products stay < 2^53 so the
    int64->double casts are exact), and the per-language SUM is over
    BIGINT contributions c_lw * lnGrid — exact and order-independent.
    Only the final kl_nats divides, on identical operands.

    Scale shape: one (lang, token) count (map-side combinable), one
    token-marginal rollup OF THAT TABLE (no second corpus scan), a
    per-lang total, and one keyed join on token between the two
    vocab-sized tables; the lang-total and corpus-total ride
    broadcasts. Nothing corpus-scale after the first count."""
    # r11 A/B: spread() before the explode measured SLOWER here (0.61 s
    # -> 0.85 s) — the unigram explode feeds one map-side-combinable
    # count, so the extra exchange costs more than the map stage saves.
    d = load_table(spark, sf_dir, "documents")
    # Materialize the (lang, token) count once: Catalyst has no
    # DAG-level subtree sharing, so without this each of the four
    # consumers (marginal, lang totals, corpus total, terms) re-scans
    # the corpus — 5 scans of 100 TB instead of 1 scan + 4 passes over
    # a vocab-sized table. Plan-asserted in test_plans.py.
    tf = pin(
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("bigint").alias("c_lw"))
    )
    cw = tf.groupBy("token").agg(F.sum("c_lw").cast("bigint").alias("c_w"))
    nl = tf.groupBy("lang").agg(
        F.sum("c_lw").cast("bigint").alias("n_l"),
        F.count("*").cast("bigint").alias("vocab_l"),
    )
    tot = tf.agg(F.sum("c_lw").cast("bigint").alias("n"))
    terms = (
        tf.join(cw, "token")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            (
                F.col("c_lw")
                * F.floor(
                    F.log(
                        (
                            F.col("c_lw").cast("double")
                            * F.col("n").cast("double")
                        )
                        / (
                            F.col("n_l").cast("double")
                            * F.col("c_w").cast("double")
                        )
                    )
                    * 1e6
                ).cast("bigint")
            ).alias("contrib"),
        )
    )
    return (
        terms.groupBy("lang")
        .agg(F.sum("contrib").cast("bigint").alias("kl_num_micro"))
        .join(F.broadcast(nl), "lang")
        .select(
            "lang",
            "n_l",
            "vocab_l",
            "kl_num_micro",
            (
                F.col("kl_num_micro").cast("double")
                / F.col("n_l").cast("double")
                / F.lit(1e6)
            ).alias("kl_nats"),
        )
        .orderBy("lang")
    )


@register(
    "ext_bigram_conditional_entropy",
    survey_id="EXT-COND-ENTROPY",
    category="llm-text",
    oracle="""
WITH toks AS (
  SELECT lang, string_split(text, ' ') AS tk FROM documents
),
bg AS (
  SELECT lang, string_split(b, CHR(31))[1] AS w1,
         string_split(b, CHR(31))[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c12
  FROM (
    SELECT lang, UNNEST(list_transform(
             generate_series(1, GREATEST(len(tk) - 1, 0)),
             i -> tk[i] || CHR(31) || tk[i+1])) AS b
    FROM toks
  ) GROUP BY 1, 2, 3
),
c1t AS (SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM bg GROUP BY lang, w1),
terms AS (
  SELECT bg.lang,
         bg.c12 * CAST(FLOOR(ln(CAST(bg.c12 AS DOUBLE)
                                / CAST(c1t.c1 AS DOUBLE))
                             * 1000000e0) AS BIGINT) AS contrib,
         bg.c12
  FROM bg JOIN c1t USING (lang, w1)
)
SELECT lang,
       CAST(SUM(c12) AS BIGINT) AS n_bigrams,
       CAST(-SUM(contrib) AS BIGINT) AS h_num_micro,
       CAST(CAST(-SUM(contrib) AS DOUBLE) / CAST(SUM(c12) AS DOUBLE)
            / 1000000e0 AS DOUBLE) AS h_cond_nats
FROM terms GROUP BY lang
ORDER BY lang
""",
)
def ext_bigram_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(W2|W1) per language = -(1/T) *
    sum_{w1,w2} c12 * ln(c12/c1) — the information-theoretic
    predictability of the corpus at bigram order. Shannon's measure of
    how much a language model can gain from one token of context:
    near-zero means frozen templates (every next token determined),
    values near the unigram entropy mean context-free text. The same
    number, tracked across crawls, is a cheap templating/boilerplate
    drift monitor that complements ext_bleu_self_similarity (surface
    overlap) and ext_ngram_novelty_decay (corpus growth).

    Exactness: the gridded-ln recipe per (w1,w2) term, summed as exact
    BIGINT c12*lnGrid contributions; the final nats value divides
    identical doubles. Bigram formation is row-local; the only
    corpus-scale exchange is the (lang,w1,w2) count (map-side
    combinable); c1 folds out of the bigram table itself (no second
    scan); the per-lang reduce is 5 rows."""
    sep = chr(31)
    # r11 perf (guide §2.5): corpus-scale n-gram explode off a 1-split
    # local scan — spread() widens it (conditional; no-op on wide scans).
    d = spread(load_table(spark, sf_dir, "documents"))
    tk = F.split("text", " ")
    bg = pin(
        d.select(
            "lang",
            F.explode(
                F.when(
                    F.size(tk) >= 2,
                    F.transform(
                        seq1(F.size(tk) - 1),
                        lambda i: F.concat_ws(
                            sep,
                            F.element_at(tk, i),
                            F.element_at(tk, i + 1),
                        ),
                    ),
                ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
            ).alias("b"),
        )
        .select(
            "lang",
            F.split_part(F.col("b"), F.lit(sep), F.lit(1)).alias("w1"),
            F.split_part(F.col("b"), F.lit(sep), F.lit(2)).alias("w2"),
        )
        .groupBy("lang", "w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        # materialized once: both the c1 rollup and the terms join
        # consume it, and Catalyst would otherwise re-scan the corpus
        # per consumer (see ext_lang_kl_divergence)
    )
    c1t = bg.groupBy("lang", "w1").agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    terms = bg.join(c1t, ["lang", "w1"]).select(
        "lang",
        "c12",
        (
            F.col("c12")
            * F.floor(
                F.log(F.col("c12").cast("double") / F.col("c1").cast("double"))
                * 1e6
            ).cast("bigint")
        ).alias("contrib"),
    )
    return (
        terms.groupBy("lang")
        .agg(
            F.sum("c12").cast("bigint").alias("n_bigrams"),
            (-F.sum("contrib")).cast("bigint").alias("h_num_micro"),
        )
        .select(
            "lang",
            "n_bigrams",
            "h_num_micro",
            (
                F.col("h_num_micro").cast("double")
                / F.col("n_bigrams").cast("double")
                / F.lit(1e6)
            ).alias("h_cond_nats"),
        )
        .orderBy("lang")
    )


@register(
    "ext_chrf_self_similarity",
    survey_id="EXT-CHRF",
    category="llm-text",
    oracle="""
WITH paired AS (
  SELECT lang, replace(text, ' ', '') AS c,
         replace(lead(text) OVER (PARTITION BY lang ORDER BY doc_id),
                 ' ', '') AS r
  FROM documents
),
pp AS (SELECT lang, c[1:120] AS c, r[1:120] AS r FROM paired
       WHERE r IS NOT NULL),
grams AS (
  SELECT lang,
         list_transform(generate_series(1, GREATEST(len(c) - 5, 0)),
                        i -> c[i : i + 5]) AS gc,
         list_transform(generate_series(1, GREATEST(len(r) - 5, 0)),
                        i -> r[i : i + 5]) AS gr
  FROM pp
),
perpair AS (
  SELECT lang,
         COALESCE(list_sum(list_transform(list_distinct(gc),
           g -> LEAST(len(list_filter(gc, x -> x = g)),
                      len(list_filter(gr, x -> x = g))))), 0) AS m,
         len(gc) AS ct, len(gr) AS rt
  FROM grams
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(m) AS BIGINT) AS matched,
       CAST(SUM(ct) AS BIGINT) AS cand_grams,
       CAST(SUM(rt) AS BIGINT) AS ref_grams,
       CAST(SUM(m) * 1000000 // SUM(ct) AS BIGINT) AS p_micro,
       CAST(SUM(m) * 1000000 // SUM(rt) AS BIGINT) AS r_micro,
       CAST(5 * SUM(m) * 1000000 // (4 * SUM(rt) + SUM(ct)) AS BIGINT)
         AS chrf2_micro
FROM perpair GROUP BY lang
ORDER BY lang
""",
)
def ext_chrf_self_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF2 (Popovic 2015) between each document and its
    same-language successor — character 6-gram F-score with beta=2,
    the third leg of the eval trio next to ext_bleu_self_similarity
    (word n-gram precision) and ext_rouge_l_similarity (LCS): char
    grams see sub-word overlap (morphology, templated IDs) that word
    metrics miss, which is exactly the near-dup signal template farms
    leave. Text is whitespace-stripped then capped at 120 chars; the
    clipped-match count per pair is the same distinct-gram min-count
    fold as BLEU.

    Exactness: with corpus sums, P = S/C and R = S/R give
    F_beta=2 = 5PR/(4P+R) = 5S/(4R+C) IDENTICALLY — so precision,
    recall and chrF2 are all exact BIGINT floor-micro ratios; no
    transcendental anywhere in this query.

    Scale shape: one lead() window per language (bucket + boundary
    patch at 100 TB), then row-local char-gram folds (grams never
    leave their row) into a 5-row aggregate. No join, no corpus-scale
    shuffle beyond the pairing exchange."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    strip = lambda col: F.substring(  # noqa: E731
        F.replace(col, F.lit(" "), F.lit("")), 1, 120
    )
    # r11 perf (guide §2.5): same spread-after-window fix as BLEU/ROUGE
    # — the 6-gram clip fold is row-local and was serialized onto the
    # ~5 lang window partitions.
    pp = (
        d.select(
            "lang",
            strip(F.col("text")).alias("c"),
            strip(F.lead("text").over(w)).alias("r"),
        )
        .where(F.col("r").isNotNull())
        .transform(spread)
    )

    # 6-gram arrays via expr: F.substring takes plain-int positions, so
    # the lambda-indexed slice needs the SQL form.
    gc = F.expr(
        "CASE WHEN length(c) >= 6 THEN "
        "transform(sequence(1, length(c) - 5), i -> substring(c, i, 6)) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    gr = F.expr(
        "CASE WHEN length(r) >= 6 THEN "
        "transform(sequence(1, length(r) - 5), i -> substring(r, i, 6)) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    gdf = pp.select("lang", gc.alias("gc"), gr.alias("gr"))
    m = F.coalesce(
        F.aggregate(
            F.array_distinct("gc"),
            F.lit(0).cast("bigint"),
            lambda acc, g: acc
            + F.least(
                F.size(F.filter("gc", lambda x: x == g)),
                F.size(F.filter("gr", lambda x: x == g)),
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )
    perpair = gdf.select(
        "lang",
        m.alias("m"),
        F.size("gc").alias("ct"),
        F.size("gr").alias("rt"),
    )
    return (
        perpair.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("m").cast("bigint").alias("matched"),
            F.sum("ct").cast("bigint").alias("cand_grams"),
            F.sum("rt").cast("bigint").alias("ref_grams"),
        )
        .select(
            "lang",
            "n_pairs",
            "matched",
            "cand_grams",
            "ref_grams",
            F.expr("matched * 1000000 DIV cand_grams")
            .cast("bigint")
            .alias("p_micro"),
            F.expr("matched * 1000000 DIV ref_grams")
            .cast("bigint")
            .alias("r_micro"),
            F.expr("5 * matched * 1000000 DIV (4 * ref_grams + cand_grams)")
            .cast("bigint")
            .alias("chrf2_micro"),
        )
        .orderBy("lang")
    )


@register(
    "ext_kn_heldout_perplexity",
    survey_id="EXT-KN-HELDOUT",
    category="llm-text",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tagged AS (
  SELECT doc_id, lang, string_split(text, ' ') AS tk,
         LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS epoch
  FROM documents CROSS JOIN mx
),
train_bg AS (
  SELECT lang, string_split(b, CHR(31))[1] AS w1,
         string_split(b, CHR(31))[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c12
  FROM (
    SELECT lang, UNNEST(list_transform(
             generate_series(1, GREATEST(len(tk) - 1, 0)),
             i -> tk[i] || CHR(31) || tk[i+1])) AS b
    FROM tagged WHERE epoch <= 2
  ) GROUP BY 1, 2, 3
),
lhs AS (SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS fanout
        FROM train_bg GROUP BY lang, w1),
rhs AS (SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS ctn
        FROM train_bg GROUP BY lang, w2),
tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(COUNT(DISTINCT w2) AS BIGINT) AS v
        FROM train_bg GROUP BY lang),
held AS (
  SELECT doc_id, lang, string_split(b, CHR(31))[1] AS w1,
         string_split(b, CHR(31))[2] AS w2
  FROM (
    SELECT doc_id, lang, UNNEST(list_transform(
             generate_series(1, GREATEST(len(tk) - 1, 0)),
             i -> tk[i] || CHR(31) || tk[i+1])) AS b
    FROM tagged WHERE epoch = 3
  )
),
scored AS (
  SELECT h.doc_id, h.lang,
         CAST(FLOOR(ln(
           CASE WHEN l.c1 IS NOT NULL THEN
             CAST((tot.t + tot.v)
                  * GREATEST(4 * COALESCE(b.c12, 0) - 3, 0)
                  + 3 * l.fanout * (COALESCE(r.ctn, 0) + 1) AS DOUBLE)
             / CAST(4 * l.c1 * (tot.t + tot.v) AS DOUBLE)
           ELSE
             CAST(COALESCE(r.ctn, 0) + 1 AS DOUBLE)
             / CAST(tot.t + tot.v AS DOUBLE)
           END) * 1000000e0) AS BIGINT) AS lnp_micro
  FROM held h
  JOIN tot ON h.lang = tot.lang
  LEFT JOIN lhs l ON h.lang = l.lang AND h.w1 = l.w1
  LEFT JOIN rhs r ON h.lang = r.lang AND h.w2 = r.w2
  LEFT JOIN train_bg b ON h.lang = b.lang AND h.w1 = b.w1 AND h.w2 = b.w2
),
per_doc AS (
  SELECT lang, doc_id, CAST(SUM(lnp_micro) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM scored GROUP BY lang, doc_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS n_bigrams,
       CAST(SUM(s) AS BIGINT) AS sum_ln_micro,
       CAST(exp(CAST(-SUM(s) AS DOUBLE)
                / CAST(SUM(nb) AS DOUBLE) / 1000000e0) AS DOUBLE) AS ppl,
       CAST(MAX((-s) // nb) AS BIGINT) AS worst_doc_nll_micro,
       CAST(MIN((-s) // nb) AS BIGINT) AS best_doc_nll_micro
FROM per_doc GROUP BY lang
ORDER BY lang
""",
)
def ext_kn_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT Kneser-Ney perplexity — the actual CCNet filtering
    loop, which ext_perplexity_buckets only approximates by scoring
    the corpus under itself: train an interpolated-KN bigram LM per
    language on the FIRST THREE doc_id quartiles, evaluate the fourth
    quartile the model never saw.  Unseen events get principled mass:
    an unseen (w1,w2) pair falls to the continuation term (the max(4
    c12-3,0) numerator vanishes), an unseen w2 rides add-one
    continuation counts (ctn+1 over T+V), an unseen w1 backs off to
    the continuation distribution entirely.  Per language: corpus
    perplexity of the held-out quartile plus the best/worst per-doc
    NLL — the spread a filtering threshold would be set against.

    Exactness: every probability is ONE rational of exact BIGINTs
    (the KN numerator/denominator trick of ext_kneser_ney_bigram with
    D=3/4 folded in), gridded through the 1e-6 ln lattice and SUMMED
    as integers; only the final ppl exponentiates identical doubles.
    Per-doc NLL divides negated (positive) integers, avoiding the
    engines' signed-DIV divergence.

    Scale shape: the train bigram table is built once and
    localCheckpoint'ed (four consumers — marginals, totals, and the
    scoring join — would otherwise each re-scan the corpus); all
    scoring joins are KEYED on (lang, w1[, w2]) against vocab-sized
    tables; lang totals broadcast. Two corpus scans total (train
    explode, held explode), everything after is vocabulary-scale."""
    sep = chr(31)
    # r11 perf (guide §2.5): corpus-scale n-gram explode off a 1-split
    # local scan — spread() widens it (conditional; no-op on wide scans).
    d = spread(load_table(spark, sf_dir, "documents"))
    mx = d.agg(F.max("doc_id").alias("m"))
    tk = F.split("text", " ")
    bigrams = F.explode(
        F.when(
            F.size(tk) >= 2,
            F.transform(
                seq1(F.size(tk) - 1),
                lambda i: F.concat_ws(
                    sep, F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    )
    tagged = d.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "lang",
        "text",
        F.least(F.lit(3), (F.col("doc_id") * 4 / (F.col("m") + 1)).cast("int"))
        .alias("epoch"),
    )
    train_bg = pin(
        tagged.where(F.col("epoch") <= 2)
        .select("lang", bigrams.alias("b"))
        .select(
            "lang",
            F.split_part(F.col("b"), F.lit(sep), F.lit(1)).alias("w1"),
            F.split_part(F.col("b"), F.lit(sep), F.lit(2)).alias("w2"),
        )
        .groupBy("lang", "w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    lhs = train_bg.groupBy("lang", "w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("fanout"),
    )
    rhs = train_bg.groupBy("lang", "w2").agg(
        F.count("*").cast("bigint").alias("ctn")
    )
    tot = train_bg.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("t"),
        F.countDistinct("w2").cast("bigint").alias("v"),
    )
    held = (
        tagged.where(F.col("epoch") == 3)
        .select("doc_id", "lang", bigrams.alias("b"))
        .select(
            "doc_id",
            "lang",
            F.split_part(F.col("b"), F.lit(sep), F.lit(1)).alias("w1"),
            F.split_part(F.col("b"), F.lit(sep), F.lit(2)).alias("w2"),
        )
    )
    tp = F.col("t") + F.col("v")
    p = F.when(
        F.col("c1").isNotNull(),
        (
            tp
            * F.greatest(4 * F.coalesce("c12", F.lit(0)) - 3, F.lit(0))
            + 3 * F.col("fanout") * (F.coalesce("ctn", F.lit(0)) + 1)
        ).cast("double")
        / (4 * F.col("c1") * tp).cast("double"),
    ).otherwise(
        (F.coalesce("ctn", F.lit(0)) + 1).cast("double") / tp.cast("double")
    )
    scored = (
        held.join(F.broadcast(tot), "lang")
        .join(lhs, ["lang", "w1"], "left")
        .join(rhs, ["lang", "w2"], "left")
        .join(train_bg, ["lang", "w1", "w2"], "left")
        .select(
            "doc_id",
            "lang",
            F.floor(F.log(p) * 1e6).cast("bigint").alias("lnp_micro"),
        )
    )
    per_doc = scored.groupBy("lang", "doc_id").agg(
        F.sum("lnp_micro").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("nb"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nb").cast("bigint").alias("n_bigrams"),
            F.sum("s").cast("bigint").alias("sum_ln_micro"),
            F.exp(
                (-F.sum("s")).cast("double")
                / F.sum("nb").cast("double")
                / F.lit(1e6)
            ).alias("ppl"),
            F.max(F.expr("(-s) DIV nb")).cast("bigint").alias(
                "worst_doc_nll_micro"
            ),
            F.min(F.expr("(-s) DIV nb")).cast("bigint").alias(
                "best_doc_nll_micro"
            ),
        )
        .orderBy("lang")
    )


@register(
    "ext_jensen_shannon_matrix",
    survey_id="EXT-JSD-MATRIX",
    category="llm-text",
    oracle="""
WITH tf AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY lang, token
),
nl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY lang),
expanded AS (
  SELECT s.lang AS src, t.lang AS tgt, s.token, s.c AS c1,
         COALESCE(o.c, 0) AS c2, ns.n AS n1, t.n AS n2
  FROM tf s
  CROSS JOIN nl t
  JOIN nl ns ON ns.lang = s.lang
  LEFT JOIN tf o ON o.lang = t.lang AND o.token = s.token
  WHERE t.lang <> s.lang
),
contrib AS (
  SELECT src, tgt,
         CAST(SUM(c1 * CAST(FLOOR(ln(
           CAST(2 * c1 * n2 AS DOUBLE)
           / CAST(c1 * n2 + c2 * n1 AS DOUBLE)) * 1000000e0) AS BIGINT))
           AS BIGINT) AS num,
         MAX(n1) AS n1
  FROM expanded GROUP BY src, tgt
)
SELECT a.src AS lang_a, a.tgt AS lang_b,
       a.num AS num_a, b.num AS num_b,
       CAST((CAST(a.num AS DOUBLE) / CAST(a.n1 AS DOUBLE)
             + CAST(b.num AS DOUBLE) / CAST(b.n1 AS DOUBLE))
            / 2000000e0 AS DOUBLE) AS jsd_nats
FROM contrib a JOIN contrib b ON a.src = b.tgt AND a.tgt = b.src
WHERE a.src < a.tgt
ORDER BY lang_a, lang_b
""",
)
def ext_jensen_shannon_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two language
    unigram LMs — the symmetric, bounded (<= ln 2) distance matrix a
    mixture designer clusters domains with (near-zero JSD = mergeable
    slices; ext_lang_kl_divergence gives each slice's distance to the
    BLEND, this gives slice-to-slice geometry). JSD(P,Q) =
    (KL(P||M) + KL(Q||M))/2 with M the even mixture; the M-ratio
    collapses to the exact rational 2*c1*n2 / (c1*n2 + c2*n1), so each
    directed numerator is an exact BIGINT sum of c1 * lnGrid terms —
    tokens absent from the other side contribute ln 2 naturally
    (c2=0), no smoothing needed because P's support drives each sum.

    Scale shape: ONE corpus scan into the checkpointed (lang, token)
    count table; the expansion is tf x (L-1 other languages) — vocab
    x L rows, joined KEYED on (lang, token) back against tf; lang
    totals broadcast (L rows). For L languages the matrix costs
    O(vocab * L), never O(corpus)."""
    d = load_table(spark, sf_dir, "documents")
    tf = pin(
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    nl = tf.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    src = tf.select(
        F.col("lang").alias("src"), "token", F.col("c").alias("c1")
    )
    tgt_langs = nl.select(
        F.col("lang").alias("tgt"), F.col("n").alias("n2")
    )
    o = tf.select(
        F.col("lang").alias("tgt"),
        F.col("token").alias("otoken"),
        F.col("c").alias("c2"),
    )
    n1t = nl.select(F.col("lang").alias("src"), F.col("n").alias("n1"))
    # the other-side counts carry renamed columns so the left join's
    # key references stay unambiguous
    expanded = (
        src.crossJoin(F.broadcast(tgt_langs))
        .where(F.col("src") != F.col("tgt"))
        .join(F.broadcast(n1t), "src")
        .join(
            o.withColumnRenamed("tgt", "otgt"),
            (F.col("tgt") == F.col("otgt"))
            & (F.col("token") == F.col("otoken")),
            "left",
        )
        .select(
            "src",
            "tgt",
            "c1",
            F.coalesce("c2", F.lit(0)).cast("bigint").alias("c2"),
            "n1",
            "n2",
        )
    )
    contrib = (
        expanded.select(
            "src",
            "tgt",
            "n1",
            (
                F.col("c1")
                * F.floor(
                    F.log(
                        (2 * F.col("c1") * F.col("n2")).cast("double")
                        / (
                            F.col("c1") * F.col("n2")
                            + F.col("c2") * F.col("n1")
                        ).cast("double")
                    )
                    * 1e6
                ).cast("bigint")
            ).alias("term"),
        )
        .groupBy("src", "tgt")
        .agg(
            F.sum("term").cast("bigint").alias("num"),
            F.max("n1").alias("n1"),
        )
    )
    a = contrib.select(
        F.col("src").alias("lang_a"),
        F.col("tgt").alias("lang_b"),
        F.col("num").alias("num_a"),
        F.col("n1").alias("na"),
    )
    b = contrib.select(
        F.col("tgt").alias("lang_a"),
        F.col("src").alias("lang_b"),
        F.col("num").alias("num_b"),
        F.col("n1").alias("nb"),
    )
    return (
        a.join(b, ["lang_a", "lang_b"])
        .where(F.col("lang_a") < F.col("lang_b"))
        .select(
            "lang_a",
            "lang_b",
            "num_a",
            "num_b",
            (
                (
                    F.col("num_a").cast("double") / F.col("na").cast("double")
                    + F.col("num_b").cast("double")
                    / F.col("nb").cast("double")
                )
                / F.lit(2e6)
            ).alias("jsd_nats"),
        )
        .orderBy("lang_a", "lang_b")
    )


@register(
    "ext_heaps_law_fit",
    survey_id="EXT-HEAPS",
    category="llm-text",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT LEAST(9, CAST(doc_id * 10 // (mx.m + 1) AS INT)) AS decile,
         token
  FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
    FROM documents
  ) CROSS JOIN mx
),
per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS toks
        FROM tok GROUP BY decile),
firsts AS (SELECT token, MIN(decile) AS decile FROM tok GROUP BY token),
nv AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_types
       FROM firsts GROUP BY decile),
cum AS (
  SELECT p.decile,
         CAST(SUM(p2.toks) AS BIGINT) AS cum_tokens,
         CAST(SUM(COALESCE(n2.new_types, 0)) AS BIGINT) AS cum_vocab
  FROM per p
  JOIN per p2 ON p2.decile <= p.decile
  LEFT JOIN nv n2 ON n2.decile = p2.decile
  GROUP BY p.decile
),
grid AS (
  SELECT decile, cum_tokens, cum_vocab,
         CAST(FLOOR(ln(CAST(cum_tokens AS DOUBLE)) * 1000000e0)
              AS BIGINT) AS x,
         CAST(FLOOR(ln(CAST(cum_vocab AS DOUBLE)) * 1000000e0)
              AS BIGINT) AS y
  FROM cum
),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM grid
)
SELECT g.decile, g.cum_tokens, g.cum_vocab,
       CAST(CAST(o.m * o.sxy - o.sx * o.sy AS DOUBLE)
            / CAST(o.m * o.sxx - o.sx * o.sx AS DOUBLE)
            AS DOUBLE) AS heaps_beta
FROM grid g CROSS JOIN ols o
ORDER BY g.decile
""",
)
def ext_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law exponent of the corpus — vocabulary grows as
    V = K * N^beta, fitted by OLS on the gridded ln-ln lattice over
    the cumulative (tokens, vocab) curve at each doc_id decile.
    Natural text sits near beta ~ 0.5-0.7; beta collapsing toward 0
    says the crawl stopped discovering words (the integral view of
    ext_good_turing_smoothing's missing mass and i45's per-epoch
    novelty); beta ~ 1 says token soup / encoding damage. The same
    gridded-transcendental OLS as ext_corpus_statistics' zipf slope:
    ln values floored to 1e-6, every sufficient statistic an exact
    BIGINT, one division at the end on identical doubles.

    Scale shape: one corpus-scale (decile, token) dedup-count via
    MIN(decile) inside the aggregate (no join back — the novelty-decay
    pattern), a 10-row cumulative table (decile triangle join on 10
    rows), a 10-point OLS. Nothing after the first count exceeds 10
    rows."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("m"))
    tok = (
        d.crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.lit(9), (F.col("doc_id") * 10 / (F.col("m") + 1)).cast("int")
            ).alias("decile"),
            F.explode(F.split("text", " ")).alias("token"),
        )
    )
    per = tok.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("toks")
    )
    nv = (
        tok.groupBy("token")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("bigint").alias("new_types"))
    )
    p2 = per.select(
        F.col("decile").alias("d2"), F.col("toks").alias("t2")
    ).join(
        nv.select(
            F.col("decile").alias("d2"),
            F.col("new_types").alias("v2"),
        ),
        "d2",
        "left",
    )
    cum = (
        per.select("decile")
        .join(F.broadcast(p2), F.col("d2") <= F.col("decile"))
        .groupBy("decile")
        .agg(
            F.sum("t2").cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("v2", F.lit(0))).cast("bigint").alias(
                "cum_vocab"
            ),
        )
    )
    grid = cum.select(
        "decile",
        "cum_tokens",
        "cum_vocab",
        F.floor(F.log(F.col("cum_tokens").cast("double")) * 1e6)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("cum_vocab").cast("double")) * 1e6)
        .cast("bigint")
        .alias("y"),
    )
    ols = grid.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return (
        grid.crossJoin(F.broadcast(ols))
        .select(
            "decile",
            "cum_tokens",
            "cum_vocab",
            (
                (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
            ).alias("heaps_beta"),
        )
        .orderBy("decile")
    )


@register(
    "ext_symspell_typo_recovery",
    survey_id="EXT-SYMSPELL",
    category="llm-text",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN sel AND len(token) >= 4
              THEN token[1 : dpos - 1] || token[dpos + 1 :]
              ELSE token END AS tok,
         CASE WHEN sel AND len(token) >= 4 THEN token END AS orig
  FROM (
    SELECT token,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                 || CAST(i AS VARCHAR) || ':' || token), 1, 12))
                AS BIGINT) % 101 < 4 AS sel,
           CAST(CAST(('0x' || substr(md5('p:' || CAST(doc_id AS VARCHAR)
                 || ':' || CAST(i AS VARCHAR)), 1, 12)) AS BIGINT)
                % len(token) + 1 AS INT) AS dpos
    FROM (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS token,
             UNNEST(generate_series(1, len(string_split(text, ' ')))) AS i
      FROM documents
    )
  )
),
truth AS (
  SELECT DISTINCT orig, tok AS variant
  FROM obs WHERE orig IS NOT NULL AND tok <> orig
),
tf AS (SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS c
       FROM obs GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM tf),
rare AS (
  SELECT token, c FROM tf CROSS JOIN tot
  WHERE c < GREATEST(3, t // 1000) AND len(token) >= 3
),
freq AS (
  SELECT token, c FROM tf CROSS JOIN tot
  WHERE c >= GREATEST(3, t // 1000)
),
rkeys AS (
  SELECT token, c, UNNEST(list_distinct(list_concat([token],
           list_transform(generate_series(1, LEAST(len(token), 20)),
             i -> token[1:i-1] || token[i+1:])))) AS k
  FROM rare
),
fkeys AS (
  SELECT token, c, UNNEST(list_distinct(list_concat([token],
           list_transform(generate_series(1, LEAST(len(token), 20)),
             i -> token[1:i-1] || token[i+1:])))) AS k
  FROM freq
),
cand AS (
  SELECT DISTINCT r.token AS rare_token, r.c AS rare_count,
         f.token AS canon, f.c AS canon_count
  FROM rkeys r JOIN fkeys f USING (k)
  WHERE levenshtein(r.token, f.token) = 1
),
best AS (
  SELECT rare_token, rare_count, canon, canon_count
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY rare_token
               ORDER BY canon_count DESC, canon) AS rk
    FROM cand
  ) WHERE rk = 1
),
judged AS (
  SELECT b.*,
         CASE WHEN EXISTS (SELECT 1 FROM truth t
                           WHERE t.variant = b.rare_token
                             AND t.orig = b.canon)
              THEN 1 ELSE 0 END AS is_correct
  FROM best b
),
summary AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_mapped,
         CAST(SUM(is_correct) AS BIGINT) AS n_correct,
         (SELECT CAST(COUNT(DISTINCT variant) AS BIGINT) FROM truth)
           AS n_injected
  FROM judged
)
SELECT j.rare_token, j.rare_count, j.canon, j.canon_count,
       CAST(j.is_correct AS BIGINT) AS is_correct,
       s.n_mapped, s.n_correct, s.n_injected,
       CAST(s.n_correct * 1000000 // s.n_mapped AS BIGINT)
         AS precision_micro
FROM judged j CROSS JOIN summary s
ORDER BY j.canon_count DESC, j.rare_token
LIMIT 50
""",
)
def ext_symspell_typo_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell typo recovery with MEASURED precision — the
    deletion-neighborhood spelling correction (Garbe's SymSpell) run
    as a closed-loop benchmark, because this fixture's 31-word vocab
    contains no natural distance-1 pairs: a deterministic md5-seeded
    pass deletes one character from ~4% of token instances (length >=
    4; the ext_encoding_repair precedent of deriving the corrupted
    view in-query), the corrector then sees ONLY the corrupted stream
    and must map each rare surface form back to a frequent canon via
    delete-1 blocking — two strings within one edit share a delete-1
    variant, so candidate generation is a keyed equi-join on variants,
    never all-pairs — verified by the engines' shared integer
    levenshtein(). Ground truth rides along (the injection is
    replayable), so the output carries per-mapping correctness AND the
    global precision as exact micro integers.

    Frequency tiers are corpus-relative (freq: c >= max(3, T/1000)):
    injected variants sit 1-2 orders below the threshold at every sf
    because both scale linearly with the corpus. A variant whose
    deletion lands ON another real word simply merges into the
    frequent tier and is counted as unrecovered in n_injected.

    Scale shape: one posexplode scan (row-local corruption), one token
    count, row-local delete-variant explode (<= 21 per token), ONE
    keyed variant join, a per-rare-token top-1 window, broadcast
    summary. Candidate volume is variant-bucket-bounded."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i0", "token"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "token")
    h1 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("i").cast("string"),
                    F.col("token"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    h2 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("p:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    sel = (h1 % 101 < 4) & (F.length("token") >= 4)
    dpos = (h2 % F.length("token") + 1).cast("int")
    corrupted = F.concat(
        F.col("token").substr(F.lit(1).cast("int"), dpos - 1),
        F.col("token").substr(dpos + 1, F.length("token")),
    )
    obs = pin(toks.select(
        F.when(sel, corrupted).otherwise(F.col("token")).alias("tok"),
        F.when(sel, F.col("token")).alias("orig"),
    ))
    truth = pin(
        obs.where(
            F.col("orig").isNotNull() & (F.col("tok") != F.col("orig"))
        )
        .select(F.col("orig"), F.col("tok").alias("variant"))
        .distinct()
    )
    tf = pin(
        obs.groupBy(F.col("tok").alias("token"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = tf.agg(F.sum("c").cast("bigint").alias("t"))
    thr = F.greatest(F.lit(3).cast("bigint"), F.expr("t DIV 1000"))
    tiered = tf.crossJoin(F.broadcast(tot))
    rare = tiered.where(
        (F.col("c") < thr) & (F.length("token") >= 3)
    ).select("token", "c")
    freq = tiered.where(F.col("c") >= thr).select("token", "c")

    def keyed(df, tname, cname):
        dels = F.transform(
            F.sequence(F.lit(1), F.least(F.length("token"), F.lit(20))),
            lambda i: F.concat(
                F.col("token").substr(
                    F.lit(1).cast("int"), (i - 1).cast("int")
                ),
                F.col("token").substr(
                    (i + 1).cast("int"), F.length("token")
                ),
            ),
        )
        return df.select(
            F.col("token").alias(tname),
            F.col("c").alias(cname),
            F.explode(
                F.array_distinct(F.concat(F.array(F.col("token")), dels))
            ).alias("k"),
        )

    cand = (
        keyed(rare, "rare_token", "rare_count")
        .join(keyed(freq, "canon", "canon_count"), "k")
        .where(F.levenshtein("rare_token", "canon") == 1)
        .select("rare_token", "rare_count", "canon", "canon_count")
        .distinct()
    )
    w = Window.partitionBy("rare_token").orderBy(
        F.col("canon_count").desc(), "canon"
    )
    best = (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    judged = best.join(
        truth.select(
            F.col("variant").alias("rare_token"),
            F.col("orig").alias("canon"),
            F.lit(1).alias("hit"),
        ),
        ["rare_token", "canon"],
        "left",
    ).select(
        "rare_token",
        "rare_count",
        "canon",
        "canon_count",
        F.coalesce("hit", F.lit(0)).cast("bigint").alias("is_correct"),
    )
    n_injected = truth.agg(
        F.countDistinct("variant").cast("bigint").alias("n_injected")
    )
    summary = (
        judged.agg(
            F.count("*").cast("bigint").alias("n_mapped"),
            F.sum("is_correct").cast("bigint").alias("n_correct"),
        )
        .crossJoin(F.broadcast(n_injected))
    )
    return (
        judged.crossJoin(F.broadcast(summary))
        .select(
            "rare_token",
            "rare_count",
            "canon",
            "canon_count",
            "is_correct",
            "n_mapped",
            "n_correct",
            "n_injected",
            F.expr("n_correct * 1000000 DIV n_mapped")
            .cast("bigint")
            .alias("precision_micro"),
        )
        .orderBy(F.col("canon_count").desc(), "rare_token")
        .limit(50)
    )


def _decode_oracle() -> str:
    """12-step unrolled greedy decode: stage r picks argmax
    P(w2 | w_{r-1}) with lexicographic tie-break."""
    stages = ["""bg AS (
  SELECT string_split(b, CHR(31))[1] AS w1,
         string_split(b, CHR(31))[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c12
  FROM (
    SELECT UNNEST(list_transform(generate_series(1, len(tk) - 1),
           i -> tk[i] || CHR(31) || tk[i+1])) AS b
    FROM (SELECT string_split(text, ' ') AS tk FROM documents)
  ) GROUP BY 1, 2
)""", """nxt AS (
  SELECT w1, w2, c12 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
               ORDER BY c12 DESC, w2) AS rk FROM bg
  ) WHERE rk = 1
)""", """s0 AS (
  SELECT w1 AS tok, CAST(SUM(c12) AS BIGINT) AS cnt FROM bg
  GROUP BY w1 ORDER BY cnt DESC, tok LIMIT 1
)"""]
    for r in range(1, 13):
        prev = "s0" if r == 1 else f"s{r-1}"
        stages.append(
            f"s{r} AS (SELECT n.w2 AS tok, n.c12 AS cnt FROM nxt n"
            f" JOIN {prev} p ON n.w1 = p.tok)"
        )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS step, tok, cnt FROM s{r}" for r in range(0, 13)
    )
    return (
        "WITH " + ",\n".join(stages)
        + f"\nSELECT step, tok, cnt FROM ({rows}) ORDER BY step"
    )


@register(
    "ext_bigram_greedy_decode",
    survey_id="EXT-LM-DECODE",
    category="llm-text",
    oracle=_decode_oracle(),
)
def ext_bigram_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy (argmax) decoding from the corpus bigram LM — 12 steps
    of w_t = argmax_c c(w_{t-1}, c), seeded at the most frequent
    bigram head. What comes out is the corpus's PARROT PHRASE: the
    single most-reinforced token chain, which for a crawl is the
    boilerplate spine (cookie banners decode first on real data) —
    the generative read-out of what ext_bleu_self_similarity and
    ext_bigram_conditional_entropy measure statistically. Counts are
    exact; ties break lexicographically; a chain that leaves the LM
    support simply ends (row absent), so the output length itself is
    a diagnostic.

    Scale shape: the bigram count + per-head argmax (top-1 window
    per w1, WindowGroupLimit) build ONCE and checkpoint — the
    transition table. The 12 decode steps are bounded 1-row reads
    against that keyed table; nothing re-touches the corpus."""
    sep = chr(31)
    d = load_table(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    bg = pin(
        d.select(
            F.explode(
                F.when(
                    F.size(tk) >= 2,
                    F.transform(
                        seq1(F.size(tk) - 1),
                        lambda i: F.concat_ws(
                            sep,
                            F.element_at(tk, i),
                            F.element_at(tk, i + 1),
                        ),
                    ),
                ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
            ).alias("b")
        )
        .select(
            F.split_part(F.col("b"), F.lit(sep), F.lit(1)).alias("w1"),
            F.split_part(F.col("b"), F.lit(sep), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    w = Window.partitionBy("w1").orderBy(F.col("c12").desc(), "w2")
    nxt = pin(
        bg.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("w1", "w2", "c12")
    )
    seed = (
        bg.groupBy("w1")
        .agg(F.sum("c12").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w1")
        .limit(1)
        .head()
    )
    # r11 perf (guide §2.4/§5): each decode step needs exactly ONE row
    # of the checkpointed transition table (w1 is unique after the
    # top-1 window), so the walk is 12 bounded 1-row driver reads — the
    # BPE argmax pattern — instead of 12 broadcast-join + checkpoint
    # jobs whose only output was that same single row. A chain that
    # leaves the LM support still simply ends (head() -> None).
    rows: list[tuple[int, str, int]] = []
    if seed is not None:
        rows.append((0, seed["w1"], int(seed["cnt"])))
        cur = seed["w1"]
        for r in range(1, 13):
            nrow = nxt.where(F.col("w1") == F.lit(cur)).head()
            if nrow is None:
                break
            rows.append((r, nrow["w2"], int(nrow["c12"])))
            cur = nrow["w2"]
    return spark.createDataFrame(
        rows, "step bigint, tok string, cnt bigint"
    ).orderBy("step")


@register(
    "ext_tfidf_keywords",
    survey_id="EXT-TFIDF",
    category="llm-text",
    oracle="""
WITH tokd AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
),
n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS f
  FROM tokd GROUP BY doc_id, term
),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.f, df.df,
         tf.f * CAST(FLOOR(ln((CAST(nd AS DOUBLE) + 1e0)
                              / (CAST(df.df AS DOUBLE) + 1e0))
                           * 1000000e0) AS BIGINT) AS tfidf_micro
  FROM tf JOIN df USING (term) CROSS JOIN n_docs
)
SELECT doc_id, term, f, df, tfidf_micro, CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY tfidf_micro DESC, term) AS rk
  FROM scored
) WHERE rk <= 3 AND doc_id % 50 = 0
ORDER BY doc_id, rank
""",
)
def ext_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction — the classic doc-representation next
    to the statistical (ext_rake_keywords) and graph (ext_textrank_
    keywords) extractors already in the family: score = tf *
    ln((N+1)/(df+1)), top-3 terms per document (every 50th doc emitted
    to keep the declared output bounded). The idf ln rides the 1e-6
    grid so score = f * lnGrid is an exact BIGINT and the per-doc
    top-3 rank is integer-deterministic with term tie-breaks.

    Scale shape: one (doc, term) count (map-side combinable), a
    vocab-sized df rollup OF that table, one keyed join back on term,
    a top-3-per-doc window (WindowGroupLimit). The idf table is the
    only broadcast-worthy side at 100 TB; nothing is corpus x vocab."""
    d = load_table(spark, sf_dir, "documents")
    tf = pin(
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    nd = d.agg(F.count("*").cast("bigint").alias("nd"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "f",
            "df",
            (
                F.col("f")
                * F.floor(
                    F.log(
                        (F.col("nd").cast("double") + F.lit(1.0))
                        / (F.col("df").cast("double") + F.lit(1.0))
                    )
                    * 1e6
                ).cast("bigint")
            ).alias("tfidf_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_micro").desc(), "term"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where((F.col("rank") <= 3) & (F.col("doc_id") % 50 == 0))
        .select("doc_id", "term", "f", "df", "tfidf_micro", "rank")
        .orderBy("doc_id", "rank")
    )


@register(
    "ext_glove_cooccurrence",
    survey_id="EXT-GLOVE-COOC",
    category="llm-text",
    oracle="""
WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
pairs AS (
  SELECT string_split(p, CHR(31))[1] AS w1,
         string_split(p, CHR(31))[2] AS w2,
         CAST(string_split(p, CHR(31))[3] AS BIGINT) AS d
  FROM (
    SELECT UNNEST(
      list_concat(
        list_concat(
          list_transform(generate_series(1, GREATEST(len(tk) - 1, 0)),
                         i -> tk[i] || CHR(31) || tk[i+1] || CHR(31) || '1'),
          list_transform(generate_series(1, GREATEST(len(tk) - 2, 0)),
                         i -> tk[i] || CHR(31) || tk[i+2] || CHR(31) || '2')),
        list_concat(
          list_transform(generate_series(1, GREATEST(len(tk) - 3, 0)),
                         i -> tk[i] || CHR(31) || tk[i+3] || CHR(31) || '3'),
          list_transform(generate_series(1, GREATEST(len(tk) - 4, 0)),
                         i -> tk[i] || CHR(31) || tk[i+4] || CHR(31) || '4'))
      )) AS p
    FROM toks
  )
),
top30 AS (
  SELECT w1 FROM (
    SELECT token AS w1, COUNT(*) AS n,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rk
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
  ) WHERE rk <= 30
),
x AS (
  SELECT p.w1, p.w2,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(1000000 // p.d) AS BIGINT) AS x_micro
  FROM pairs p JOIN top30 USING (w1)
  GROUP BY p.w1, p.w2
)
SELECT w1, w2, n_pairs, x_micro, CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
             ORDER BY x_micro DESC, n_pairs DESC, w2) AS rk
  FROM x
) WHERE rk <= 3
ORDER BY w1, rank
""",
)
def ext_glove_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GloVe-style DISTANCE-WEIGHTED co-occurrence accumulation
    (Pennington et al. 2014: X_ij sums 1/d over every co-occurrence at
    token distance d within the window — the entire data-side input of
    GloVe training; the f(X)^0.75 loss weighting is training-side and
    out of scope): forward window 4, weights as exact micro integers
    1e6 DIV d (1000000/500000/333333/250000 — floor-div, so the sums
    are exact BIGINTs, unlike the float 1/d a naive port would
    accumulate order-dependently). Output: top-3 co-occurring tokens
    per top-30 head with the exact X_ij micro mass.

    Scale shape (the PPMI recipe): pair formation is row-local (four
    shifted zips with the distance packed in-band); the corpus-scale
    pair stream is head-filtered by a broadcast top-30 semi-join
    BEFORE the (w1, w2) exchange; per-head top-3 is a
    WindowGroupLimit over the 30-head aggregate. Nothing all-pairs;
    no vocab-wide state beyond the filtered X table."""
    sep = chr(31)
    d = load_table(spark, sf_dir, "documents")
    tk = F.split("text", " ")

    def mk(k):
        return F.when(
            F.size(tk) >= k + 1,
            F.transform(
                seq1(F.size(tk) - k),
                lambda i: F.concat_ws(
                    sep,
                    F.element_at(tk, i),
                    F.element_at(tk, i + k),
                    F.lit(str(k)),
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))

    pairs = (
        d.select("text")
        .transform(spread)
        .select(
            F.explode(
                F.concat(mk(1), mk(2), mk(3), mk(4))
            ).alias("p")
        )
        .select(
            F.split_part(F.col("p"), F.lit(sep), F.lit(1)).alias("w1"),
            F.split_part(F.col("p"), F.lit(sep), F.lit(2)).alias("w2"),
            F.split_part(F.col("p"), F.lit(sep), F.lit(3))
            .cast("bigint")
            .alias("d"),
        )
    )
    top30 = (
        d.select(F.explode(F.split("text", " ")).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "w1")
        .limit(30)
        .select("w1")
    )
    x = (
        pairs.join(F.broadcast(top30), "w1", "left_semi")
        .groupBy("w1", "w2")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.expr("1000000 DIV d")).cast("bigint").alias("x_micro"),
        )
    )
    w = Window.partitionBy("w1").orderBy(
        F.col("x_micro").desc(), F.col("n_pairs").desc(), "w2"
    )
    return (
        x.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("w1", "w2", "n_pairs", "x_micro", "rank")
        .orderBy("w1", "rank")
    )


@register(
    "ext_vocab_coverage_curve",
    survey_id="EXT-VOCAB-COVERAGE",
    category="llm-text",
    oracle="""
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
),
vc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v
        FROM vc),
ranked AS (
  SELECT token, c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rk
  FROM vc
),
ks AS (SELECT UNNEST([1, 2, 4, 8, 16, 32]) AS k)
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS vocab_types_used,
       CAST(SUM(r.c) AS BIGINT) AS covered_tokens,
       tot.t AS total_tokens,
       CAST(SUM(r.c) * 1000000 // tot.t AS BIGINT) AS coverage_micro
FROM ks JOIN ranked r ON r.rk <= ks.k CROSS JOIN tot
GROUP BY ks.k, tot.t
ORDER BY k
""",
)
def ext_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary COVERAGE CURVE — the tokenizer-design table every
    vocab-size decision reads (what fraction of corpus tokens does a
    top-k vocabulary cover, k swept over powers of two): coverage at
    each k as an exact micro fraction, with the type count actually
    used (k can exceed the corpus vocabulary).

    Exactness: counts and cumulative coverage are BIGINTs; the top-k
    membership ranks by (count DESC, token) — fully tie-broken, so
    both engines pick identical vocabularies at every k.

    Scale shape: one combinable token count (corpus-scale), then
    everything operates on the VOCABULARY-scale table: the global rank
    is a two-phase bucketed rank (bucket = -count DIV 64, never a
    single-partition sort of the vocab), the 6-point sweep is a
    6-row broadcast joined against rank <= k."""
    from nibbler_spark.queries._helpers import two_phase_rank

    d = load_table(spark, sf_dir, "documents")
    vc = (
        d.select("text")
        .transform(spread)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = vc.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("v"),
    )
    ranked = two_phase_rank(
        vc,
        F.expr("-(c DIV 64)"),
        [F.col("c").desc(), F.col("token")],
        "rk",
    )
    ks = spark.createDataFrame(
        [(k,) for k in (1, 2, 4, 8, 16, 32)], "k long"
    )
    return (
        F.broadcast(ks)
        .join(ranked, F.col("rk") <= F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "t")
        .agg(
            F.count("*").cast("bigint").alias("vocab_types_used"),
            F.sum("c").cast("bigint").alias("covered_tokens"),
        )
        .select(
            "k",
            "vocab_types_used",
            "covered_tokens",
            F.col("t").alias("total_tokens"),
            F.expr("covered_tokens * 1000000 DIV t")
            .cast("bigint")
            .alias("coverage_micro"),
        )
        .orderBy("k")
    )


@register(
    "ext_token_burstiness",
    survey_id="EXT-BURSTINESS",
    category="llm-text",
    oracle="""
WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
per_doc AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS x
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY doc_id, token
),
stats AS (
  SELECT token,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(x) AS BIGINT) AS total,
         CAST(SUM(x * x) AS BIGINT) AS sumsq
  FROM per_doc GROUP BY token
),
ranked AS (
  SELECT s.*, nd.n,
         ROW_NUMBER() OVER (ORDER BY s.total DESC, s.token) AS rk
  FROM stats s CROSS JOIN nd
)
SELECT token, df, total,
       CAST((n * sumsq - total * total) * 1000000 // (n * total)
            AS BIGINT) AS fano_micro,
       CAST(total * 1000000 // df AS BIGINT) AS burst_micro,
       CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= 20
ORDER BY rank
""",
)
def ext_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token BURSTINESS profile (Church & Gale adaptation: real words
    clump — once a document uses a term it reuses it; function words
    spread evenly): for the top-20 tokens, the FANO FACTOR of the
    per-document count distribution (variance/mean over ALL documents,
    zeros included — Fano 1 is Poisson, above is bursty/templated) and
    Katz's per-document burstiness (mean occurrences in the documents
    where the token appears at all). A curation pipeline reads high
    Fano at the corpus level as boilerplate/template contamination
    long before dedup confirms it.

    Exactness: Fano = (N*sum(x^2) - (sum x)^2) / (N*sum x) — numerator
    and denominator are exact BIGINTs over per-doc count sums (the
    zero-docs contribute nothing to either sum, so scanning only
    nonzero rows is exact), emitted as a micro floor-division;
    burstiness = total*1e6 DIV df. Top-20 ranks on (total DESC, token).

    Scale shape: one combinable (doc, token) count, one combinable
    per-token reduction, a TakeOrdered top-20 — nothing beyond
    aggregation ever touches corpus-scale data."""
    d = load_table(spark, sf_dir, "documents")
    nd = d.agg(F.count("*").cast("bigint").alias("n"))
    per_doc = (
        d.select("doc_id", "text")
        .transform(spread)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    stats = per_doc.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("x").cast("bigint").alias("total"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sumsq"),
    )
    return (
        stats.crossJoin(F.broadcast(nd))
        .orderBy(F.col("total").desc(), "token")
        .limit(20)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("total").desc(), "token"))
            .cast("bigint"),
        )
        .select(
            "token",
            "df",
            "total",
            F.expr(
                "(n * sumsq - total * total) * 1000000 DIV (n * total)"
            )
            .cast("bigint")
            .alias("fano_micro"),
            F.expr("total * 1000000 DIV df").cast("bigint").alias(
                "burst_micro"
            ),
            "rank",
        )
        .orderBy("rank")
    )


@register(
    "ext_interpolation_lambda_sweep",
    survey_id="EXT-LAMBDA-SWEEP",
    category="llm-text",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tk AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         CAST(doc_id * 4 // (mx.m + 1) AS INT) AS q
  FROM documents CROSS JOIN mx
),
tr_uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c2
  FROM (SELECT UNNEST(t) AS w FROM tk WHERE q <= 2) GROUP BY w
),
tr_tot AS (
  SELECT CAST(SUM(c2) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM tr_uni
),
tr_bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM (
    SELECT t[i] AS w1, t[i+1] AS w2
    FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    WHERE q <= 2 AND len(t) >= 2
  ) GROUP BY w1, w2
),
tr_ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM tr_bi GROUP BY w1
),
te AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT t[i] AS w1, t[i+1] AS w2
    FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    WHERE q = 3 AND len(t) >= 2
  ) GROUP BY w1, w2
),
scored AS (
  SELECT ks.k, te.n,
         CASE WHEN COALESCE(cx.c1, 0) > 0 THEN
           -FLOOR(ln(
              CAST(ks.k * COALESCE(bi.c12, 0) * (tt.t + tt.v)
                   + (8 - ks.k) * (COALESCE(un.c2, 0) + 1) * cx.c1
                   AS DOUBLE)
              / CAST(8 * cx.c1 * (tt.t + tt.v) AS DOUBLE)) * 1000000e0)
         ELSE
           -FLOOR(ln(
              CAST((8 - ks.k) * (COALESCE(un.c2, 0) + 1) AS DOUBLE)
              / CAST(8 * (tt.t + tt.v) AS DOUBLE)) * 1000000e0)
         END AS g
  FROM te
  CROSS JOIN (SELECT UNNEST([1, 3, 5, 7]) AS k) ks
  CROSS JOIN tr_tot tt
  LEFT JOIN tr_bi bi ON bi.w1 = te.w1 AND bi.w2 = te.w2
  LEFT JOIN tr_ctx cx ON cx.w1 = te.w1
  LEFT JOIN tr_uni un ON un.w = te.w2
),
nl AS (
  SELECT k, CAST(SUM(n * g) AS BIGINT) AS nll_scaled,
         CAST(SUM(n) AS BIGINT) AS test_bigrams
  FROM scored GROUP BY k
),
best AS (SELECT MIN(nll_scaled) AS b FROM nl)
SELECT CAST(nl.k AS BIGINT) AS lambda_eighths, nl.nll_scaled,
       nl.test_bigrams, nl.nll_scaled = best.b AS is_best
FROM nl CROSS JOIN best ORDER BY lambda_eighths
""",
)
def ext_interpolation_lambda_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interpolation-weight MODEL SELECTION (Jelinek-Mercer: p =
    lambda*p_bigram + (1-lambda)*p_unigram, the classic smoothing whose
    lambda is chosen on HELD-OUT data — the sweep this operator runs):
    train bigram/unigram counts on doc-id quartiles 0-2, score the
    unseen quartile 3's bigrams at lambda in {1,3,5,7}/8, emit each
    lambda's exact scaled NLL and the argmin flag.

    Exactness: with lambda = k/8 the interpolated probability is ONE
    exact rational — (k*c12*(T+V) + (8-k)*(c2+1)*c1) / (8*c1*(T+V))
    (add-one on the unigram backoff handles unseen test words; an
    unseen CONTEXT drops the bigram term exactly) — so each term is
    the gridded-ln of two exact BIGINTs and every NLL is an exact
    BIGINT sum; is_best compares exact integers (ties impossible to
    diverge).

    Scale shape: training counts are combinable aggregates; test
    bigrams join the three count tables on vocabulary-scale keys;
    the lambda sweep is a 4-row broadcast over the scored stream."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("m"))
    tk = (
        d.crossJoin(F.broadcast(mx))
        .select(
            F.split("text", " ").alias("t"),
            F.expr("doc_id * 4 DIV (m + 1)").cast("int").alias("q"),
        )
        .transform(spread)
    )

    def bigrams(df):
        return df.where(F.size("t") >= 2).select(
            "q",
            F.explode(
                F.transform(
                    seq1(F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        ).select("q", "b.w1", "b.w2")
    
    bi_all = bigrams(tk)
    tr_uni = (
        tk.where(F.col("q") <= 2)
        .select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c2"))
    )
    tr_tot = tr_uni.agg(
        F.sum("c2").cast("bigint").alias("t_"),
        F.count("*").cast("bigint").alias("v"),
    )
    tr_bi = (
        bi_all.where(F.col("q") <= 2)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    tr_ctx = tr_bi.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    te = (
        bi_all.where(F.col("q") == 3)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    ks = spark.createDataFrame([(1,), (3,), (5,), (7,)], "k long")
    scored = (
        te.join(tr_bi, ["w1", "w2"], "left")
        .join(tr_ctx, "w1", "left")
        .join(
            tr_uni.withColumnRenamed("w", "w2"), "w2", "left"
        )
        .crossJoin(F.broadcast(tr_tot))
        .crossJoin(F.broadcast(ks))
        .select(
            "k",
            "n",
            F.when(
                F.coalesce(F.col("c1"), F.lit(0)) > 0,
                -F.floor(
                    F.log(
                        (
                            F.col("k") * F.coalesce(F.col("c12"), F.lit(0))
                            * (F.col("t_") + F.col("v"))
                            + (8 - F.col("k"))
                            * (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                            * F.col("c1")
                        ).cast("double")
                        / (
                            8 * F.col("c1") * (F.col("t_") + F.col("v"))
                        ).cast("double")
                    )
                    * 1e6
                ),
            )
            .otherwise(
                -F.floor(
                    F.log(
                        (
                            (8 - F.col("k"))
                            * (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                        ).cast("double")
                        / (8 * (F.col("t_") + F.col("v"))).cast("double")
                    )
                    * 1e6
                )
            )
            .cast("bigint")
            .alias("g"),
        )
    )
    nl = scored.groupBy("k").agg(
        F.sum(F.col("n") * F.col("g")).cast("bigint").alias("nll_scaled"),
        F.sum("n").cast("bigint").alias("test_bigrams"),
    )
    best = nl.agg(F.min("nll_scaled").alias("b"))
    return (
        nl.crossJoin(F.broadcast(best))
        .select(
            F.col("k").alias("lambda_eighths"),
            "nll_scaled",
            "test_bigrams",
            (F.col("nll_scaled") == F.col("b")).alias("is_best"),
        )
        .orderBy("lambda_eighths")
    )


@register(
    "ext_prefix_cache_analysis",
    survey_id="EXT-PREFIX-CACHE",
    category="llm-text",
    oracle="""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n,
         string_split(text, ' ')[1] AS tok1
  FROM documents
),
adj AS (
  SELECT t.*,
         LAG(toks) OVER (PARTITION BY tok1 ORDER BY text, doc_id) AS prev,
         LAG(n) OVER (PARTITION BY tok1 ORDER BY text, doc_id) AS pn
  FROM t
),
lcp AS (
  SELECT tok1, n,
         CASE WHEN prev IS NULL THEN 0
              ELSE COALESCE(
                NULLIF(list_position(
                  list_transform(generate_series(1, LEAST(n, pn)),
                                 i -> toks[i] = prev[i]),
                  false), 0) - 1,
                LEAST(n, pn))
         END AS l
  FROM adj
),
per AS (
  SELECT tok1, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(l) AS BIGINT) AS sum_lcp,
         CAST(MAX(l) AS BIGINT) AS max_lcp
  FROM lcp GROUP BY tok1
),
g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(SUM(l) AS BIGINT) AS shared_tokens
  FROM lcp
)
SELECT per.tok1, per.n_docs, per.sum_lcp, per.max_lcp,
       g.total_tokens, g.shared_tokens,
       CAST(g.total_tokens - g.shared_tokens AS BIGINT) AS trie_tokens
FROM per CROSS JOIN g
WHERE per.sum_lcp > 0
ORDER BY per.sum_lcp DESC, per.tok1
LIMIT 20
""",
)
def ext_prefix_cache_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-CACHE analysis — how many prompt tokens an inference
    server's prefix cache (or a training run's trie-packed loader)
    would deduplicate: sort documents lexicographically, measure the
    token-level longest common prefix (LCP) between each doc and its
    sorted predecessor, and report per-first-token hot spots plus the
    exact global accounting via the classic trie identity: distinct
    prefix nodes = total tokens - sum of sorted-adjacent LCPs, so
    `shared_tokens` IS the cache's best-case token savings.

    Correct WITHOUT a global sort: windows partition by the FIRST
    token. A cross-partition adjacent pair differs in token 1, so its
    token LCP is 0 and contributes nothing — per-bucket adjacency
    therefore yields the exact global adjacent-LCP sum (the first
    token is also coarse-monotone in full-text order, the two-phase
    bucketing argument). The LCP itself is row-local: position of the
    first mismatch over the zipped token arrays (array_position's
    not-found 0 maps to the full min-length — one side is a prefix of
    the other).

    Scale shape: one corpus scan, one partitioned window (Zipf-skewed
    first-token buckets buffer in the window's spillable sorter; the
    refinement path at extreme skew is splitting oversized buckets on
    token 2, whose boundary pairs share exactly token 1), one bounded
    grouped aggregate, top-20 via TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select(
        "doc_id",
        "text",
        toks.alias("toks"),
        F.size(toks).alias("n"),
        F.element_at(toks, 1).alias("tok1"),
    )
    w = Window.partitionBy("tok1").orderBy("text", "doc_id")
    adj = t.select(
        "tok1",
        "n",
        "toks",
        F.lag("toks").over(w).alias("prev"),
        F.lag("n").over(w).alias("pn"),
    )
    mn = F.least("n", "pn")
    matches = F.transform(
        F.sequence(F.lit(1), mn),
        lambda i: F.element_at("toks", i) == F.element_at("prev", i),
    )
    pos = F.array_position(matches, F.lit(False))
    lcp = adj.select(
        "tok1",
        "n",
        F.when(F.col("prev").isNull(), 0)
        .when(pos > 0, pos - 1)
        .otherwise(mn)
        .cast("bigint")
        .alias("l"),
    )
    per = lcp.groupBy("tok1").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("l").cast("bigint").alias("sum_lcp"),
        F.max("l").cast("bigint").alias("max_lcp"),
    )
    g = lcp.agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum("l").cast("bigint").alias("shared_tokens"),
    )
    return (
        per.where(F.col("sum_lcp") > 0)
        .crossJoin(F.broadcast(g))
        .select(
            "tok1",
            "n_docs",
            "sum_lcp",
            "max_lcp",
            "total_tokens",
            "shared_tokens",
            (F.col("total_tokens") - F.col("shared_tokens"))
            .cast("bigint")
            .alias("trie_tokens"),
        )
        .orderBy(F.col("sum_lcp").desc(), "tok1")
        .limit(20)
    )


@register(
    "ext_lm_scaling_curve",
    survey_id="EXT-SCALING-CURVE",
    category="llm-text",
    oracle="""
WITH tok AS (
  SELECT doc_id % 16 AS m, t AS token
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM documents)
),
vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tok),
ho AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS hc
  FROM tok WHERE m >= 12 GROUP BY token
),
hn AS (SELECT CAST(SUM(hc) AS BIGINT) AS htok FROM ho),
tc AS (
  SELECT token,
         CAST(SUM(CASE WHEN m < 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN m < 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN m < 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN m < 8 THEN 1 ELSE 0 END) AS BIGINT) AS c8
  FROM tok GROUP BY token
),
tt AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c2) AS BIGINT) AS t2,
         CAST(SUM(c4) AS BIGINT) AS t4, CAST(SUM(c8) AS BIGINT) AS t8
  FROM tc
),
nll AS (
  SELECT k, train_tokens,
         CAST(SUM(ho.hc * CAST(FLOOR(LN(
           CAST(train_tokens + vocab.v AS DOUBLE)
           / CAST(ck + 1 AS DOUBLE)) * 1000000000e0) AS BIGINT))
           AS BIGINT) AS nll_nano
  FROM ho
  LEFT JOIN tc ON tc.token = ho.token
  CROSS JOIN tt CROSS JOIN vocab
  CROSS JOIN (VALUES (1), (2), (4), (8)) AS ks(k)
  CROSS JOIN LATERAL (SELECT
    CASE ks.k WHEN 1 THEN tt.t1 WHEN 2 THEN tt.t2
              WHEN 4 THEN tt.t4 ELSE tt.t8 END AS train_tokens,
    CASE ks.k WHEN 1 THEN COALESCE(tc.c1, 0)
              WHEN 2 THEN COALESCE(tc.c2, 0)
              WHEN 4 THEN COALESCE(tc.c4, 0)
              ELSE COALESCE(tc.c8, 0) END AS ck) d
  GROUP BY k, train_tokens
),
pts AS (
  SELECT nll.k, nll.train_tokens, hn.htok AS heldout_tokens,
         nll.nll_nano,
         CAST(nll.nll_nano // hn.htok AS BIGINT) AS nll_per_tok_nano,
         CAST(FLOOR(LN(CAST(nll.train_tokens AS DOUBLE)) * 1e6)
              AS BIGINT) AS x,
         CAST(FLOOR(LN(CAST(nll.nll_nano // hn.htok AS DOUBLE)) * 1e6)
              AS BIGINT) AS y
  FROM nll CROSS JOIN hn
),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT pts.k, pts.train_tokens, pts.heldout_tokens, pts.nll_nano,
       pts.nll_per_tok_nano,
       CAST(ols.m * ols.sxy - ols.sx * ols.sy AS DOUBLE)
         / CAST(ols.m * ols.sxx - ols.sx * ols.sx AS DOUBLE)
         AS scaling_slope
FROM pts CROSS JOIN ols
ORDER BY pts.k
""",
)
def ext_lm_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-SCALING CURVE of a unigram LM — the Chinchilla-style
    measurement loop in miniature: train add-1-smoothed unigram LMs on
    geometrically growing corpus prefixes (doc_id mod 16 < {1,2,4,8}),
    score a DISJOINT held-out quarter (mod 16 >= 12), and fit the
    log-log OLS slope of held-out NLL against training tokens — the
    per-dataset exponent a curation team tracks to see whether added
    data still buys loss. The smoothing vocabulary is the full corpus
    vocab, so unseen held-out tokens cost ln(T_k + V) naturally.

    Exactness: ALL FOUR training LMs come from ONE grouped aggregate
    (conditional prefix counts per token — one corpus scan, not four);
    each held-out token's NLL term is a single gridded ln of the exact
    rational (T_k + V)/(c_k + 1) (1e-9 lattice) weighted by its exact
    held-out count and summed as BIGINT; the OLS slope is one IEEE
    division of exact-BIGINT moments over 1e-6-gridded ln points
    (the heaps_law_fit recipe).

    Scale shape: one token-count shuffle (map-side combinable), a
    vocab-keyed left join of held-out counts against the count table,
    and O(1) rows thereafter.

    Fixture note: the synthetic corpus is near-IID over a ~31-word
    vocabulary, so the unigram LM saturates quickly and the effect
    size is small BY CONSTRUCTION of the data, not the query — the
    declared property (held-out NLL strictly decreasing in training
    tokens, negative log-log slope) holds at every sf and is pinned
    by tests/test_r8_additions.py; on a natural corpus the same query
    reads out the usual power-law decline."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 16).alias("m"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    vocab = tok.agg(F.countDistinct("token").cast("bigint").alias("v"))
    ho = (
        tok.where(F.col("m") >= 12)
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("hc"))
    )
    hn = ho.agg(F.sum("hc").cast("bigint").alias("htok"))
    tc = tok.groupBy("token").agg(
        *[
            F.sum(F.when(F.col("m") < k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{k}")
            for k in (1, 2, 4, 8)
        ]
    )
    tt = tc.agg(
        *[
            F.sum(f"c{k}").cast("bigint").alias(f"t{k}")
            for k in (1, 2, 4, 8)
        ]
    )
    joined = (
        ho.join(tc, "token", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(vocab))
    )
    pts = None
    for k in (1, 2, 4, 8):
        term = (
            F.col("hc")
            * F.floor(
                F.log(
                    (F.col(f"t{k}") + F.col("v")).cast("double")
                    / (F.coalesce(F.col(f"c{k}"), F.lit(0)) + 1).cast(
                        "double"
                    )
                )
                * F.lit(1e9)
            ).cast("bigint")
        )
        row = joined.agg(
            F.lit(k).cast("bigint").alias("k"),
            F.max(f"t{k}").cast("bigint").alias("train_tokens"),
            F.sum(term).cast("bigint").alias("nll_nano"),
        )
        pts = row if pts is None else pts.unionByName(row)
    pts = (
        pts.crossJoin(F.broadcast(hn))
        .select(
            "k",
            "train_tokens",
            F.col("htok").alias("heldout_tokens"),
            "nll_nano",
            F.expr("CAST(nll_nano DIV htok AS BIGINT)").alias(
                "nll_per_tok_nano"
            ),
        )
        .withColumn(
            "x",
            F.floor(F.log(F.col("train_tokens").cast("double")) * 1e6)
            .cast("bigint"),
        )
        .withColumn(
            "y",
            F.floor(F.log(F.col("nll_per_tok_nano").cast("double")) * 1e6)
            .cast("bigint"),
        )
    )
    ols = pts.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return (
        pts.crossJoin(F.broadcast(ols))
        .select(
            "k",
            "train_tokens",
            "heldout_tokens",
            "nll_nano",
            "nll_per_tok_nano",
            (
                (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
            ).alias("scaling_slope"),
        )
        .orderBy("k")
    )


@register(
    "ext_tail_index_hill",
    survey_id="EXT-HILL",
    category="llm-text",
    oracle="""
WITH tf AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS t
        FROM documents) x(lang, token)
  GROUP BY lang, token
),
v AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab FROM tf
      GROUP BY lang),
kk AS (SELECT lang, vocab, LEAST(20, vocab // 2) AS k FROM v),
rk AS (
  SELECT tf.lang, tf.c,
         ROW_NUMBER() OVER (PARTITION BY tf.lang
                            ORDER BY tf.c DESC, tf.token) AS r
  FROM tf
),
ck1 AS (
  SELECT rk.lang, rk.c AS c_k1 FROM rk JOIN kk ON kk.lang = rk.lang
  WHERE rk.r = kk.k + 1
),
hsum AS (
  SELECT rk.lang,
         CAST(SUM(CAST(FLOOR(LN(CAST(rk.c AS DOUBLE)
                                / CAST(ck1.c_k1 AS DOUBLE))
                             * 1000000000e0) AS BIGINT)) AS BIGINT)
           AS num_nano
  FROM rk JOIN kk ON kk.lang = rk.lang
          JOIN ck1 ON ck1.lang = rk.lang
  WHERE rk.r <= kk.k
  GROUP BY rk.lang
)
SELECT kk.lang, kk.vocab, CAST(kk.k AS BIGINT) AS k, ck1.c_k1,
       CAST(hsum.num_nano // kk.k AS BIGINT) AS hill_nano,
       CAST(1000000000000000 // GREATEST(hsum.num_nano // kk.k, 1)
            AS BIGINT) AS alpha_micro
FROM kk JOIN ck1 ON ck1.lang = kk.lang
        JOIN hsum ON hsum.lang = kk.lang
ORDER BY kk.lang
""",
)
def ext_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL TAIL-INDEX ESTIMATOR (Hill 1975) of each language's token
    frequency distribution — the heavy-tail exponent alpha that tells
    a curation team whether a slice's vocabulary is Zipf-natural
    (alpha near 1) or boilerplate-flattened / template-spiked: over
    the k = min(20, vocab/2) largest frequencies, H = (1/k) sum
    ln(c_i / c_(k+1)) and alpha = 1/H. Complements
    ext_corpus_statistics' full-spectrum Zipf OLS with the
    order-statistics view of just the tail.

    Exactness: frequencies are exact counts; each ln of the exact
    count ratio is floored to the 1e-9 lattice and summed as BIGINT;
    H and alpha are integer floor-divisions. The top-(k+1) ranking
    ties on token, and k is count-derived so the query stays total on
    tiny-vocab fixtures.

    Scale shape: one map-side-combinable token count, a per-lang
    top-21 (vocab-scale TakeOrdered per language), O(langs) rows out."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    v = tf.groupBy("lang").agg(F.count("*").cast("bigint").alias("vocab"))
    kk = v.select(
        "lang",
        "vocab",
        F.least(F.lit(20), F.expr("vocab DIV 2")).alias("k"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "token")
    rk = tf.withColumn("r", F.row_number().over(w)).join(
        F.broadcast(kk), "lang"
    )
    ck1 = rk.where(F.col("r") == F.col("k") + 1).select(
        "lang", F.col("c").alias("c_k1")
    )
    hsum = (
        rk.where(F.col("r") <= F.col("k"))
        .join(F.broadcast(ck1), "lang")
        .select(
            "lang",
            F.floor(
                F.log(
                    F.col("c").cast("double") / F.col("c_k1").cast("double")
                )
                * F.lit(1e9)
            )
            .cast("bigint")
            .alias("t"),
        )
        .groupBy("lang")
        .agg(F.sum("t").cast("bigint").alias("num_nano"))
    )
    return (
        kk.join(ck1, "lang")
        .join(hsum, "lang")
        .select(
            "lang",
            "vocab",
            F.col("k").cast("bigint").alias("k"),
            "c_k1",
            F.expr("CAST(num_nano DIV k AS BIGINT)").alias("hill_nano"),
            F.expr(
                "CAST(1000000000000000 DIV"
                " GREATEST(num_nano DIV k, 1) AS BIGINT)"
            ).alias("alpha_micro"),
        )
        .orderBy("lang")
    )


@register(
    "ext_truncation_loss_accounting",
    survey_id="EXT-TRUNCATION",
    category="llm-text",
    oracle="""
WITH t AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_tokens FROM t
        GROUP BY lang),
ctx AS (SELECT UNNEST([32, 64, 128]) AS ctx),
acc AS (
  SELECT ctx.ctx, t.lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN t.n > ctx.ctx THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_over,
         CAST(SUM(GREATEST(t.n - ctx.ctx, 0)) AS BIGINT) AS tokens_lost,
         CAST(SUM((t.n + ctx.ctx - 1) // ctx.ctx) AS BIGINT)
           AS splits_needed
  FROM t CROSS JOIN ctx GROUP BY ctx.ctx, t.lang
)
SELECT acc.ctx, acc.lang, acc.n_docs, acc.docs_over, acc.tokens_lost,
       acc.splits_needed, tot.lang_tokens,
       CAST(acc.tokens_lost * 1000000 // tot.lang_tokens AS BIGINT)
         AS loss_micro
FROM acc JOIN tot ON tot.lang = acc.lang
ORDER BY acc.ctx, acc.lang
""",
)
def ext_truncation_loss_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTEXT-WINDOW TRUNCATION accounting — the table a pipeline
    reads before fixing its sequence length: for each candidate
    context size (32/64/128 tokens, spanning this corpus's length
    distribution) and language, how many documents overflow, how many
    tokens head-only truncation would discard (and its share of the
    language's tokens), and how many chunks a split-instead policy
    would produce (ceil(n/ctx), the ext_sequence_packing feed). The
    head-truncate-vs-split tradeoff read off one exact table.

    Exactness: pure integer counts, max(n - ctx, 0) sums, ceil via
    (n + ctx - 1) DIV ctx, and the loss share as exact micro
    floor-division.

    Scale shape: one corpus scan into a 3 x langs cell table (the ctx
    explode triples per-doc rows BEFORE the combinable aggregate —
    constant fan-out, map-side combined)."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    tot = d.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("lang_tokens")
    )
    acc = (
        d.select(
            "lang",
            "n",
            F.explode(F.array(F.lit(32), F.lit(64), F.lit(128))).alias(
                "ctx"
            ),
        )
        .groupBy("ctx", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n") > F.col("ctx"), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_over"),
            F.sum(F.greatest(F.col("n") - F.col("ctx"), F.lit(0)))
            .cast("bigint")
            .alias("tokens_lost"),
            F.sum(F.expr("(n + ctx - 1) DIV ctx"))
            .cast("bigint")
            .alias("splits_needed"),
        )
    )
    return (
        acc.join(F.broadcast(tot), "lang")
        .select(
            "ctx",
            "lang",
            "n_docs",
            "docs_over",
            "tokens_lost",
            "splits_needed",
            "lang_tokens",
            F.expr(
                "CAST(tokens_lost * 1000000 DIV lang_tokens AS BIGINT)"
            ).alias("loss_micro"),
        )
        .orderBy("ctx", "lang")
    )

@register(
    "ext_speculative_acceptance",
    survey_id="EXT-SPEC-DECODE",
    category="llm-text",
    oracle="""
WITH toks AS MATERIALIZED (
  SELECT lang, string_split(text, ' ') AS t FROM documents
),
big AS MATERIALIZED (
  SELECT lang, t[g.i] AS prev, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks,
       LATERAL (SELECT UNNEST(generate_series(1, len(t) - 1)) AS i) g
  WHERE len(t) >= 2
  GROUP BY lang, t[g.i]
),
tgt AS MATERIALIZED (
  SELECT lang, prev, nxt FROM (
    SELECT lang, t[g.i] AS prev, t[g.i + 1] AS nxt,
           ROW_NUMBER() OVER (
             PARTITION BY lang, t[g.i]
             ORDER BY COUNT(*) DESC, t[g.i + 1]) AS rk
    FROM toks,
         LATERAL (SELECT UNNEST(generate_series(1, len(t) - 1)) AS i) g
    WHERE len(t) >= 2
    GROUP BY lang, t[g.i], t[g.i + 1]
  ) WHERE rk = 1
),
uni AS MATERIALIZED (
  SELECT lang, tok AS draft FROM (
    SELECT lang, tok,
           ROW_NUMBER() OVER (
             PARTITION BY lang ORDER BY COUNT(*) DESC, tok) AS rk
    FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS tok
          FROM documents)
    GROUP BY lang, tok
  ) WHERE rk = 1
),
acc AS MATERIALIZED (
  SELECT b.lang,
         CAST(SUM(b.c) AS BIGINT) AS n_positions,
         CAST(SUM(CASE WHEN t.nxt = u.draft THEN b.c ELSE 0 END)
              AS BIGINT) AS n_accepted
  FROM big b
  JOIN tgt t ON t.lang = b.lang AND t.prev = b.prev
  JOIN uni u ON u.lang = b.lang
  GROUP BY b.lang
)
SELECT a.lang, a.n_positions, a.n_accepted,
       CAST(a.n_accepted * 1000000 // a.n_positions AS BIGINT)
         AS acceptance_micro,
       u.draft AS draft_token,
       CAST(FLOOR(
         CASE WHEN a.n_accepted = a.n_positions THEN 5.0
         ELSE (1.0 - (CAST(a.n_accepted * 1000000 // a.n_positions
                           AS DOUBLE) / 1e6)
                     * (CAST(a.n_accepted * 1000000 // a.n_positions
                             AS DOUBLE) / 1e6)
                     * (CAST(a.n_accepted * 1000000 // a.n_positions
                             AS DOUBLE) / 1e6)
                     * (CAST(a.n_accepted * 1000000 // a.n_positions
                             AS DOUBLE) / 1e6)
                     * (CAST(a.n_accepted * 1000000 // a.n_positions
                             AS DOUBLE) / 1e6))
              / (1.0 - CAST(a.n_accepted * 1000000 // a.n_positions
                            AS DOUBLE) / 1e6) END * 1e6)
         AS BIGINT) AS spec_tokens_per_step_micro
FROM acc a JOIN uni u ON u.lang = a.lang
ORDER BY a.lang
""",
)
def ext_speculative_acceptance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECULATIVE-DECODING ACCEPTANCE SIMULATION (Leviathan et al.
    2023) — would a cheap draft model's proposals survive the target's
    verification, measured corpus-wide from exact n-gram statistics:
    the draft is the per-language UNIGRAM argmax (a context-free
    guesser), the target is the per-(language, previous-token) BIGRAM
    argmax, and a position accepts exactly when the two greedy argmaxes
    agree.  Per language: the position-weighted acceptance rate and
    the classic expected-tokens-per-target-step for a 4-token draft
    window, E = (1 - a^5)/(1 - a) — the number that decides whether
    speculative decoding pays for a corpus/domain before anyone trains
    the draft.

    Exactness: both argmaxes tie-break lexicographically; the
    acceptance rate is an exact micro floor-division; a^5 is an
    explicit double multiplication chain (no pow() — libm rounding
    differs across engines) evaluated from the identical micro
    integer in both engines.

    Scale shape: two combinable n-gram count shuffles (bigram and
    unigram tables — vocabulary-scale outputs), two windows
    PARTITIONED by (lang[, prev]), one broadcast-sized join back.  At
    100 TB this is the standard n-gram statistics pass with bounded
    per-key fan-out."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select("lang", toks.alias("t")).where(F.size("t") >= 2)
    pairs = pin(t.select(
        "lang",
        F.explode(
            F.transform(
                seq1(F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("prev"),
                    F.element_at("t", i + 1).alias("nxt"),
                ),
            )
        ).alias("p"),
    ).select("lang", "p.prev", "p.nxt"))
    big = pairs.groupBy("lang", "prev").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_tgt = Window.partitionBy("lang", "prev").orderBy(
        F.col("cc").desc(), "nxt"
    )
    tgt = (
        pairs.groupBy("lang", "prev", "nxt")
        .agg(F.count("*").alias("cc"))
        .withColumn("rk", F.row_number().over(w_tgt))
        .where(F.col("rk") == 1)
        .select("lang", "prev", "nxt")
    )
    w_uni = Window.partitionBy("lang").orderBy(F.col("uc").desc(), "tok")
    uni = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("uc"))
        .withColumn("rk", F.row_number().over(w_uni))
        .where(F.col("rk") == 1)
        .select("lang", F.col("tok").alias("draft"))
    )
    acc = (
        big.join(tgt, ["lang", "prev"])
        .join(F.broadcast(uni), "lang")
        .groupBy("lang", "draft")
        .agg(
            F.sum("c").cast("bigint").alias("n_positions"),
            F.sum(
                F.when(F.col("nxt") == F.col("draft"), F.col("c")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_accepted"),
        )
    )
    a_micro = F.expr(
        "CAST(n_accepted * 1000000 DIV n_positions AS BIGINT)"
    )
    ad = a_micro.cast("double") / F.lit(1e6)
    spec = F.when(
        F.col("n_accepted") == F.col("n_positions"), F.lit(5.0)
    ).otherwise((F.lit(1.0) - ad * ad * ad * ad * ad) / (F.lit(1.0) - ad))
    return acc.select(
        "lang",
        "n_positions",
        "n_accepted",
        a_micro.alias("acceptance_micro"),
        F.col("draft").alias("draft_token"),
        F.floor(spec * F.lit(1e6)).cast("bigint").alias(
            "spec_tokens_per_step_micro"
        ),
    ).orderBy("lang")

@register(
    "ext_text_watermark_detect",
    survey_id="EXT-WM-DETECT",
    category="llm-text",
    oracle="""
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
per_doc AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(len(t) - 1 AS BIGINT) AS trials,
         CAST(list_sum(list_transform(
           generate_series(1, len(t) - 1),
           i -> CASE WHEN CAST(('0x' || substr(
                       md5('wm:' || t[i] || ':' || t[i + 1]), 1, 12))
                       AS BIGINT) % 4 = 0
                THEN 1 ELSE 0 END)) AS BIGINT) AS green
  FROM toks WHERE len(t) >= 2
),
scored AS MATERIALIZED (
  SELECT doc_id, lang, trials, green,
         CAST(FLOOR(
           (CAST(green AS DOUBLE) - 0.25e0 * trials)
           / sqrt(CAST(trials AS DOUBLE) * 0.25e0 * 0.75e0) * 1e6)
           AS BIGINT) AS z_micro
  FROM per_doc
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(green) AS BIGINT) AS green_total,
       CAST(SUM(trials) AS BIGINT) AS trials_total,
       CAST(SUM(green) * 1000000 // SUM(trials) AS BIGINT)
         AS green_ratio_micro,
       CAST(SUM(CASE WHEN z_micro > 2000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_detected,
       CAST(MAX(z_micro) AS BIGINT) AS max_z_micro
FROM scored GROUP BY lang ORDER BY lang
""",
)
def ext_text_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM TEXT-WATERMARK DETECTION (Kirchenbauer et al. 2023's
    green-list scheme): each vocabulary is notionally partitioned per
    PREVIOUS token into a gamma=1/4 green list (membership =
    md5('wm:prev:tok') mod 4 == 0 — the hash-seeded partition the
    generator and detector share), and every document is scored by its
    green-token fraction and the one-proportion z statistic
    (green - gamma*T) / sqrt(T*gamma*(1-gamma)).  On un-watermarked
    text — this corpus — the per-language report IS the detector's
    false-positive calibration: green ratio ~250,000 micro, detections
    at z>2 near the expected ~2.3% tail, and the max z observed.  The
    scan a provenance pipeline runs over ingested data before training
    on it.

    Exactness: green counts are row-local integer folds over the token
    sequence (no explode — one pass per document); z floors to micro
    from identical double expressions; aggregates are exact integers.

    Scale shape: one corpus scan with row-local arithmetic and one
    combinable per-language aggregate — nothing shuffles but the
    5-row result."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    toks = d.select("doc_id", "lang", t.alias("t")).where(F.size("t") >= 2)
    green = F.aggregate(
        seq1(F.size("t") - 1),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("wm:"),
                            F.element_at("t", i),
                            F.lit(":"),
                            F.element_at("t", i + 1),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % 4
            == 0,
            1,
        ).otherwise(0),
    )
    per_doc = toks.select(
        "lang",
        (F.size("t") - 1).cast("bigint").alias("trials"),
        green.alias("green"),
    )
    z_micro = F.floor(
        (F.col("green").cast("double") - F.lit(0.25) * F.col("trials"))
        / F.sqrt(F.col("trials").cast("double") * F.lit(0.25) * F.lit(0.75))
        * F.lit(1e6)
    ).cast("bigint")
    return (
        per_doc.select("lang", "trials", "green", z_micro.alias("z_micro"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("green").cast("bigint").alias("green_total"),
            F.sum("trials").cast("bigint").alias("trials_total"),
            F.expr(
                "CAST(sum(green) * 1000000 DIV sum(trials) AS BIGINT)"
            ).alias("green_ratio_micro"),
            F.sum(F.when(F.col("z_micro") > 2000000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_detected"),
            F.max("z_micro").cast("bigint").alias("max_z_micro"),
        )
        .orderBy("lang")
    )

_TEMP_CURVE = ((5, 10), (10, 10), (20, 10))  # tau as (num, den): 0.5, 1, 2


def _temp_curve_oracle() -> str:
    rows = []
    for num, den in _TEMP_CURVE:
        inv = f"({den}e0 / {num}e0)"  # 1/tau
        rows.append(
            f"""SELECT lang,
       CAST({num} AS BIGINT) * 100000 // {den} AS tau_micro,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(FLOOR(
         (ln(CAST(SUM(CAST(FLOOR(exp((CAST(lc AS DOUBLE) / 1e9) * {inv})
                                 * 1e6) AS DECIMAL(38,0))) AS DOUBLE) / 1e6)
          - (CAST(SUM(CAST(FLOOR(exp((CAST(lc AS DOUBLE) / 1e9) * {inv})
                                 * 1e6) AS DECIMAL(38,0))
                      * lc) AS DOUBLE)
             / CAST(SUM(CAST(FLOOR(exp((CAST(lc AS DOUBLE) / 1e9) * {inv})
                                    * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
             / 1e9) * {inv}) * 1e6) AS BIGINT) AS entropy_micro
FROM uni GROUP BY lang"""
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH uni AS MATERIALIZED (
  SELECT lang, tok,
         CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE)) * 1e9) AS BIGINT) AS lc
  FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY lang, tok
)
SELECT * FROM ({union}) ORDER BY lang, tau_micro"""


@register(
    "ext_sampling_temperature_curve",
    survey_id="EXT-TEMP-CURVE",
    category="llm-text",
    oracle=_temp_curve_oracle(),
)
def ext_sampling_temperature_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAMPLING-TEMPERATURE ENTROPY CURVE — how much diversity a
    temperature buys: each language's unigram distribution is
    temperature-scaled (q_t proportional to c_t^(1/tau)) at tau in
    {0.5, 1, 2} and the Shannon entropy of the scaled distribution
    reported, H = ln Z - (1/tau) * E_q[ln c] — the design table a
    decoding configuration reads (tau down -> sharper, entropy falls;
    tau up -> flatter, entropy approaches ln |V|).  Monotonicity in
    tau is asserted by the brute-force test.

    Exactness: ln c floors to the 1e-9 grid per token type; each
    scaled weight floor-grids to micro and sums EXACTLY as
    DECIMAL(38,0) (c^2-scale weights at tau=0.5 overflow int64 — the
    offpolicy-IPS lesson); the final entropy is computed in double
    from identical exact aggregates and floored to micro.

    Scale shape: one (lang, token) count shuffle (vocabulary-scale
    output), then three combinable aggregates over the vocab table —
    the corpus is scanned once."""
    d = load_table(spark, sf_dir, "documents")
    uni = pin(
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(
            F.floor(F.log(F.count("*").cast("double")) * F.lit(1e9))
            .cast("bigint")
            .alias("lc")
        )
    )
    out = None
    for num, den in _TEMP_CURVE:
        inv = F.lit(float(den) / float(num))
        w = F.floor(
            F.exp((F.col("lc").cast("double") / F.lit(1e9)) * inv)
            * F.lit(1e6)
        ).cast("decimal(38,0)")
        agg = uni.groupBy("lang").agg(
            F.count("*").cast("bigint").alias("vocab"),
            F.sum(w).alias("z"),
            F.sum(w * F.col("lc")).alias("wlc"),
        )
        h = (
            F.log(F.col("z").cast("double") / F.lit(1e6))
            - (
                F.col("wlc").cast("double")
                / F.col("z").cast("double")
                / F.lit(1e9)
            )
            * inv
        )
        row = agg.select(
            "lang",
            (F.lit(num).cast("bigint") * 100000 / F.lit(den))
            .cast("bigint")
            .alias("tau_micro"),
            "vocab",
            F.floor(h * F.lit(1e6)).cast("bigint").alias("entropy_micro"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lang", "tau_micro")
