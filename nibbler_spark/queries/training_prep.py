"""Training-set preparation operators: eval-set decontamination,
concat-and-chunk sequence packing, temperature-scaled domain mixing,
deterministic weighted sampling, int8 scalar quantization, and
activity-streak analysis.

These extend the LLM-pipeline surface (SURVEY §2.3 K family + EXT
mandate) with the steps that sit between "deduplicated corpus" and
"training batches" in a real pretraining pipeline. All are pure
DataFrame dataflows; the only corpus-volume shuffles are keyed
aggregations, and every small side (eval n-gram set, per-dimension
quantizer stats, per-bucket prefix offsets) broadcasts.

Determinism notes (NOTES.md playbook): transcendental priorities
(ln, sqrt) are floored to a fixed grid before comparison/summation;
integer counts divide to bit-identical doubles; md5 is the
engine-portable randomness source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nibbler_spark.queries._helpers import seq1, spread

from nibbler_spark.queries import pin, register
from nibbler_spark.sources import load_table

# Context length for sequence packing (tokens per training sequence).
_PACK_CTX = 256
# Coarse bucket width for the two-phase distributed prefix sum.
_PACK_BUCKET = 64
# Contamination n-gram order.
_NGRAM_N = 5
# Temperature for domain mixture reweighting (alpha < 1 upweights
# small domains, the standard multilingual-sampling trick).
_MIX_ALPHA = 0.5


def _token_ngrams(toks_col, n: int):
    """n-token shingles as strings via index transform (k03 pattern),
    guarded for docs shorter than n tokens. NB: Spark's sequence(1, 0)
    yields a DESCENDING [1, 0] (DuckDB's generate_series is empty), so
    the short-doc case needs an explicit empty array, not a clamp."""
    return F.when(
        F.size(toks_col) >= n,
        F.transform(
            seq1(F.size(toks_col) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks_col, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


DECONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, GREATEST(len(t) - {_NGRAM_N - 1}, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4]) AS gs
  FROM toks
),
eval_grams AS (
  SELECT DISTINCT g FROM (
    SELECT UNNEST(gs) AS g FROM grams WHERE doc_id % 97 = 0
  )
),
train_grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, UNNEST(gs) AS g FROM grams WHERE doc_id % 97 <> 0
  )
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM train_grams GROUP BY doc_id
),
matched AS (
  SELECT tg.doc_id, COUNT(*) AS n_matched
  FROM train_grams tg JOIN eval_grams e ON tg.g = e.g
  GROUP BY tg.doc_id
)
SELECT m.doc_id, m.n_matched, t.n_grams,
       CAST(m.n_matched AS DOUBLE) / t.n_grams AS contamination
FROM matched m JOIN totals t ON m.doc_id = t.doc_id
ORDER BY m.doc_id
"""


@register(
    "ext_decontaminate_ngram",
    survey_id="EXT-DECONTAM",
    category="llm-training-prep",
    oracle=DECONTAM_ORACLE,
)
def ext_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    {n}-gram with the held-out eval split (doc_id % 97 == 0), the
    n-gram-overlap check used to scrub benchmark leakage from
    pretraining corpora.

    Dataflow: per-doc gram dedup is row-local (array_distinct on the
    shingle array — no corpus-wide DISTINCT exchange); the distinct
    eval n-gram set (tiny: eval benchmarks are KBs against a 100 TB
    corpus) BROADCASTS, and each exploded train gram probes it in a
    whole-stage-codegen BroadcastHashJoin; one groupBy(doc_id) of
    skinny (id, count) rows folds matches and totals in the same
    aggregate. The corpus-volume exchanges are the one fan-out
    repartition and that single keyed aggregation. (A row-local
    array_intersect against the broadcast set was tried and is ~4×
    slower: the set rebuilds per row instead of once per stage.)
    Integer match counts divide to bit-identical doubles.
    """
    # The sf0.1 documents table is a single parquet split; shingle
    # construction is the CPU-heavy row-local stage, so spread it over
    # the executors up front. At real scale the scan already has
    # thousands of splits and this round-robin fan-out is a no-op
    # cost-wise (it moves raw rows once, before any expansion).
    d = load_table(spark, sf_dir, "documents").transform(spread)
    toks = F.split("text", " ")
    grams = d.select(
        "doc_id",
        F.array_distinct(_token_ngrams(toks, _NGRAM_N)).alias("gs"),
    )
    is_eval = F.col("doc_id") % 97 == 0
    eval_grams = (
        grams.where(is_eval)
        .select(F.explode("gs").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # explode_outer, not explode: plain explode plants an implicit
    # `size(gs) > 0` predicate that Catalyst pushes below the
    # repartition exchange WITH the whole shingle expression inlined —
    # recomputing every gram in the narrow pre-exchange scan stage.
    # The outer variant generates no pushable predicate; the null row
    # from empty gram arrays is dropped above the Generate instead.
    exploded = (
        grams.where(~is_eval)
        .select(
            "doc_id",
            F.size("gs").alias("n_grams"),
            F.explode_outer("gs").alias("g"),
        )
        .where(F.col("g").isNotNull())
    )
    return (
        exploded.join(F.broadcast(eval_grams), "g", "left")
        .groupBy("doc_id", "n_grams")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_matched"))
        .where(F.col("n_matched") >= 1)
        .select(
            "doc_id",
            "n_matched",
            "n_grams",
            (F.col("n_matched").cast("double") / F.col("n_grams")).alias(
                "contamination"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "ext_sequence_packing",
    survey_id="EXT-PACK",
    category="llm-training-prep",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id) AS cum_tokens
  FROM sized
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // {_PACK_CTX} AS BIGINT) AS first_seq,
       CAST((cum_tokens - 1) // {_PACK_CTX} AS BIGINT) AS last_seq,
       CAST((cum_tokens - 1) // {_PACK_CTX} AS BIGINT)
         - CAST((cum_tokens - n_tokens) // {_PACK_CTX} AS BIGINT) + 1
         AS n_seqs
FROM cum ORDER BY doc_id
""",
)
def ext_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents in a
    deterministic order are concatenated into one token stream and cut
    into fixed {ctx}-token training sequences; each document maps to the
    [first_seq, last_seq] range it lands in.

    The global prefix sum is computed in TWO PHASES so no stage ever
    sees an unpartitioned window over the corpus: (1) per-doc token
    counts aggregate into coarse doc_id buckets, and the bucket totals
    (tiny — corpus_size / bucket_width rows) take a driver-scale
    cumulative sum that BROADCASTS back as each bucket's starting
    offset; (2) a window partitioned BY BUCKET adds the within-bucket
    running sum. At 100 TB phase 1 moves kilobytes and phase 2 is an
    ordinary partitioned window — the textbook distributed scan
    (Blelloch two-pass). Integer arithmetic throughout ⇒ exact.
    """
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (F.col("doc_id") / _PACK_BUCKET).cast("bigint").alias("bucket"),
    )
    bucket_tot = sized.groupBy("bucket").agg(
        F.sum("n_tokens").alias("btok")
    )
    w_b = Window.orderBy("bucket")
    offsets = bucket_tot.select(
        "bucket",
        (F.sum("btok").over(w_b) - F.col("btok")).alias("offset"),
    )
    w_in = Window.partitionBy("bucket").orderBy("doc_id")
    cum = (
        sized.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "cum_tokens", F.col("offset") + F.sum("n_tokens").over(w_in)
        )
    )
    first_seq = ((F.col("cum_tokens") - F.col("n_tokens")) / _PACK_CTX).cast(
        "bigint"
    )
    last_seq = ((F.col("cum_tokens") - 1) / _PACK_CTX).cast("bigint")
    return cum.select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
    ).orderBy("doc_id")


@register(
    "ext_domain_mixture",
    survey_id="EXT-MIXTURE",
    category="llm-training-prep",
    oracle=f"""
WITH dom AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY lang, source
),
g AS (
  SELECT lang, source, n_docs, n_tokens,
         CAST(FLOOR(POWER(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}) * 1e6)
              AS BIGINT) AS grid
  FROM dom
)
SELECT lang, source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS natural_share,
       CAST(grid AS DOUBLE) / SUM(grid) OVER () AS mixture_weight
FROM g ORDER BY lang, source
""",
)
def ext_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing: per-(lang, source) sampling
    weights w_d = tokens_d^alpha / sum(tokens^alpha) with alpha=0.5 —
    the standard trick for upweighting low-resource domains when
    drawing a training mixture.

    Per-domain token totals reduce the corpus to one row per domain
    (map-side combine does the heavy lifting), then the unpartitioned
    windows run over that dozen-row aggregate — driver-scale by
    construction, never over the corpus. tokens^alpha is transcendental
    → floored to a 1e-6 grid before the ratio so both engines divide
    identical integers (playbook #3).
    """
    d = load_table(spark, sf_dir, "documents")
    dom = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    grid = F.floor(
        F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA)) * 1e6
    ).cast("bigint")
    w = Window.partitionBy()
    g = dom.withColumn("grid", grid)
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
        ).alias("natural_share"),
        (F.col("grid").cast("double") / F.sum("grid").over(w)).alias(
            "mixture_weight"
        ),
    ).orderBy("lang", "source")


@register(
    "ext_weighted_sample",
    survey_id="EXT-WSAMPLE",
    category="llm-training-prep",
    oracle="""
WITH keyed AS (
  SELECT doc_id, n_chars,
         CAST(FLOOR(
           -LN((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                AS BIGINT) + 0.5) / 281474976710656.0)
           / n_chars * 1e10) AS BIGINT) AS ekey
  FROM documents
)
SELECT doc_id, n_chars, ekey FROM (
  SELECT doc_id, n_chars, ekey,
         ROW_NUMBER() OVER (ORDER BY ekey, doc_id) AS rn
  FROM keyed
) WHERE rn <= 25 ORDER BY ekey, doc_id
""",
)
def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via exponential races
    (Efraimidis–Spirakis): each doc draws u ~ U(0,1) from md5(doc_id)
    and competes with key -ln(u)/weight; the k smallest keys win, so
    inclusion probability is proportional to weight (n_chars here).

    md5 replaces RNG so the draw is reproducible across engines, runs,
    and cluster sizes (the ext_hash_priority_sample discipline, plus
    weights); keys are floored to a 1e-10 grid before ranking since ln
    is transcendental, with doc_id tie-breaks. Top-k by key is a
    TakeOrderedAndProject — no global sort, no shuffle of the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("double")
        + 0.5
    ) / F.lit(float(16**12))
    ekey = F.floor(-F.log(u) / F.col("n_chars") * 1e10).cast("bigint")
    keyed = d.select("doc_id", "n_chars", ekey.alias("ekey"))
    # orderBy+limit = TakeOrderedAndProject — no unpartitioned window.
    return keyed.orderBy("ekey", "doc_id").limit(25)


@register(
    "ext_sq8_quantization",
    survey_id="EXT-SQ8",
    category="llm-vector",
    oracle="""
WITH ex AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, generate_series(1, 64) AS g(i)
),
st AS (
  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY i
),
coded AS (
  SELECT ex.vec_id, ex.i, ex.x, st.mn, st.mx,
         CASE WHEN st.mx = st.mn THEN 0
              ELSE LEAST(CAST(FLOOR((ex.x - st.mn) / (st.mx - st.mn) * 255.0)
                              AS INTEGER), 255) END AS code
  FROM ex JOIN st ON ex.i = st.i
),
recon AS (
  SELECT vec_id, i, code,
         x - (mn + code * ((mx - mn) / 255.0)) AS err
  FROM coded
)
SELECT vec_id,
       list(code ORDER BY i) AS codes,
       CAST(SUM(CAST(FLOOR(err * err * 1e10) AS BIGINT)) AS DOUBLE) / 1e10
         AS sq_err
FROM recon
WHERE vec_id % 5 = 0
GROUP BY vec_id ORDER BY vec_id
""",
)
def ext_sq8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization (SQ8) of the embedding corpus — the
    compression step production vector stores apply before ANN: per
    dimension, min/max over the corpus define a 255-step grid and each
    float becomes its floor-bucket code; reconstruction error is
    reported per vector.

    Per-dimension stats are a 64-row aggregate (map-side combined) that
    BROADCASTS back; codes are computed row-local with no further
    shuffle — at 100 TB this is one scan + one 64-row exchange. All
    arithmetic is basic IEEE double ops (sub/div/mul are correctly
    rounded, float→double exact), so codes hash-match across engines
    with no grid tricks; only the squared-error SUM is grid-floored
    (order independence, playbook #1).
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    st = ex.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    coded = ex.join(F.broadcast(st), "i").select(
        "vec_id",
        "i",
        "x",
        "mn",
        "mx",
        # Constant-dimension guard (mx == mn): code 0, reconstruction mn
        # — mirrored by the same CASE in the oracle. Without it the 0/0
        # scale yields NaN codes on any corpus with a degenerate dim.
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * 255.0
                ).cast("int"),
                F.lit(255),
            )
        )
        .alias("code"),
    )
    err = F.col("x") - (
        F.col("mn") + F.col("code") * ((F.col("mx") - F.col("mn")) / 255.0)
    )
    recon = coded.withColumn("err", err)
    return (
        recon.where(F.col("vec_id") % 5 == 0)
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "code"))
            ).getField("code").alias("codes"),
            (
                F.sum(
                    F.floor(F.col("err") * F.col("err") * 1e10).cast(
                        "bigint"
                    )
                ).cast("double")
                / 1e10
            ).alias("sq_err"),
        )
        .orderBy("vec_id")
    )


@register(
    "ext_streak_lengths",
    survey_id="EXT-STREAK",
    category="event-analytics",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, COUNT(*) AS streak_len,
         MIN(day) AS streak_start
  FROM islands GROUP BY user_id, island
),
best AS (
  SELECT user_id,
         MAX(streak_len) AS max_streak,
         COUNT(*) AS n_streaks,
         SUM(streak_len) AS n_active_days
  FROM streaks GROUP BY user_id
)
SELECT user_id, max_streak, n_streaks, n_active_days FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY max_streak DESC, user_id) AS rn FROM best
) WHERE rn <= 50 ORDER BY max_streak DESC, user_id
""",
)
def ext_streak_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands reduction: distinct active days, rank within user,
    day minus rank is constant within a consecutive run, group on that
    island key and count.

    Everything is keyed by user_id: one shuffle partitions users, and
    the window + both aggregations run within that partitioning (no
    re-shuffle — same single-exchange shape ext_sessionize_batch
    plan-asserts). Top-50 is a TakeOrderedAndProject.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w_u = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island", F.date_sub("day", F.row_number().over(w_u))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_len"), F.min("day").alias("streak_start")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("max_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("streak_len").alias("n_active_days"),
    )
    # orderBy+limit = TakeOrderedAndProject — no unpartitioned window
    # over the (user-scale) best table.
    return (
        best.select("user_id", "max_streak", "n_streaks", "n_active_days")
        .orderBy(F.col("max_streak").desc(), "user_id")
        .limit(50)
    )


@register(
    "ext_bpe_pair_stats",
    survey_id="EXT-BPE",
    category="llm-training-prep",
    oracle="""
WITH words AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY tok
),
pairs AS (
  SELECT UNNEST(list_transform(generate_series(1, length(tok) - 1),
                               i -> substr(tok, i, 2))) AS pair,
         c
  FROM words
),
agg AS (SELECT pair, CAST(SUM(c) AS BIGINT) AS w FROM pairs GROUP BY pair)
SELECT pair, w FROM (
  SELECT pair, w, ROW_NUMBER() OVER (ORDER BY w DESC, pair) AS rn FROM agg
) WHERE rn <= 20 ORDER BY w DESC, pair
""",
)
def ext_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: corpus-weighted
    adjacent-character pair frequencies, whose argmax is the next merge
    rule. Counting runs on the WORD-FREQUENCY table, not raw text —
    the classic BPE optimization: the corpus collapses to (token,
    count) first (one shuffle, map-side combined), then each distinct
    token contributes its |token|-1 pairs weighted by count. A 100 TB
    corpus has a ~memory-sized distinct-token table, so per merge
    iteration this is aggregate → explode → aggregate over kilobyte
    keys; the driver loop applies the merge and re-runs. Integer
    weights ⇒ exact; top-20 is a TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    pairs = words.where(F.length("tok") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring("tok", i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    agg = pairs.groupBy("pair").agg(F.sum("c").cast("bigint").alias("w"))
    # orderBy+limit = TakeOrderedAndProject over the pair vocabulary.
    return agg.orderBy(F.col("w").desc(), "pair").limit(20)


@register(
    "ext_boilerplate_ngrams",
    survey_id="EXT-BOILERPLATE",
    category="llm-training-prep",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
           UNNEST(list_distinct(list_transform(
             generate_series(1, GREATEST(len(t) - {_NGRAM_N - 1}, 0)),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  || ' ' || t[i+4]))) AS g
    FROM toks
  )
),
boiler AS (
  SELECT g FROM (
    SELECT g, COUNT(*) AS n_docs FROM grams GROUP BY g
  ) WHERE n_docs >= 5
),
per_doc AS (
  SELECT gr.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
  FROM grams gr LEFT JOIN boiler b ON gr.g = b.g
  GROUP BY gr.doc_id
)
SELECT doc_id, n_grams, n_boiler,
       CAST(n_boiler AS DOUBLE) / n_grams AS boiler_frac
FROM per_doc
WHERE n_boiler > 0
ORDER BY boiler_frac DESC, doc_id
LIMIT 50
""",
)
def ext_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the C4-style cleanup rule):
    a 5-gram appearing in >= 5 distinct documents is boilerplate
    (headers, footers, license blurbs); each document reports the
    fraction of its distinct grams that are boilerplate, surfacing the
    50 most template-like documents.

    Per-doc gram dedup is row-local (array_distinct before the
    explode), so the one corpus-volume shuffle is the gram-keyed
    document-frequency count — map-side combined, output bounded by
    the distinct-gram vocabulary. The boilerplate set (high-DF grams
    only) is far smaller still and BROADCASTS back for the per-doc
    probe, the ext_decontaminate_ngram shape with a corpus-derived
    (rather than eval-derived) reference set. Integer counts divide to
    bit-identical doubles.
    """
    d = load_table(spark, sf_dir, "documents").transform(spread)
    toks = F.split("text", " ")
    grams = (
        d.select(
            "doc_id",
            F.array_distinct(_token_ngrams(toks, _NGRAM_N)).alias("gs"),
        )
        .select("doc_id", F.explode_outer("gs").alias("g"))
        .where(F.col("g").isNotNull())
    )
    boiler = (
        grams.groupBy("g")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 5)
        .select("g")
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        grams.join(F.broadcast(boiler), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_boiler"),
        )
        .where(F.col("n_boiler") > 0)
    )
    # orderBy+limit = TakeOrderedAndProject — no unpartitioned window
    # over the (corpus-sized) per-doc table.
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_grams")).alias(
                "boiler_frac"
            ),
        )
        .orderBy(F.col("boiler_frac").desc(), "doc_id")
        .limit(50)
    )


@register(
    "ext_training_data_pipeline",
    survey_id="EXT-PIPELINE",
    category="llm-training-prep",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, n_chars,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
input_stage AS (
  SELECT COUNT(*) AS n_units, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM base
),
quality AS (
  SELECT * FROM base WHERE n_chars >= 100 AND n_tokens >= 20
),
dedup AS (
  SELECT * FROM quality
  WHERE doc_id IN (
    SELECT MIN(doc_id) FROM quality GROUP BY md5(text)
  )
),
grams AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - {_NGRAM_N - 1}, 0)),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]
                || ' ' || string_split(text, ' ')[i+4]) AS gs
  FROM base
),
eval_grams AS (
  SELECT DISTINCT g FROM (
    SELECT UNNEST(gs) AS g FROM grams WHERE doc_id % 97 = 0
  )
),
contaminated AS (
  SELECT DISTINCT gr.doc_id
  FROM (SELECT doc_id, UNNEST(gs) AS g FROM grams WHERE doc_id % 97 <> 0) gr
  JOIN eval_grams e ON gr.g = e.g
),
clean AS (
  SELECT * FROM dedup
  WHERE doc_id % 97 <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT stage, n_units, n_tokens FROM (
  SELECT '0_input' AS stage, n_units, n_tokens FROM input_stage
  UNION ALL
  SELECT '1_quality', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM quality
  UNION ALL
  SELECT '2_dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM dedup
  UNION ALL
  SELECT '3_decontam', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM clean
  UNION ALL
  SELECT '4_packed',
         CAST(CEIL(CAST(SUM(n_tokens) AS DOUBLE) / {_PACK_CTX}) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT)
  FROM clean
) ORDER BY stage
""",
)
def ext_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining-data funnel as ONE declarative DAG:
    quality gate (length floors) → exact dedup (min-doc_id per content
    hash) → eval-split decontamination (drop docs sharing any 5-gram
    with the held-out split) → concat-and-chunk packing, reported as a
    per-stage funnel of surviving documents and tokens ('4_packed'
    counts 256-token training sequences instead of documents).

    Composes the family's individual operators in their production
    order; Catalyst sees the whole chain, so the quality filter prunes
    before the dedup shuffle and the gram explode runs only on
    survivors of neither. Each stage's corpus-volume cost is one keyed
    aggregation (content hash, gram, none); the eval gram set
    broadcasts exactly as in EXT-DECONTAM. All counts integer ⇒ exact.
    """
    d = load_table(spark, sf_dir, "documents").transform(spread)
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        "text",
        "n_chars",
        F.size(toks).alias("n_tokens"),
    )
    quality = base.where(
        (F.col("n_chars") >= 100) & (F.col("n_tokens") >= 20)
    )
    keep = quality.groupBy(F.md5("text").alias("k")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dedup = quality.join(keep.select("doc_id"), "doc_id", "left_semi")
    grams = base.select(
        "doc_id",
        F.array_distinct(
            _token_ngrams(F.split("text", " "), _NGRAM_N)
        ).alias("gs"),
    )
    is_eval = F.col("doc_id") % 97 == 0
    eval_grams = (
        grams.where(is_eval)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    contaminated = (
        grams.where(~is_eval)
        .select("doc_id", F.explode_outer("gs").alias("g"))
        .where(F.col("g").isNotNull())
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = dedup.where(~is_eval).join(
        contaminated, "doc_id", "left_anti"
    )

    def stage(name, df_):
        return df_.agg(
            F.lit(name).alias("stage"),
            F.count("*").alias("n_units"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )

    packed = clean.agg(
        F.lit("4_packed").alias("stage"),
        F.ceil(
            F.sum("n_tokens").cast("double") / F.lit(_PACK_CTX)
        ).cast("bigint").alias("n_units"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    return (
        stage("0_input", base)
        .unionByName(stage("1_quality", quality))
        .unionByName(stage("2_dedup", dedup))
        .unionByName(stage("3_decontam", clean))
        .unionByName(packed)
        .orderBy("stage")
    )


@register(
    "ext_grouped_packing",
    survey_id="EXT-PACK-GROUPED",
    category="llm-training-prep",
    oracle=f"""
WITH sized AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
cum AS (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id) AS cum_tokens
  FROM sized
)
SELECT lang, doc_id, n_tokens,
       CAST((cum_tokens - n_tokens) // {_PACK_CTX} AS BIGINT) AS first_seq,
       CAST((cum_tokens - 1) // {_PACK_CTX} AS BIGINT) AS last_seq
FROM cum
WHERE doc_id % 10 = 0
ORDER BY lang, doc_id
""",
)
def ext_grouped_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language concat-and-chunk packing: each language packs into
    its OWN sequence stream (language-homogeneous training batches, the
    standard multilingual setup) — and unlike the global variant this
    needs no two-phase trick at any scale, because the prefix sum is
    already PARTITIONED by the grouping key: one hash exchange on lang,
    then an ordinary keyed window. The contrast with EXT-PACK is the
    point: group-local order ⇒ plain window; global order ⇒ Blelloch
    two-pass. Integer arithmetic ⇒ exact; output sampled to every 10th
    doc to bound rows.
    """
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "lang",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    cum = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    first_seq = (
        (F.col("cum_tokens") - F.col("n_tokens")) / _PACK_CTX
    ).cast("bigint")
    last_seq = ((F.col("cum_tokens") - 1) / _PACK_CTX).cast("bigint")
    return (
        cum.where(F.col("doc_id") % 10 == 0)
        .select(
            "lang",
            "doc_id",
            "n_tokens",
            first_seq.alias("first_seq"),
            last_seq.alias("last_seq"),
        )
        .orderBy("lang", "doc_id")
    )


@register(
    "ext_bpe_merge_round",
    survey_id="EXT-BPE-ROUND",
    category="llm-training-prep",
    oracle="""
WITH words AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY tok
),
pairs1 AS (
  SELECT UNNEST(list_transform(generate_series(1, length(tok) - 1),
                               i -> substr(tok, i, 2))) AS pair, c
  FROM words WHERE length(tok) >= 2
),
top1 AS (
  SELECT pair, substr(pair, 1, 1) AS a, substr(pair, 2, 1) AS b
  FROM (
    SELECT pair, SUM(c) AS w FROM pairs1 GROUP BY pair
    ORDER BY w DESC, pair LIMIT 1
  )
),
seqs AS (
  SELECT array_to_string(string_split(tok, ''), ' ') AS seq, c
  FROM words WHERE length(tok) >= 2
),
merged AS (
  SELECT string_split(REPLACE(seq, a || ' ' || b, a || b), ' ') AS ms,
         c, top1.pair AS applied
  FROM seqs CROSS JOIN top1
),
pairs2 AS (
  SELECT applied,
         UNNEST(list_transform(generate_series(1, len(ms) - 1),
                               i -> ms[i] || '+' || ms[i+1])) AS pair,
         c
  FROM merged WHERE len(ms) >= 2
)
SELECT applied AS merge_rule, pair, CAST(SUM(c) AS BIGINT) AS w
FROM pairs2 GROUP BY applied, pair
ORDER BY w DESC, pair LIMIT 20
""",
)
def ext_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One FULL BPE training round, exactly: take the argmax pair from
    the corpus-weighted adjacent-pair counts (EXT-BPE's output), APPLY
    that merge to every word's symbol sequence, and recount pairs over
    the merged sequences — the next round's statistics, with merged
    symbols now composing with their neighbours.

    The merge application is declarative string algebra: symbol
    sequences are space-joined, and REPLACE's left-to-right
    non-overlapping semantics (identical in Spark and DuckDB, verified)
    are exactly BPE's greedy merge order — no UDF, no fold. Still runs
    on the word-frequency table (the BPE trick), so a round is two
    vocabulary-scale aggregates + a 1-row broadcast of the chosen rule;
    a driver loop extends to k merges. Integer weights ⇒ exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = pin(
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .where(F.length("tok") >= 2)
    )
    pairs1 = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring("tok", i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    top1 = (
        pairs1.groupBy("pair")
        .agg(F.sum("c").alias("w"))
        .orderBy(F.col("w").desc(), "pair")
        .limit(1)
        .select(
            "pair",
            F.substring("pair", 1, 1).alias("a"),
            F.substring("pair", 2, 1).alias("b"),
        )
    )
    seqs = words.select(
        F.concat_ws(" ", F.split("tok", "")).alias("seq"), "c"
    )
    merged = seqs.crossJoin(F.broadcast(top1)).select(
        F.split(
            F.replace(
                F.col("seq"),
                F.concat(F.col("a"), F.lit(" "), F.col("b")),
                F.concat(F.col("a"), F.col("b")),
            ),
            " ",
        ).alias("ms"),
        "c",
        F.col("pair").alias("applied"),
    )
    pairs2 = merged.where(F.size("ms") >= 2).select(
        "applied",
        F.explode(
            F.transform(
                seq1(F.size("ms") - 1),
                lambda i: F.concat_ws(
                    "+", F.element_at("ms", i), F.element_at("ms", i + 1)
                ),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs2.groupBy("applied", "pair")
        .agg(F.sum("c").cast("bigint").alias("w"))
        .select(F.col("applied").alias("merge_rule"), "pair", "w")
        .orderBy(F.col("w").desc(), "pair")
        .limit(20)
    )


def _bpe_train_oracle(rounds: int, final_select: str | None = None) -> str:
    """Unrolled-CTE oracle for multi-round BPE training: each round
    re-counts symbol pairs, takes the (w DESC, a, b) argmax, and applies
    the merge with the unit-separator-delimited REPLACE — identical
    left-to-right non-overlapping semantics in both engines. With
    ``final_select`` the merge-list union is replaced by a query over
    the final symbol table s{rounds} (the encode-step oracle)."""
    sep = "chr(31)"
    parts = [
        """
WITH words AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY tok
),
s0 AS (SELECT string_split(tok, '') AS ms, c FROM words WHERE length(tok) >= 2)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f""",
p{r} AS (
  SELECT UNNEST(list_transform(generate_series(1, len(ms) - 1),
                i -> {{'a': ms[i], 'b': ms[i + 1]}})) AS p, c
  FROM {prev} WHERE len(ms) >= 2
),
t{r} AS (
  SELECT a, b, w FROM (
    SELECT p.a AS a, p.b AS b, CAST(SUM(c) AS BIGINT) AS w
    FROM p{r} GROUP BY 1, 2
  ) ORDER BY w DESC, a, b LIMIT 1
),
s{r} AS (
  SELECT string_split(
           TRIM(REPLACE({sep} || array_to_string(ms, {sep} || {sep}) || {sep},
                        {sep} || t{r}.a || {sep} || {sep} || t{r}.b || {sep},
                        {sep} || t{r}.a || t{r}.b || {sep}),
                {sep}),
           {sep} || {sep}) AS ms, c
  FROM {prev} CROSS JOIN t{r}
)"""
        )
    if final_select is not None:
        parts.append("\n" + final_select.format(final=f"s{rounds}"))
        return "".join(parts)
    unions = "\n  UNION ALL ".join(
        f"SELECT {r} AS round, a, b, a || b AS merged, w FROM t{r}"
        for r in range(1, rounds + 1)
    )
    parts.append(f"\nSELECT * FROM (\n  {unions}\n) ORDER BY round")
    return "".join(parts)


_BPE_SEP = "\x1f"  # unit separator: never occurs in document text


@register(
    "ext_bpe_train_8rounds",
    survey_id="EXT-BPE-TRAIN",
    category="llm-training-prep",
    oracle=_bpe_train_oracle(8),
)
def ext_bpe_train_8rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE tokenizer training (r2 verdict next-round #3):
    eight full merge rounds — round 6 merges 'm'+'er', a multi-char
    symbol, so the run genuinely exercises the case the delimiters
    exist for. Each round is boundary-safe for MULTI-character
    symbols — the r2 single-round REPLACE was only safe while symbols
    were single chars. Every symbol is wrapped in unit separators
    (sep+sym+sep, joined so interior boundaries are sep+sep), so the
    pair pattern sep+a+sep+sep+b+sep can only match whole symbols;
    REPLACE's left-to-right non-overlapping pass is exactly the
    classic BPE merge application, identically in Spark and DuckDB.

    Scale shape: the corpus collapses to the word-frequency table ONCE
    (the only corpus-scale shuffle); each round is then a
    vocabulary-scale explode→aggregate, a 1-row argmax collect (the
    bounded convergence-check pattern), and a broadcast-literal merge
    application with localCheckpoint to keep the lineage flat. A real
    run iterates this loop to vocab size; weights are integer-exact so
    the merge list hash-matches the unrolled-CTE oracle."""
    rules, _ = _bpe_train(spark, sf_dir, rounds=8)
    return spark.createDataFrame(
        rules, "round int, a string, b string, merged string, w bigint"
    )


def _bpe_train(spark: SparkSession, sf_dir: str, rounds: int):
    """Shared BPE training loop: returns (merge rules, final symbol
    table). See ext_bpe_train_8rounds for the algorithm notes."""
    docs = load_table(spark, sf_dir, "documents")
    words = pin(
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .where(F.length("tok") >= 2)
    )
    cur = words.select(F.split("tok", "").alias("ms"), "c")
    sep2 = _BPE_SEP + _BPE_SEP
    rules = []
    for rnd in range(1, rounds + 1):
        pairs = cur.where(F.size("ms") >= 2).select(
            F.explode(
                F.transform(
                    seq1(F.size("ms") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ms"), i).alias("a"),
                        F.element_at(F.col("ms"), i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "c",
        )
        top = (
            pairs.groupBy(
                F.col("p.a").alias("a"), F.col("p.b").alias("b")
            )
            .agg(F.sum("c").cast("bigint").alias("w"))
            .orderBy(F.col("w").desc(), "a", "b")
            .limit(1)
            .collect()[0]
        )
        a, b, w = top["a"], top["b"], top["w"]
        rules.append((rnd, a, b, a + b, w))
        wrapped = F.concat(
            F.lit(_BPE_SEP), F.concat_ws(sep2, "ms"), F.lit(_BPE_SEP)
        )
        merged = F.replace(
            wrapped,
            F.lit(_BPE_SEP + a + _BPE_SEP + _BPE_SEP + b + _BPE_SEP),
            F.lit(_BPE_SEP + a + b + _BPE_SEP),
        )
        cur = pin(cur.select(
            F.split(F.btrim(merged, F.lit(_BPE_SEP)), sep2).alias("ms"), "c"
        ))
    return rules, cur


_BPE_ENCODE_FINAL = """
SELECT symbol, CAST(SUM(c) AS BIGINT) AS w, length(symbol) AS sym_len
FROM (SELECT UNNEST(ms) AS symbol, c FROM {final})
GROUP BY symbol ORDER BY w DESC, symbol LIMIT 20
"""


@register(
    "ext_bpe_encode_corpus",
    survey_id="EXT-BPE-ENCODE",
    category="llm-training-prep",
    oracle=_bpe_train_oracle(8, final_select=_BPE_ENCODE_FINAL),
)
def ext_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's ENCODE step — the other half of BPE that
    ext_bpe_train_8rounds learns: apply the 8 trained merges in order
    to every word's symbol sequence and report the corpus-weighted
    top-20 symbol vocabulary (merged symbols like 'er'/'mer' overtake
    their constituent characters — the compression the merges buy).
    Same scale shape as training: the corpus collapses to the word
    table once; encode is 8 broadcast-literal REPLACE passes over the
    vocabulary-scale table, never touching the corpus again. Oracle:
    the unrolled training CTE extended with the final symbol unnest."""
    _, final = _bpe_train(spark, sf_dir, rounds=8)
    return (
        final.select(F.explode("ms").alias("symbol"), "c")
        .groupBy("symbol")
        .agg(F.sum("c").cast("bigint").alias("w"))
        .select(
            "symbol", "w", F.length("symbol").cast("bigint").alias("sym_len")
        )
        .orderBy(F.col("w").desc(), "symbol")
        .limit(20)
    )


@register(
    "ext_curriculum_packing",
    survey_id="EXT-CURRICULUM",
    category="llm-training-prep",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, n_chars // 100 AS band,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, band, n_tokens,
         SUM(n_tokens) OVER (ORDER BY band, doc_id) AS cum_tokens
  FROM sized
)
SELECT doc_id, CAST(band AS BIGINT) AS band, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // {_PACK_CTX} AS BIGINT) AS first_seq,
       CAST((cum_tokens - 1) // {_PACK_CTX} AS BIGINT) AS last_seq
FROM cum
WHERE doc_id % 10 = 0
ORDER BY band, doc_id
""",
)
def ext_curriculum_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered packing: documents stream into training
    sequences ordered by a difficulty band FIRST (shorter docs early —
    the easy-to-hard curriculum), doc_id second. Shows the two-phase
    prefix sum under a COMPOSITE global ordering: the coarse bucket is
    band * stride + doc_id // 64, where the stride is derived at runtime
    from the table's max doc_id (one 1-row aggregate) so the id-buckets
    of different bands can never collide at ANY corpus size — the r2
    advisory flagged the old constant 4096 stride as silently wrong past
    doc_id 262144. Same shape as EXT-PACK otherwise: bucket totals →
    kilobyte prefix → broadcast offsets → bucket-partitioned window.
    Output sampled to every 10th doc to bound rows; integer arithmetic
    ⇒ exact.
    """
    d = load_table(spark, sf_dir, "documents")
    max_id = d.agg(F.max("doc_id")).collect()[0][0] or 0
    stride = max_id // 64 + 1  # id-bucket count: injective for all ids
    band = (F.col("n_chars") / 100).cast("bigint")
    sized = d.select(
        "doc_id",
        band.alias("band"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        (band * stride + (F.col("doc_id") / 64).cast("bigint")).alias(
            "bucket"
        ),
    )
    bucket_tot = sized.groupBy("bucket").agg(
        F.sum("n_tokens").alias("btok")
    )
    w_b = Window.orderBy("bucket")
    offsets = bucket_tot.select(
        "bucket",
        (F.sum("btok").over(w_b) - F.col("btok")).alias("offset"),
    )
    w_in = Window.partitionBy("bucket").orderBy("band", "doc_id")
    cum = sized.join(F.broadcast(offsets), "bucket").withColumn(
        "cum_tokens", F.col("offset") + F.sum("n_tokens").over(w_in)
    )
    first_seq = (
        (F.col("cum_tokens") - F.col("n_tokens")) / _PACK_CTX
    ).cast("bigint")
    last_seq = ((F.col("cum_tokens") - 1) / _PACK_CTX).cast("bigint")
    return (
        cum.where(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            "band",
            "n_tokens",
            "cum_tokens",
            first_seq.alias("first_seq"),
            last_seq.alias("last_seq"),
        )
        .orderBy("band", "doc_id")
    )


@register(
    "ext_target_encoding",
    survey_id="EXT-TARGET-ENC",
    category="llm-training-prep",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS cat,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
stats AS (
  SELECT cat, CAST(SUM(y) AS BIGINT) AS s, COUNT(*) AS n
  FROM base GROUP BY cat
)
SELECT b.o_orderkey, b.cat, b.y,
       CASE WHEN st.n > 1
            THEN ROUND(CAST(st.s - b.y AS DOUBLE)
                       / CAST(st.n - 1 AS DOUBLE), 6)
       END AS loo_enc
FROM base b JOIN stats st USING (cat)
WHERE b.o_orderkey % 37 = 0
ORDER BY b.o_orderkey
""",
)
def ext_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the categorical-feature staple
    whose naive form LEAKS the label: each row's encoding is the
    category's target mean EXCLUDING the row itself,
    (Σy − y_own)/(n − 1), so the feature never contains its own
    label. One integer-exact per-category aggregate broadcast back
    onto the rows — no per-row re-aggregation, the LOO correction is
    pure arithmetic on the row — which is why this scales to any
    cardinality: cost is one keyed agg + one broadcast join.
    Singleton categories yield NULL (a real pipeline would back off
    to the global prior). Division of identical doubles; hash-exact."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    stats = base.groupBy("cat").agg(
        F.sum("y").cast("bigint").alias("s"), F.count("*").alias("n")
    )
    j = base.join(F.broadcast(stats), "cat")
    return (
        j.where(F.col("o_orderkey") % 37 == 0)
        .select(
            "o_orderkey",
            "cat",
            "y",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("s") - F.col("y")).cast("double")
                    / (F.col("n") - 1).cast("double"),
                    6,
                ),
            ).alias("loo_enc"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "ext_epoch_shuffle_order",
    survey_id="EXT-EPOCH-SHUFFLE",
    category="llm-training-prep",
    oracle="""
WITH keyed AS (
  SELECT e.epoch, d.doc_id,
         md5(e.epoch || ':' || d.doc_id) AS ok
  FROM documents d
  CROSS JOIN (SELECT UNNEST([0, 1]) AS epoch) e
),
top10 AS (
  SELECT epoch, doc_id, ok,
         row_number() OVER (PARTITION BY epoch ORDER BY ok) AS rk
  FROM keyed
)
SELECT epoch, rk AS rank, doc_id
FROM top10 WHERE rk <= 10
ORDER BY epoch, rank
""",
)
def ext_epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle — the reproducibility
    primitive a training pipeline needs: each epoch's data order is
    md5(epoch:doc_id), so (a) the order is a pseudorandom permutation,
    (b) epochs see DIFFERENT permutations, and (c) any worker on any
    cluster reproduces the exact same order with no shared RNG state —
    the Spark-native answer to 'seeded shuffle' (engine sort on a
    portable hash key, not an RNG whose stream depends on
    partitioning). Output: the first 10 docs of epochs 0 and 1. Scale:
    each epoch's head is a TakeOrderedAndProject (no global sort
    materialized); a full-epoch iterator would be one range-partitioned
    sort on the same key — still deterministic at any partition
    count."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    parts = []
    for epoch in (0, 1):
        keyed = d.select(
            F.lit(epoch).alias("epoch"),
            "doc_id",
            F.md5(
                F.concat(
                    F.lit(str(epoch)), F.lit(":"), F.col("doc_id").cast("string")
                )
            ).alias("ok"),
        )
        top = keyed.orderBy("ok").limit(10)
        from pyspark.sql import Window as _W

        parts.append(
            top.withColumn(
                "rank", F.row_number().over(_W.orderBy("ok"))
            ).select("epoch", "rank", "doc_id")
        )
    return parts[0].unionAll(parts[1]).orderBy("epoch", "rank")


@register(
    "ext_stratified_split",
    survey_id="EXT-SPLIT",
    category="llm-training-prep",
    oracle="""
WITH tagged AS (
  SELECT lang,
         CASE
           WHEN CAST(('0x' || substr(md5('split:' || doc_id), 1, 12))
                     AS BIGINT) % 10 < 8 THEN 'train'
           WHEN CAST(('0x' || substr(md5('split:' || doc_id), 1, 12))
                     AS BIGINT) % 10 = 8 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs
FROM tagged GROUP BY lang, split ORDER BY lang, split
""",
)
def ext_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split — md5-bucketed on
    doc_id, so membership is a pure function of the document (stable
    across reruns, partitionings, and engines — never an RNG whose
    stream depends on task layout; the property that makes a split
    REPRODUCIBLE and leak-free, since a doc can never migrate between
    splits when data is re-ingested). Output: the per-language split
    histogram — the stratification report that catches a split
    accidentally starving a low-resource language. Disjointness and
    coverage are structural (the bucket expression partitions [0,10)).
    Scale: row-local hash + one map-side-combinable groupBy."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    split = (
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "split")
    )


@register(
    "ext_length_bucket_batching",
    survey_id="EXT-LENBUCKET",
    category="llm-training-prep",
    oracle="""
WITH lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
),
bucketed AS (
  SELECT n_toks // 64 AS bucket, n_toks FROM lens
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(n_toks) AS BIGINT) AS min_toks,
       CAST(MAX(n_toks) AS BIGINT) AS max_toks,
       CAST(SUM(n_toks) AS BIGINT) AS payload_tokens,
       CAST(COUNT(*) * MAX(n_toks) - SUM(n_toks) AS BIGINT)
         AS padding_waste,
       CAST((SELECT COUNT(*) * MAX(n_toks) - SUM(n_toks) FROM lens)
            AS BIGINT) AS unbucketed_waste
FROM bucketed GROUP BY bucket ORDER BY bucket
""",
)
def ext_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching — the dynamic-batching efficiency
    report: documents grouped into 64-token length buckets, with each
    bucket's padding waste (docs padded to the bucket max) against the
    corpus-wide waste of naive one-batch padding. The padding-
    efficiency argument for bucketing, stated as exact integers — at
    training time this is the difference between wasting ~half the
    batch FLOPs on pad tokens and wasting almost none. Scale: token
    counts are row-local; the report is one map-side-combinable
    groupBy on the bucket key; the corpus-wide reference is a 1-row
    broadcast."""
    lens = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_toks")
    )
    unb = lens.agg(
        (F.count("*") * F.max("n_toks") - F.sum("n_toks"))
        .cast("bigint")
        .alias("unbucketed_waste")
    )
    return (
        lens.select(
            F.expr("n_toks div 64").cast("bigint").alias("bucket"),
            "n_toks",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_toks").cast("bigint").alias("min_toks"),
            F.max("n_toks").cast("bigint").alias("max_toks"),
            F.sum("n_toks").cast("bigint").alias("payload_tokens"),
            (F.count("*") * F.max("n_toks") - F.sum("n_toks"))
            .cast("bigint")
            .alias("padding_waste"),
        )
        .crossJoin(F.broadcast(unb))
        .select(
            "bucket",
            "n_docs",
            "min_toks",
            "max_toks",
            "payload_tokens",
            "padding_waste",
            "unbucketed_waste",
        )
        .orderBy("bucket")
    )

@register(
    "ext_ipf_raking",
    survey_id="EXT-IPF",
    category="llm-training-prep",
    mode="bounded",
    oracle="""
WITH full_cells AS (
  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
),
tl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM full_cells GROUP BY lang),
ts AS (SELECT source, CAST(SUM(n) AS BIGINT) AS t
       FROM full_cells GROUP BY source),
sub AS (
  SELECT lang, source, COUNT(*) AS n
  FROM documents
  WHERE NOT (lang = 'en' AND doc_id % 2 = 0)
  GROUP BY lang, source
),
nl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n FROM sub GROUP BY lang),
w1 AS (
  SELECT s.lang, s.source, s.n,
         CAST(FLOOR((CAST(s.n AS DOUBLE)
               * (CAST(tl.t AS DOUBLE) / CAST(nl.n AS DOUBLE)))
               * 1000000e0) AS BIGINT) AS w1q
  FROM sub s JOIN tl USING (lang) JOIN nl USING (lang)
),
w1s AS (SELECT source, CAST(SUM(w1q) AS BIGINT) AS sw FROM w1
        GROUP BY source),
w2 AS (
  SELECT w1.lang, w1.source, w1.n,
         CAST(FLOOR(CAST(w1.w1q AS DOUBLE)
               * (CAST(ts.t * 1000000 AS DOUBLE) / CAST(w1s.sw AS DOUBLE)))
              AS BIGINT) AS w2q
  FROM w1 JOIN ts USING (source) JOIN w1s USING (source)
),
w2l AS (SELECT lang, CAST(SUM(w2q) AS BIGINT) AS sw FROM w2 GROUP BY lang),
w3 AS (
  SELECT w2.lang, w2.source, w2.n,
         CAST(FLOOR(CAST(w2.w2q AS DOUBLE)
               * (CAST(tl.t * 1000000 AS DOUBLE) / CAST(w2l.sw AS DOUBLE)))
              AS BIGINT) AS w3q
  FROM w2 JOIN tl USING (lang) JOIN w2l USING (lang)
),
colerr1 AS (
  SELECT MAX(ABS(CAST(cs AS DOUBLE) / CAST(tgt AS DOUBLE) - 1e0)) AS e
  FROM (SELECT w1.source, CAST(SUM(w1.w1q) AS BIGINT) AS cs,
               MIN(ts.t) * 1000000 AS tgt
        FROM w1 JOIN ts USING (source) GROUP BY w1.source)
),
colerr3 AS (
  SELECT MAX(ABS(CAST(cs AS DOUBLE) / CAST(tgt AS DOUBLE) - 1e0)) AS e
  FROM (SELECT w3.source, CAST(SUM(w3.w3q) AS BIGINT) AS cs,
               MIN(ts.t) * 1000000 AS tgt
        FROM w3 JOIN ts USING (source) GROUP BY w3.source)
),
rowchk AS (
  SELECT BOOL_AND(ABS(rs - tgt) <= 1000) AS ok
  FROM (SELECT w3.lang, CAST(SUM(w3.w3q) AS BIGINT) AS rs,
               MIN(tl.t) * 1000000 AS tgt
        FROM w3 JOIN tl USING (lang) GROUP BY w3.lang)
)
SELECT w3.lang, w3.source, CAST(w3.n AS BIGINT) AS n_subset,
       w3.w3q AS weight_q,
       rowchk.ok AS rows_matched,
       colerr3.e < colerr1.e AS cols_improved
FROM w3, rowchk, colerr1, colerr3
ORDER BY lang, source
""",
)
def ext_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) — the survey-statistics
    reweighting every dataset-rebalance job reinvents: a biased subset
    (half the English corpus removed) gets per-(lang, source) cell
    weights adjusted toward the FULL corpus marginals by alternating
    scaling rounds (row → column → row). After the final row round the
    row marginals match their targets EXACTLY on the integer grid
    (asserted; floor loss bounded by cells-per-row), and the column
    error has strictly contracted versus its pre-column-scaling value
    (asserted) — the geometric IPF convergence claim, stated as an
    invariant that holds at every scale factor rather than an
    arbitrary tolerance the sampling noise could break. Weights live
    on a 1e6 integer grid between rounds (the dsum trick), so every
    marginal sum is exact decimal addition and the oracle reproduces
    each cell weight bit-for-bit — the whole IPF trajectory is
    hash-checked, not just its outcome. Scale: cells are keyed
    aggregates of the corpus (two shuffles); the cell table itself is
    tiny (|langs| x |sources|) and every join here rides broadcast."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    full_cells = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    tl = full_cells.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("t_l")
    )
    ts = full_cells.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("t_s")
    )
    sub = (
        d.where(~((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0)))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
    )
    nl = sub.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_l"))
    w1 = (
        sub.join(F.broadcast(tl), "lang")
        .join(F.broadcast(nl), "lang")
        .select(
            "lang",
            "source",
            "n",
            F.floor(
                (
                    F.col("n").cast("double")
                    * (
                        F.col("t_l").cast("double")
                        / F.col("n_l").cast("double")
                    )
                )
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("w1q"),
        )
    )
    w1s = w1.groupBy("source").agg(F.sum("w1q").cast("bigint").alias("sw"))
    w2 = (
        w1.join(F.broadcast(ts), "source")
        .join(F.broadcast(w1s), "source")
        .select(
            "lang",
            "source",
            "n",
            F.floor(
                F.col("w1q").cast("double")
                * (
                    (F.col("t_s") * 1_000_000).cast("double")
                    / F.col("sw").cast("double")
                )
            )
            .cast("bigint")
            .alias("w2q"),
        )
    )
    w2l = w2.groupBy("lang").agg(F.sum("w2q").cast("bigint").alias("sw"))
    w3 = (
        w2.join(F.broadcast(tl), "lang")
        .join(F.broadcast(w2l), "lang")
        .select(
            "lang",
            "source",
            "n",
            F.floor(
                F.col("w2q").cast("double")
                * (
                    (F.col("t_l") * 1_000_000).cast("double")
                    / F.col("sw").cast("double")
                )
            )
            .cast("bigint")
            .alias("w3q"),
        )
    )

    def col_err(w: DataFrame, col: str):
        return (
            w.join(F.broadcast(ts), "source")
            .groupBy("source")
            .agg(
                F.sum(col).cast("bigint").alias("cs"),
                (F.min("t_s") * 1_000_000).alias("tgt"),
            )
            .agg(
                F.max(
                    F.abs(
                        F.col("cs").cast("double")
                        / F.col("tgt").cast("double")
                        - F.lit(1.0)
                    )
                ).alias("e")
            )
        )

    e1 = col_err(w1, "w1q").select(F.col("e").alias("e1"))
    e3 = col_err(w3, "w3q").select(F.col("e").alias("e3"))
    rowchk = (
        w3.join(F.broadcast(tl), "lang")
        .groupBy("lang")
        .agg(
            F.sum("w3q").cast("bigint").alias("rs"),
            (F.min("t_l") * 1_000_000).alias("tgt"),
        )
        .agg(
            F.expr("bool_and(abs(rs - tgt) <= 1000)").alias("rows_matched")
        )
    )
    return (
        w3.crossJoin(F.broadcast(rowchk))
        .crossJoin(F.broadcast(e1))
        .crossJoin(F.broadcast(e3))
        .select(
            "lang",
            "source",
            F.col("n").cast("bigint").alias("n_subset"),
            F.col("w3q").alias("weight_q"),
            "rows_matched",
            (F.col("e3") < F.col("e1")).alias("cols_improved"),
        )
        .orderBy("lang", "source")
    )


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled DuckDB replica of the ext_bpe_apply driver loop: stage i
    derives pair weights from the stage-(i-1) symbolization, picks the
    (weight DESC, pair ASC) argmax, and the next stage applies it with
    the same two-pass padded replace the Spark side uses — identical
    construction, so the merge TRAJECTORY hash-matches, not just the
    final counts."""
    parts = [
        """
WITH w0 AS MATERIALIZED (
  SELECT ' ' || array_to_string(
           list_transform(generate_series(1, length(tok)),
                          i -> substr(tok, i, 1)), ' ') || ' ' AS sym,
         c
  FROM (
    SELECT tok, COUNT(*) AS c FROM (
      SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
    ) WHERE length(tok) >= 1 GROUP BY tok
  )
)"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""",
p{i} AS MATERIALIZED (
  SELECT pair, CAST(SUM(c) AS BIGINT) AS w FROM (
    SELECT UNNEST(list_transform(
             generate_series(1, len(s) - 1),
             j -> s[j] || ' ' || s[j + 1])) AS pair,
           c
    FROM (SELECT string_split(trim(sym), ' ') AS s, c FROM {prev})
    WHERE len(s) >= 2
  ) GROUP BY pair
),
m{i} AS MATERIALIZED (SELECT pair, w FROM p{i} ORDER BY w DESC, pair LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(replace(sym,
           ' ' || (SELECT pair FROM m{i}) || ' ',
           ' ' || (SELECT replace(pair, ' ', '') FROM m{i}) || ' '),
           ' ' || (SELECT pair FROM m{i}) || ' ',
           ' ' || (SELECT replace(pair, ' ', '') FROM m{i}) || ' ') AS sym,
         c
  FROM {prev}
)"""
        )
    steps = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, pair AS merge_pair, w AS pair_weight FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"{''.join(parts)}\n{steps}\nORDER BY step"


_BPE_MERGES = 6


@register(
    "ext_bpe_apply",
    survey_id="EXT-BPE-APPLY",
    category="llm-training-prep",
    oracle=_bpe_oracle(_BPE_MERGES),
)
def ext_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER half of BPE tokenization (EXT-BPE counts pairs once;
    this runs the actual training loop): 6 driver-loop rounds, each
    picking the corpus-weighted argmax adjacent-symbol pair (weight
    DESC, pair ASC tie-break) and applying the merge to the word table
    before the next round — returning the learned merge trajectory
    (step, merge_pair, pair_weight), which hash-matches an identically
    constructed 6-stage DuckDB unrolling.

    Scale shape (the classic BPE optimization): all rounds run on the
    DISTINCT-token frequency table, never the corpus — one corpus-wide
    shuffle up front, then per round an explode→aggregate over a
    vocabulary-sized table plus a TakeOrdered(1) argmax; the merge is
    applied with a deterministic two-pass padded replace (pass 2
    catches the occurrence whose leading separator pass 1 consumed —
    both engines' replace() is non-overlapping left-to-right, so the
    construction is engine-exact by definition, and 6 rounds × small
    table keeps driver round-trips trivial).  localCheckpoint truncates
    the per-round lineage exactly as the LPA/k-core loops do."""
    docs = load_table(spark, sf_dir, "documents")
    words = _bpe_symbolized_words(docs)
    _, trajectory = _bpe_merge_loop(words, _BPE_MERGES)
    return spark.createDataFrame(
        trajectory, "step int, merge_pair string, pair_weight long"
    ).orderBy("step")


def _bpe_symbolized_words(docs: DataFrame) -> DataFrame:
    """Distinct-token frequency table with the space-padded character
    symbolization (' c h a r s '), keeping the original token so
    decode-identity checks can compare against it."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.substring(F.col("tok"), i, F.lit(1)),
    )
    return pin(
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .select(
            "tok",
            F.concat(
                F.lit(" "), F.array_join(chars, " "), F.lit(" ")
            ).alias("sym"),
            "c",
        )
    )


def _bpe_merge_loop(words: DataFrame, n_merges: int):
    """The BPE driver loop shared by ext_bpe_apply and
    ext_tokenizer_roundtrip: per round, corpus-weighted argmax adjacent
    pair (weight DESC, pair ASC) applied with the deterministic
    two-pass padded replace.  Returns (final (tok, sym, c) table,
    trajectory [(step, pair, weight)])."""
    trajectory = []
    for step in range(1, n_merges + 1):
        s = F.split(F.trim(F.col("sym")), " ")
        pairs = words.where(F.size(s) >= 2).select(
            F.explode(
                F.transform(
                    seq1(F.size(s) - 1),
                    lambda j: F.concat(
                        F.element_at(s, j),
                        F.lit(" "),
                        F.element_at(s, j + 1),
                    ),
                )
            ).alias("pair"),
            "c",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("c").cast("bigint").alias("w"))
            .orderBy(F.col("w").desc(), "pair")
            .limit(1)
            .collect()[0]
        )
        trajectory.append((step, top["pair"], top["w"]))
        pat = F.lit(" " + top["pair"] + " ")
        rep = F.lit(" " + top["pair"].replace(" ", "") + " ")
        words = pin(words.select(
            "tok",
            F.replace(F.replace(F.col("sym"), pat, rep), pat, rep).alias(
                "sym"
            ),
            "c",
        ))
    return words, trajectory


_BPE_COMPRESSION_FINAL = """
SELECT n_distinct_words, symbols_before, symbols_after, vocab_after,
       CAST((1000000 * symbols_before) // symbols_after AS BIGINT)
         AS compression_micro
FROM (
  -- single scan of the final symbol table: the unrolled 8-stage chain
  -- is a plain (inlined) CTE, so every extra reference re-evaluates it
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s0) AS n_distinct_words,
         (SELECT CAST(SUM(c * len(ms)) AS BIGINT) FROM s0)
           AS symbols_before,
         f.symbols_after, f.vocab_after
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS symbols_after,
               CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_after
        FROM (SELECT UNNEST(ms) AS sym, c FROM {final})) f
)
"""


@register(
    "ext_bpe_compression_stats",
    survey_id="EXT-BPE-ENCODE",
    category="llm-training-prep",
    oracle=_bpe_train_oracle(8, final_select=_BPE_COMPRESSION_FINAL),
)
def ext_bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the 8 learned merges BUY — the missing metric between
    ext_bpe_train_8rounds (the merge table) and ext_bpe_encode_corpus
    (the top-20 vocab): corpus-weighted symbol counts before vs after
    encoding, the subword vocabulary size, and the exact integer
    micro-ratio (10^6 x before DIV after, all-BIGINT floor division —
    no float ratio to diverge between engines).  This is the number a
    tokenizer-training pipeline actually reports: the compression /
    fertility of the merge table over its own training corpus.

    Scale shape: identical to the train/encode pair — one corpus-scale
    shuffle into the word-frequency table, then every aggregate here
    runs on the vocabulary-sized symbol table.  The result is built
    from three single-row aggregates cross-joined (each side is 1 row,
    so the joins are broadcast-trivial); nothing is collected to the
    driver beyond _bpe_train's bounded per-round argmax.  At 100 TB the
    BIGINT sums would move to DECIMAL(38,0) headroom per the repo
    discipline; at any testable sf they are far from overflow."""
    _, final = _bpe_train(spark, sf_dir, rounds=8)
    docs = load_table(spark, sf_dir, "documents")
    s0 = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .where(F.length("tok") >= 2)
        .select(F.split("tok", "").alias("ms"), "c")
    )
    before = s0.agg(
        F.count("*").cast("bigint").alias("n_distinct_words"),
        F.sum(F.col("c") * F.size("ms")).cast("bigint").alias("symbols_before"),
    )
    after = final.agg(
        F.sum(F.col("c") * F.size("ms")).cast("bigint").alias("symbols_after")
    )
    vocab = (
        final.select(F.explode("ms").alias("sym"))
        .agg(F.countDistinct("sym").cast("bigint").alias("vocab_after"))
    )
    return (
        before.crossJoin(after)
        .crossJoin(vocab)
        .select(
            "n_distinct_words",
            "symbols_before",
            "symbols_after",
            "vocab_after",
            F.expr(
                "CAST((1000000 * symbols_before) DIV symbols_after AS BIGINT)"
            ).alias("compression_micro"),
        )
    )


def _bpe_fertility_final(rounds: int) -> str:
    """Per-language final select for _bpe_train_oracle: re-applies the
    globally learned t1..t{rounds} merges to a per-(lang, word) table
    as ONE nested-REPLACE chain (the delimiter invariant — every
    boundary sep+sep, ends single sep — is conserved by each
    replacement, so the chain needs no re-split between rounds) and
    reports per-language fertility and compression in exact BIGINT
    floor division."""
    sep = "chr(31)"
    expr = f"{sep} || array_to_string(list_transform(generate_series(1, length(tok)), i -> substr(tok, i, 1)), {sep} || {sep}) || {sep}"
    for r in range(1, rounds + 1):
        expr = (
            f"REPLACE({expr},\n    {sep} || t{r}.a || {sep} || {sep} || t{r}.b || {sep},"
            f" {sep} || t{r}.a || t{r}.b || {sep})"
        )
    crosses = " ".join(f"CROSS JOIN t{r}" for r in range(1, rounds + 1))
    return f""",
lw AS (
  SELECT lang, tok, COUNT(*) AS c FROM (
    SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY 1, 2
),
lf AS (
  SELECT lang, c, length(tok) AS len_before,
         len(string_split(TRIM({expr}, {sep}), {sep} || {sep})) AS len_after
  FROM lw {crosses}
  WHERE length(tok) >= 2
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS word_occurrences,
       CAST(SUM(c * len_before) AS BIGINT) AS symbols_before,
       CAST(SUM(c * len_after) AS BIGINT) AS symbols_after,
       CAST((1000000 * SUM(c * len_after)) // SUM(c) AS BIGINT)
         AS fertility_micro,
       CAST((1000000 * SUM(c * len_before)) // SUM(c * len_after) AS BIGINT)
         AS compression_micro
FROM lf GROUP BY lang ORDER BY lang"""


@register(
    "ext_multilingual_fertility",
    survey_id="EXT-BPE-FERTILITY",
    category="llm-training-prep",
    oracle=_bpe_train_oracle(8, final_select=_bpe_fertility_final(8)),
)
def ext_multilingual_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE fertility of a GLOBALLY learned merge table — the
    multilingual-tokenizer fairness metric: a vocab trained on the
    pooled corpus compresses dominant languages better, and
    fertility_micro (10^6 x subword tokens per word occurrence, exact
    BIGINT floor division) is how that skew is reported.  Words shorter
    than 2 chars are excluded, consistent with the training loop's word
    table.

    Scale shape: training reuses _bpe_train (one corpus-scale shuffle
    to the global word table, then vocabulary-scale rounds); the
    per-language re-application is a SINGLE narrow projection — the 8
    merges become one nested broadcast-literal REPLACE chain over the
    per-(lang, word) table (the sep2-boundary invariant is conserved by
    each replacement, so no re-split between rounds), followed by one
    per-lang aggregate.  No corpus-scale work beyond the two word-table
    shuffles; at 1000 executors both are plain keyed aggregations."""
    rules, _ = _bpe_train(spark, sf_dir, rounds=8)
    docs = load_table(spark, sf_dir, "documents")
    sep2 = _BPE_SEP + _BPE_SEP
    expr = F.concat(
        F.lit(_BPE_SEP),
        F.array_join(F.split("tok", ""), sep2),
        F.lit(_BPE_SEP),
    )
    for _, a, b, _, _ in rules:
        expr = F.replace(
            expr,
            F.lit(_BPE_SEP + a + _BPE_SEP + _BPE_SEP + b + _BPE_SEP),
            F.lit(_BPE_SEP + a + b + _BPE_SEP),
        )
    ms_after = F.split(F.btrim(expr, F.lit(_BPE_SEP)), sep2)
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
        .where(F.length("tok") >= 2)
        .select(
            "lang",
            "c",
            F.length("tok").alias("len_before"),
            F.size(ms_after).alias("len_after"),
        )
        .groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("word_occurrences"),
            F.sum(F.col("c") * F.col("len_before"))
            .cast("bigint")
            .alias("symbols_before"),
            F.sum(F.col("c") * F.col("len_after"))
            .cast("bigint")
            .alias("symbols_after"),
        )
        .select(
            "lang",
            "word_occurrences",
            "symbols_before",
            "symbols_after",
            F.expr(
                "CAST((1000000 * symbols_after) DIV word_occurrences AS BIGINT)"
            ).alias("fertility_micro"),
            F.expr(
                "CAST((1000000 * symbols_before) DIV symbols_after AS BIGINT)"
            ).alias("compression_micro"),
        )
        .orderBy("lang")
    )


def _dsir_token_bucket(tok_col):
    """md5 unigram hash into the fixed 1024-bucket DSIR feature space
    (engine-portable; identical in the SQL oracle)."""
    return (
        F.conv(F.substring(F.md5(tok_col), 1, 12), 16, 10).cast("bigint")
        % 1024
    )


def _dsir_stats(spark: SparkSession, sf_dir: str):
    """Shared DSIR model build: (doc, lang, bucket) token rows, the
    1024-row per-bucket gridded-ln stats table, and the 1-row totals
    frame.  See ext_dsir_importance_weights for the algorithm notes."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", "lang", _dsir_token_bucket(F.col("tok")).alias("b"))
    raw_b = toks.groupBy("b").agg(F.count("*").cast("bigint").alias("n_r"))
    tgt_b = (
        toks.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("n_t"))
    )
    gridln = lambda c: F.floor(F.log(c) * F.lit(1e9)).cast("bigint")
    stats = raw_b.join(tgt_b, "b", "left").select(
        "b",
        gridln(F.coalesce(F.col("n_t"), F.lit(0)) + 1).alias("g_t"),
        gridln(F.col("n_r") + 1).alias("g_r"),
    )
    nn = (
        raw_b.agg(F.sum("n_r").alias("s_r"))
        .crossJoin(tgt_b.agg(F.sum("n_t").alias("s_t")))
        .select(
            gridln(F.col("s_r") + 1024).alias("g_nr"),
            gridln(F.coalesce(F.col("s_t"), F.lit(0)) + 1024).alias("g_nt"),
        )
    )
    return toks, stats, nn


DSIR_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         CAST(CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 1024
              AS BIGINT) AS b
  FROM (
    SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
    FROM documents
  )
),
raw_b AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_r FROM toks GROUP BY b),
tgt_b AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_t
  FROM toks WHERE lang = 'en' GROUP BY b
),
stats AS (
  SELECT r.b,
         CAST(FLOOR(LN(COALESCE(t.n_t, 0) + 1) * 1e9) AS BIGINT) AS g_t,
         CAST(FLOOR(LN(r.n_r + 1) * 1e9) AS BIGINT) AS g_r
  FROM raw_b r LEFT JOIN tgt_b t USING (b)
),
nn AS (
  SELECT CAST(FLOOR(LN((SELECT SUM(n_r) FROM raw_b) + 1024) * 1e9)
              AS BIGINT) AS g_nr,
         CAST(FLOOR(LN((SELECT COALESCE(SUM(n_t), 0) FROM tgt_b) + 1024)
                    * 1e9) AS BIGINT) AS g_nt
),
docb AS (
  SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2, 3
)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_tokens,
       CAST(SUM(d.c * (s.g_t - s.g_r)) + SUM(d.c) * (nn.g_nr - nn.g_nt)
            AS BIGINT) AS logw_grid,
       CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
         AS in_target
FROM docb d JOIN stats s USING (b) CROSS JOIN nn
WHERE d.doc_id % 7 = 0
GROUP BY d.doc_id, d.lang, nn.g_nr, nn.g_nt
ORDER BY d.doc_id
"""


@register(
    "ext_dsir_importance_weights",
    survey_id="EXT-DSIR",
    category="llm-training-prep",
    oracle=DSIR_ORACLE,
)
def ext_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (importance resampling toward a target
    domain): per-document log importance weight
    ln[p_target(doc)/p_raw(doc)] under add-1-smoothed HASHED unigram
    LMs — md5-bucketed into 1024 features, the fixed-size trick that
    makes the method corpus-size-independent.  Target = lang 'en'
    (select-what-looks-English, the CCNet/DSIR use).  Every log rides
    the 1e-9 gridded-ln BIGINT recipe, so the per-doc sum
    sum_b c_b*(g(n_t+1) - g(n_r+1)) + T*(g(N_r+1024) - g(N_t+1024))
    is integer-exact across engines.  English docs should skew
    positive — the property test checks the separation.

    Scale shape: two corpus-scale keyed aggregations (doc×bucket
    counts, bucket totals); the per-bucket stats table is 1024 rows
    regardless of corpus size, so the scoring join BROADCASTS it —
    scoring 100 TB is a map-side join plus one per-doc aggregate, and
    the two grand totals ride a broadcast cross join."""
    toks, stats, nn = _dsir_stats(spark, sf_dir)
    docb = toks.groupBy("doc_id", "lang", "b").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return (
        docb.where(F.col("doc_id") % 7 == 0)
        .join(F.broadcast(stats), "b")
        .crossJoin(F.broadcast(nn))
        .groupBy("doc_id", "lang", "g_nr", "g_nt")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * (F.col("g_t") - F.col("g_r")))
            .cast("bigint")
            .alias("s_diff"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("s_diff")
                + F.col("n_tokens") * (F.col("g_nr") - F.col("g_nt"))
            )
            .cast("bigint")
            .alias("logw_grid"),
            (F.col("lang") == "en").cast("bigint").alias("in_target"),
        )
        .orderBy("doc_id")
    )


_UNI_NEG = -(10**15)
_UNI_MAXLEN = 12


def _unigram_oracle(maxlen: int) -> str:
    """Unrolled Viterbi-segmentation DP (pieces of length 1..3) with a
    sliding 3-slot accumulator per step — the DuckDB replica of the
    Spark-side F.aggregate fold.  Piece scores come from a MAP scalar
    (m[p][1] — DuckDB 1.0 map extraction yields a 1-element list)."""
    neg = str(_UNI_NEG)
    parts = [
        f"""
WITH words AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE length(tok) BETWEEN 1 AND {maxlen} GROUP BY tok
),
pieces AS (
  SELECT p, CAST(SUM(c) AS BIGINT) AS cnt FROM (
    SELECT substr(w.tok, pos.i, ln.l) AS p, w.c
    FROM words w,
         LATERAL (SELECT UNNEST(generate_series(1, length(w.tok))) AS i) pos,
         (SELECT UNNEST([1, 2, 3]) AS l) ln
    WHERE pos.i + ln.l - 1 <= length(w.tok)
  ) GROUP BY p
),
tot AS (SELECT CAST(FLOOR(LN(SUM(cnt)) * 1e9) AS BIGINT) AS gn FROM pieces),
mp AS (
  SELECT MAP(list(p), list(CAST(FLOOR(LN(cnt) * 1e9) AS BIGINT) - tot.gn))
           AS m
  FROM pieces, tot GROUP BY tot.gn
),
u0 AS (
  SELECT tok, c, m, length(tok) AS nl,
         CAST(0 AS BIGINT) AS va, CAST({neg} AS BIGINT) AS vb,
         CAST({neg} AS BIGINT) AS vc,
         '' AS sga, '' AS sgb, '' AS sgc
  FROM words CROSS JOIN mp
)"""
    ]
    for j in range(1, maxlen + 1):
        prev = f"u{j - 1}"
        c1 = f"va + m[substr(tok, {j}, 1)][1]"
        c2 = (
            f"vb + m[substr(tok, {j - 1}, 2)][1]"
            if j >= 2
            else f"CAST({neg} AS BIGINT)"
        )
        c3 = (
            f"vc + m[substr(tok, {j - 2}, 3)][1]"
            if j >= 3
            else f"CAST({neg} AS BIGINT)"
        )
        s1 = f"sga || ' ' || substr(tok, {j}, 1)"
        s2 = f"sgb || ' ' || substr(tok, {j - 1}, 2)" if j >= 2 else "''"
        s3 = f"sgc || ' ' || substr(tok, {j - 2}, 3)" if j >= 3 else "''"
        parts.append(
            f""",
u{j} AS (
  SELECT tok, c, m, nl,
    CASE WHEN nl >= {j} THEN GREATEST({c1}, {c2}, {c3}) ELSE va END AS va,
    CASE WHEN nl >= {j} THEN va ELSE vb END AS vb,
    CASE WHEN nl >= {j} THEN vb ELSE vc END AS vc,
    CASE WHEN nl >= {j} THEN
      CASE WHEN ({c3}) >= ({c2}) AND ({c3}) >= ({c1}) THEN {s3}
           WHEN ({c2}) >= ({c1}) THEN {s2}
           ELSE {s1} END
    ELSE sga END AS sga,
    CASE WHEN nl >= {j} THEN sga ELSE sgb END AS sgb,
    CASE WHEN nl >= {j} THEN sgb ELSE sgc END AS sgc
  FROM {prev}
)"""
        )
    parts.append(
        f""",
segs AS (SELECT TRIM(sga) AS seg, c FROM u{maxlen}),
newcnt AS (
  SELECT p, CAST(SUM(c) AS BIGINT) AS new_count FROM (
    SELECT UNNEST(string_split(seg, ' ')) AS p, c FROM segs
  ) GROUP BY p
)
SELECT n.p AS piece, s.cnt AS seed_count, n.new_count
FROM newcnt n JOIN pieces s ON s.p = n.p
ORDER BY n.new_count DESC, n.p LIMIT 20"""
    )
    return "".join(parts)


@register(
    "ext_unigram_lm_segmentation",
    survey_id="EXT-UNIGRAM-LM",
    category="llm-training-prep",
    oracle=_unigram_oracle(_UNI_MAXLEN),
)
def ext_unigram_lm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM round of SentencePiece-style Unigram-LM tokenization —
    the OTHER major subword algorithm next to the BPE family: seed a
    piece vocabulary with every 1..3-char substring of the word table
    (counts = corpus-weighted occurrences), score pieces with the
    gridded-ln of their seed unigram probability, Viterbi-segment every
    word under those scores (E-step), and recount pieces along the
    chosen segmentations (M-step) — returning the top-20 pieces by
    re-estimated count with their seed counts.

    The E-step DP runs as ONE row-local F.aggregate fold over the
    position sequence: the accumulator carries a sliding 3-slot window
    of (score, segmentation) pairs — v[j] = max over piece lengths
    1..3 of v[j-l] + s(piece) — so the expression tree is a single
    lambda body (no 3^L blowup), every comparison is exact BIGINT, and
    ties prefer the LONGER piece identically in both engines.  Piece
    scores ride ONE broadcast map row (the DSIR deployment shape);
    words are capped at {maxlen} chars, matching the oracle's unroll
    depth.

    Scale shape: one corpus-scale shuffle to the word table; the piece
    vocab is substring-bounded (a production run prunes it to top-N,
    which only shrinks the map); segmentation is embarrassingly
    parallel row-local arithmetic and the M-step is a vocab-scale
    aggregate.  Oracle: the identical DP unrolled as 12 generated CTE
    stages.""".replace("{maxlen}", str(_UNI_MAXLEN))
    docs = load_table(spark, sf_dir, "documents")
    words = pin(
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        .where(F.length("tok").between(1, _UNI_MAXLEN))
    )
    segs, pieces = _unigram_viterbi_segs(words)
    newcnt = (
        segs.select(F.explode(F.split("seg", " ")).alias("p"), "c")
        .groupBy("p")
        .agg(F.sum("c").cast("bigint").alias("new_count"))
    )
    return (
        newcnt.join(pieces, "p")
        .select(
            F.col("p").alias("piece"),
            F.col("cnt").alias("seed_count"),
            "new_count",
        )
        .orderBy(F.col("new_count").desc(), "piece")
        .limit(20)
    )


def _unigram_viterbi_segs(words: DataFrame):
    """The Unigram-LM E-step shared by ext_unigram_lm_segmentation and
    ext_tokenizer_roundtrip: seed 1..3-char piece counts, gridded-ln
    scores on one broadcast map row, row-local Viterbi fold with a
    sliding 3-slot (score, segmentation) accumulator (ties prefer the
    LONGER piece).  words: (tok, c) with length(tok) <= _UNI_MAXLEN.
    Returns (segs (tok, seg, c), pieces (p, cnt))."""
    pos = F.explode(F.sequence(F.lit(1), F.length("tok")))
    pieces = pin(
        words.select("tok", "c", pos.alias("i"))
        .select(
            "tok", "c", "i", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("l")
        )
        .where(F.col("i") + F.col("l") - 1 <= F.length("tok"))
        .select(
            F.col("tok").substr(F.col("i"), F.col("l")).alias("p"), "c"
        )
        .groupBy("p")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
    )
    gridln = lambda c: F.floor(F.log(c) * F.lit(1e9)).cast("bigint")
    gn = pieces.agg(gridln(F.sum("cnt")).alias("gn"))
    model = (
        pieces.crossJoin(F.broadcast(gn))
        .select("p", (gridln(F.col("cnt")) - F.col("gn")).alias("s"))
        .agg(
            F.map_from_arrays(
                F.collect_list("p"), F.collect_list("s")
            ).alias("m")
        )
    )
    neg = F.lit(_UNI_NEG).cast("bigint")
    zero = F.struct(
        F.lit(0).cast("bigint").alias("va"),
        neg.alias("vb"),
        neg.alias("vc"),
        F.lit("").alias("sga"),
        F.lit("").alias("sgb"),
        F.lit("").alias("sgc"),
    )

    def step(acc, j):
        tok = F.col("tok")
        m = F.col("m")
        sc = lambda start, ln: F.element_at(
            m, tok.substr(start, F.lit(ln))
        )
        c1 = acc["va"] + sc(j, 1)
        c2 = F.when(j >= 2, acc["vb"] + sc(j - 1, 2)).otherwise(neg)
        c3 = F.when(j >= 3, acc["vc"] + sc(j - 2, 3)).otherwise(neg)
        s1 = F.concat(acc["sga"], F.lit(" "), tok.substr(j, F.lit(1)))
        s2 = F.concat(acc["sgb"], F.lit(" "), tok.substr(j - 1, F.lit(2)))
        s3 = F.concat(acc["sgc"], F.lit(" "), tok.substr(j - 2, F.lit(3)))
        new = F.struct(
            F.greatest(c1, c2, c3).alias("va"),
            acc["va"].alias("vb"),
            acc["vb"].alias("vc"),
            F.when((c3 >= c2) & (c3 >= c1), s3)
            .when(c2 >= c1, s2)
            .otherwise(s1)
            .alias("sga"),
            acc["sga"].alias("sgb"),
            acc["sgb"].alias("sgc"),
        )
        return F.when(j <= F.length(tok), new).otherwise(acc)

    fin = F.aggregate(
        F.sequence(F.lit(1), F.lit(_UNI_MAXLEN)), zero, step
    )
    segs = words.crossJoin(F.broadcast(model)).select(
        "tok", F.trim(fin["sga"]).alias("seg"), "c"
    )
    return segs, pieces


@register(
    "ext_dsir_classifier_kappa",
    survey_id="EXT-DSIR-KAPPA",
    category="ml-exact",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 1024
              AS BIGINT) AS b
  FROM (
    SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
    FROM documents
  )
),
raw_b AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_r FROM toks GROUP BY b),
tgt_b AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_t
  FROM toks WHERE lang = 'en' GROUP BY b
),
stats AS (
  SELECT r.b,
         CAST(FLOOR(LN(COALESCE(t.n_t, 0) + 1) * 1e9) AS BIGINT) AS g_t,
         CAST(FLOOR(LN(r.n_r + 1) * 1e9) AS BIGINT) AS g_r
  FROM raw_b r LEFT JOIN tgt_b t USING (b)
),
nn AS (
  SELECT CAST(FLOOR(LN((SELECT SUM(n_r) FROM raw_b) + 1024) * 1e9)
              AS BIGINT) AS g_nr,
         CAST(FLOOR(LN((SELECT COALESCE(SUM(n_t), 0) FROM tgt_b) + 1024)
                    * 1e9) AS BIGINT) AS g_nt
),
docb AS (
  SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2, 3
),
weights AS (
  SELECT d.doc_id,
         CAST(SUM(d.c * (s.g_t - s.g_r)) + SUM(d.c) * (nn.g_nr - nn.g_nt)
              AS BIGINT) AS logw,
         CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM docb d JOIN stats s USING (b) CROSS JOIN nn
  GROUP BY d.doc_id, d.lang, nn.g_nr, nn.g_nt
),
thr AS (
  -- exact floor division (sum may be negative; both engines' % is
  -- truncated, so the positive-mod form floors identically)
  SELECT CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS t
  FROM (SELECT CAST(SUM(logw) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n FROM weights)
),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN logw > thr.t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN logw > thr.t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN logw <= thr.t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN logw <= thr.t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    MIN(thr.t) AS thr
  FROM weights CROSS JOIN thr
)
SELECT tp, fp, fn, tn, thr,
       CAST(tp + fp + fn + tn AS BIGINT) AS n,
       CAST((tp + fp + fn + tn) * (tp + tn)
            - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
            AS BIGINT) AS kappa_num,
       CAST((tp + fp + fn + tn) * (tp + fp + fn + tn)
            - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
            AS BIGINT) AS kappa_den,
       CAST((tp + fp + fn + tn) * (tp + tn)
            - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
            AS DOUBLE)
         / CAST((tp + fp + fn + tn) * (tp + fp + fn + tn)
                - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                AS DOUBLE) AS kappa
FROM cells
""",
)
def ext_dsir_classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the DSIR importance scorer AS A CLASSIFIER (does
    logw above the corpus mean predict the target domain?) with
    Cohen's kappa — chance-corrected agreement, the metric that stays
    honest under the class imbalance a mostly-English corpus has.
    Everything is one exact rational: kappa_num = n(tp+tn) − Σ
    marginal products, kappa_den = n² − Σ marginal products, and the
    threshold is the exact floored mean of the BIGINT weights (the
    positive-mod floor-division form — both engines' % truncates, so
    the floor is identical even for the negative sums smoothing
    produces).

    Scale shape: the DSIR scoring dataflow (fixed 1024-bucket
    broadcast stats) plus three single-row aggregates; nothing beyond
    the two corpus-scale keyed aggregations the scorer already does.
    At 100 TB the n² product lifts to DECIMAL(38,0) headroom."""
    toks, stats, nn = _dsir_stats(spark, sf_dir)
    weights = (
        toks.groupBy("doc_id", "lang", "b")
        .agg(F.count("*").cast("bigint").alias("c"))
        .join(F.broadcast(stats), "b")
        .crossJoin(F.broadcast(nn))
        .groupBy("doc_id", "lang", "g_nr", "g_nt")
        .agg(
            F.sum("c").cast("bigint").alias("tcount"),
            F.sum(F.col("c") * (F.col("g_t") - F.col("g_r")))
            .cast("bigint")
            .alias("s_diff"),
        )
        .select(
            (
                F.col("s_diff")
                + F.col("tcount") * (F.col("g_nr") - F.col("g_nt"))
            )
            .cast("bigint")
            .alias("logw"),
            (F.col("lang") == "en").cast("bigint").alias("y"),
        )
    )
    thr = weights.agg(
        F.sum("logw").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    ).select(
        F.expr("CAST((s - pmod(s, n)) DIV n AS BIGINT)").alias("t")
    )
    cells = (
        weights.crossJoin(F.broadcast(thr))
        .agg(
            F.sum(((F.col("logw") > F.col("t")) & (F.col("y") == 1)).cast("bigint"))
            .cast("bigint")
            .alias("tp"),
            F.sum(((F.col("logw") > F.col("t")) & (F.col("y") == 0)).cast("bigint"))
            .cast("bigint")
            .alias("fp"),
            F.sum(((F.col("logw") <= F.col("t")) & (F.col("y") == 1)).cast("bigint"))
            .cast("bigint")
            .alias("fn"),
            F.sum(((F.col("logw") <= F.col("t")) & (F.col("y") == 0)).cast("bigint"))
            .cast("bigint")
            .alias("tn"),
            F.min("t").alias("thr"),
        )
    )
    n = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    pe = (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn")) + (
        F.col("fn") + F.col("tn")
    ) * (F.col("fp") + F.col("tn"))
    num = (n * (F.col("tp") + F.col("tn")) - pe).cast("bigint")
    den = (n * n - pe).cast("bigint")
    return cells.select(
        "tp",
        "fp",
        "fn",
        "tn",
        "thr",
        n.cast("bigint").alias("n"),
        num.alias("kappa_num"),
        den.alias("kappa_den"),
        (num.cast("double") / den.cast("double")).alias("kappa"),
    )


@register(
    "ext_dsir_gumbel_resample",
    survey_id="EXT-DSIR-SAMPLE",
    category="llm-training-prep",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 1024
              AS BIGINT) AS b
  FROM (
    SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
    FROM documents
  )
),
raw_b AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_r FROM toks GROUP BY b),
tgt_b AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_t
  FROM toks WHERE lang = 'en' GROUP BY b
),
stats AS (
  SELECT r.b,
         CAST(FLOOR(LN(COALESCE(t.n_t, 0) + 1) * 1e9) AS BIGINT) AS g_t,
         CAST(FLOOR(LN(r.n_r + 1) * 1e9) AS BIGINT) AS g_r
  FROM raw_b r LEFT JOIN tgt_b t USING (b)
),
nn AS (
  SELECT CAST(FLOOR(LN((SELECT SUM(n_r) FROM raw_b) + 1024) * 1e9)
              AS BIGINT) AS g_nr,
         CAST(FLOOR(LN((SELECT COALESCE(SUM(n_t), 0) FROM tgt_b) + 1024)
                    * 1e9) AS BIGINT) AS g_nt
),
docb AS (
  SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2, 3
),
weights AS (
  SELECT d.doc_id,
         CAST(SUM(d.c * (s.g_t - s.g_r)) + SUM(d.c) * (nn.g_nr - nn.g_nt)
              AS BIGINT) AS logw
  FROM docb d JOIN stats s USING (b) CROSS JOIN nn
  GROUP BY d.doc_id, nn.g_nr, nn.g_nt
),
keyed AS (
  SELECT doc_id, logw,
         CAST(FLOOR(-LN(-LN(
           (CAST(('0x' || substr(md5('gum:' || CAST(doc_id AS VARCHAR)),
                  1, 12)) AS BIGINT) + 0.5e0) / 281474976710656e0
         )) * 1e6) AS BIGINT) AS gumbel_grid
  FROM weights
)
SELECT doc_id, logw, gumbel_grid,
       CAST(logw + 1000 * gumbel_grid AS BIGINT) AS gumbel_key
FROM keyed
ORDER BY gumbel_key DESC, doc_id LIMIT 50
""",
)
def ext_dsir_gumbel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLE half of DSIR: draw 50 documents WITHOUT replacement
    with probability proportional to exp(importance weight) via the
    Gumbel-top-k trick — key = logw + Gumbel noise, take the top k;
    mathematically identical to sequential sampling from the softmax,
    in one distributed TakeOrdered pass with zero sequential state.
    The Gumbel draw is engine-portable: u = (md5_48('gum:'||doc_id) +
    0.5)/2^48 (strictly inside (0,1), so -ln(-ln(u)) is always
    finite), floored to the same 1e-9 ln grid the weights live on, so
    key addition is exact BIGINT arithmetic and the selection is
    deterministic across engines, runs, and partitionings.

    Scale shape: the DSIR scoring dataflow plus one TakeOrdered(50) —
    the top-k never materializes a global sort, and the noise is
    derived per row (no RNG state, no driver round trip)."""
    toks, stats, nn = _dsir_stats(spark, sf_dir)
    weights = (
        toks.groupBy("doc_id", "lang", "b")
        .agg(F.count("*").cast("bigint").alias("c"))
        .join(F.broadcast(stats), "b")
        .crossJoin(F.broadcast(nn))
        .groupBy("doc_id", "g_nr", "g_nt")
        .agg(
            F.sum("c").cast("bigint").alias("tcount"),
            F.sum(F.col("c") * (F.col("g_t") - F.col("g_r")))
            .cast("bigint")
            .alias("s_diff"),
        )
        .select(
            "doc_id",
            (
                F.col("s_diff")
                + F.col("tcount") * (F.col("g_nr") - F.col("g_nt"))
            )
            .cast("bigint")
            .alias("logw"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("gum:"), F.col("doc_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**48))
    # 1e-6 ln grid for the composed transcendental (coarser than the
    # weights' 1e-9 grid — a double ulp near a grid line is the only
    # cross-engine risk, and 1e-6 leaves ~3 orders of safety), rescaled
    # by 1000 into the weights' units for the exact BIGINT key.
    gumbel = F.floor(-F.log(-F.log(u)) * F.lit(1e6)).cast("bigint")
    return (
        weights.select(
            "doc_id",
            "logw",
            gumbel.alias("gumbel_grid"),
            (F.col("logw") + 1000 * gumbel).cast("bigint").alias("gumbel_key"),
        )
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(50)
    )


def _cov_oracle() -> str:
    """5-stage unrolled greedy max-coverage oracle. ds is re-evaluated
    per reference by DuckDB's CTE inlining (the BPE lesson) — cheap
    here: one shingle scan per reference."""
    stages = ["""ds AS (
  SELECT DISTINCT doc_id, substr(md5(g), 1, 16) AS sh
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(tk) - 4),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                       || tk[i+3] || ' ' || tk[i+4])) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
  )
)""", """uni AS (SELECT CAST(COUNT(DISTINCT sh) AS BIGINT) AS u FROM ds)"""]
    prev_cov = None
    for r in range(1, 6):
        anti = (
            f" WHERE ds.sh NOT IN (SELECT sh FROM {prev_cov})"
            if prev_cov
            else ""
        )
        stages.append(
            f"s{r} AS (SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS gain"
            f" FROM ds{anti} GROUP BY ds.doc_id"
            f" ORDER BY gain DESC, ds.doc_id LIMIT 1)"
        )
        sel = " UNION ALL ".join(
            f"SELECT doc_id FROM s{i}" for i in range(1, r + 1)
        )
        stages.append(
            f"cov{r} AS (SELECT DISTINCT sh FROM ds"
            f" WHERE doc_id IN ({sel}))"
        )
        prev_cov = f"cov{r}"
    rows = " UNION ALL ".join(
        f"SELECT {r} AS round, doc_id, gain FROM s{r}" for r in range(1, 6)
    )
    return (
        "WITH " + ",\n".join(stages) + f"""
SELECT q.round, q.doc_id, q.gain,
       CAST(SUM(q.gain) OVER (ORDER BY q.round) AS BIGINT) AS cum_coverage,
       uni.u AS universe,
       CAST(SUM(q.gain) OVER (ORDER BY q.round) * 1000000 // uni.u
            AS BIGINT) AS coverage_micro
FROM ({rows}) q CROSS JOIN uni
ORDER BY q.round"""
    )


@register(
    "ext_submodular_coverage",
    survey_id="EXT-SUBMODULAR",
    category="llm-training-prep",
    oracle=_cov_oracle(),
)
def ext_submodular_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection — the submodular
    subset-selection algorithm (facility location / max-coverage,
    Nemhauser's (1-1/e) guarantee) that picks the 5 documents whose
    md5-slimmed 5-shingle sets jointly cover the most of the corpus's
    shingle universe: the classic "most diverse exemplars" pass used
    for instruction-data curation and coreset selection, and the
    set-cover dual of the dedup family (dedup removes redundancy;
    this SELECTS for coverage). Output per round: the chosen doc, its
    MARGINAL gain (new shingles only — the submodular quantity),
    cumulative coverage and its exact micro fraction of the universe.

    All counts are exact BIGINTs over distinct (doc, shingle) pairs;
    ties break to the smallest doc_id, so both engines walk the
    identical greedy trajectory.

    Scale shape: the distinct (doc, shingle) table builds once
    (map-side-combinable distinct) and is localCheckpoint'ed; each of
    the 5 rounds is one keyed ANTI-join against the <= |universe|
    covered-shingle table (itself rebuilt from the <= 5-doc broadcast
    selection), one map-side-combinable per-doc count, one
    partial-combining struct-argmax. No round touches raw text, no
    all-pairs anything; at 100 TB the covered table is the only
    growing intermediate and it is bounded by the UNION of selected
    docs' shingles (k * doc-size, not corpus-size)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # the shingle key only ever feeds equality (distinct / anti-join /
    # countDistinct), so any injective-at-this-density 64-bit digest
    # works and both engines count the same set sizes: Spark uses the
    # native multi-arg xxhash64 (no string concat, no hex slicing —
    # r7: the md5-string build was ~60% of the query's wall time), the
    # DuckDB oracle keeps md5 — an independent derivation of the same
    # counts, and the hash gate would expose a 64-bit collision on
    # either side
    ds = (
        # single-file corpus -> one input split: widen BEFORE the
        # 200x shingle explode so the build uses the cluster, not one
        # task (the k05/i42 lesson; at 100 TB the scan is already wide)
        pin(d.select("doc_id", "text")
        .transform(spread)
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(toks) >= 5,
                    F.transform(
                        seq1(F.size(toks) - 4),
                        lambda i: F.xxhash64(
                            F.element_at(toks, i),
                            F.element_at(toks, i + 1),
                            F.element_at(toks, i + 2),
                            F.element_at(toks, i + 3),
                            F.element_at(toks, i + 4),
                        ),
                    ),
                ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
            ).alias("sh"),
        )
        .distinct())
    )
    uni = ds.agg(F.countDistinct("sh").cast("bigint").alias("u"))
    selected = []  # list of (round, 1-row DataFrame with doc_id, gain)
    covered = None  # DataFrame of covered shingles
    for r in range(1, 6):
        # covered is bounded by k * doc-size BY DESIGN (union of <= 5
        # selected docs' shingles) — broadcast it so no round ever
        # reshuffles the corpus-scale (doc, shingle) table (r7
        # constant-factor pass: the unhinted anti-join was a full SMJ
        # shuffle of ds per round, ~5 corpus shuffles per query)
        pool = (
            ds.join(F.broadcast(covered), "sh", "left_anti")
            if covered is not None
            else ds
        )
        gains = pool.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("gain")
        )
        best = pin(
            gains.agg(
                F.max(
                    F.struct(
                        F.col("gain"), (-F.col("doc_id")).alias("nd")
                    )
                ).alias("b")
            )
            .select(
                F.lit(r).alias("round"),
                (-F.col("b.nd")).alias("doc_id"),
                F.col("b.gain").alias("gain"),
            )
        )
        selected.append(best)
        sel_union = selected[0].select("doc_id")
        for s in selected[1:]:
            sel_union = sel_union.unionByName(s.select("doc_id"))
        covered = pin(
            ds.join(F.broadcast(sel_union), "doc_id", "left_semi")
            .select("sh")
            .distinct()
        )
    out = selected[0]
    for s in selected[1:]:
        out = out.unionByName(s)
    w = Window.orderBy("round")
    return (
        out.crossJoin(F.broadcast(uni))
        .withColumn(
            "cum_coverage", F.sum("gain").over(w).cast("bigint")
        )
        .select(
            "round",
            "doc_id",
            "gain",
            "cum_coverage",
            F.col("u").alias("universe"),
            F.expr("cum_coverage * 1000000 DIV u")
            .cast("bigint")
            .alias("coverage_micro"),
        )
        .orderBy("round")
    )


def _span_sql_nib(expr: str) -> str:
    """DuckDB spelling of the md5-nibble hash used for span starts
    (sketches._sql_nib_hash with mod 20)."""
    hexd = "0123456789abcdef"
    return (
        f"CAST(((strpos('{hexd}', substr(md5({expr}), 1, 1)) - 1) * 4096"
        f" + (strpos('{hexd}', substr(md5({expr}), 2, 1)) - 1) * 256"
        f" + (strpos('{hexd}', substr(md5({expr}), 3, 1)) - 1) * 16"
        f" + (strpos('{hexd}', substr(md5({expr}), 4, 1)) - 1)) % 20"
        f" AS INT)"
    )


@register(
    "ext_span_corruption_prep",
    survey_id="EXT-SPAN-CORRUPT",
    category="llm-training-prep",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
marked AS (
  SELECT doc_id, lang, len(t) AS n,
         list_transform(generate_series(1, len(t)), p ->
           {_span_sql_nib("CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)")} = 0
         ) AS starts
  FROM tk WHERE len(t) >= 1
),
msk AS (
  SELECT doc_id, lang, n,
         list_transform(generate_series(1, n), p ->
           COALESCE(starts[p], false)
           OR (p >= 2 AND COALESCE(starts[p-1], false))
           OR (p >= 3 AND COALESCE(starts[p-2], false))) AS m
  FROM marked
),
per_doc AS (
  SELECT doc_id, lang, n,
         CAST(COALESCE(list_sum(list_transform(m,
              x -> CASE WHEN x THEN 1 ELSE 0 END)), 0) AS BIGINT)
           AS masked,
         CAST(COALESCE(list_sum(list_transform(generate_series(1, n), p ->
              CASE WHEN m[p] AND (p = 1 OR NOT m[p-1])
                   THEN 1 ELSE 0 END)), 0) AS BIGINT) AS islands
  FROM msk
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(masked) AS BIGINT) AS masked_tokens,
       CAST(SUM(islands) AS BIGINT) AS sentinels,
       CAST(SUM(masked) * 1000000 // SUM(n) AS BIGINT) AS mask_ratio_micro,
       CAST((SUM(n) - SUM(masked) + SUM(islands)) * 1000000 // SUM(n)
            AS BIGINT) AS input_len_ratio_micro
FROM per_doc GROUP BY lang ORDER BY lang
""",
)
def ext_span_corruption_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style SPAN CORRUPTION preparation (Raffel et al. 2020's
    denoising objective — the data-side transform every span-masking
    pretraining pipeline runs): mask ~15% of tokens in spans of mean
    length 3, replace each maximal masked span with one sentinel, emit
    the corpus accounting (mask ratio, sentinel count, encoder-input
    length ratio) per language.

    Deterministic and engine-exact: a span STARTS at position p iff
    the md5-nibble hash of doc_id:p lands on 0 mod 20 (5% of
    positions x span 3 ~ 15% masked); a position is masked iff any of
    the 3 trailing windows starts there (the overlap-merge is the
    row-local disjunction — no sequential state, unlike a literal
    sampler); sentinels = maximal masked islands, counted by the
    masked-and-not-previous edge test. All counts are BIGINTs; ratios
    are exact micro floor-divisions.

    Scale shape: entirely row-local per document (one map over the
    corpus, repartitioned off the single-file scan) followed by one
    5-group combinable aggregate — the dataflow a 100 TB corruption
    pass would run, minus only the actual sentinel-token rewrite."""
    from nibbler_spark.queries.sketches import _nib_hash

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = (
        d.select("doc_id", "lang", "text")
        .transform(spread)
        .select("doc_id", "lang", toks.alias("t"))
        .where(F.size("t") >= 1)
    )
    marked = base.select(
        "doc_id",
        "lang",
        F.size("t").alias("n"),
        F.transform(
            seq1(F.size("t")),
            lambda p: _nib_hash(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    p.cast("string"),
                ),
                20,
            )
            == 0,
        ).alias("starts"),
    )
    msk = marked.select(
        "doc_id",
        "lang",
        "n",
        F.transform(
            F.sequence(F.lit(1), F.col("n")),
            # index 0 is invalid even for try_element_at — guard the
            # lookbacks with the position test instead
            lambda p: F.element_at(F.col("starts"), p)
            | (
                (p > 1)
                & F.coalesce(
                    F.try_element_at(
                        F.col("starts"), F.greatest(p - 1, F.lit(1))
                    ),
                    F.lit(False),
                )
            )
            | (
                (p > 2)
                & F.coalesce(
                    F.try_element_at(
                        F.col("starts"), F.greatest(p - 2, F.lit(1))
                    ),
                    F.lit(False),
                )
            ),
        ).alias("m"),
    )
    per_doc = msk.select(
        "lang",
        "n",
        F.aggregate(
            F.transform(
                F.col("m"), lambda x: F.when(x, 1).otherwise(0)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("masked"),
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda p: F.when(
                    F.element_at(F.col("m"), p)
                    & ~(
                        (p > 1)
                        & F.coalesce(
                            F.try_element_at(
                                F.col("m"), F.greatest(p - 1, F.lit(1))
                            ),
                            F.lit(False),
                        )
                    ),
                    1,
                ).otherwise(0),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("islands"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum("masked").cast("bigint").alias("masked_tokens"),
            F.sum("islands").cast("bigint").alias("sentinels"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "masked_tokens",
            "sentinels",
            F.expr("masked_tokens * 1000000 DIV total_tokens")
            .cast("bigint")
            .alias("mask_ratio_micro"),
            F.expr(
                "(total_tokens - masked_tokens + sentinels) * 1000000"
                " DIV total_tokens"
            )
            .cast("bigint")
            .alias("input_len_ratio_micro"),
        )
        .orderBy("lang")
    )


@register(
    "ext_length_bucketed_batching",
    survey_id="EXT-LENGTH-BUCKET-BATCH",
    category="llm-training-prep",
    oracle="""
WITH docs AS (
  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_t
  FROM documents
),
bucketed AS (
  SELECT lang, n_t,
         CAST((ROW_NUMBER() OVER (
            PARTITION BY lang, n_t // 64
            ORDER BY n_t DESC, doc_id) - 1) // 8 AS BIGINT) AS batch_id,
         n_t // 64 AS bucket
  FROM docs
),
bw AS (
  SELECT lang, CAST(SUM(mx * cnt - s) AS BIGINT) AS waste FROM (
    SELECT lang, bucket, batch_id, MAX(n_t) AS mx, COUNT(*) AS cnt,
           SUM(n_t) AS s
    FROM bucketed GROUP BY lang, bucket, batch_id
  ) GROUP BY lang
),
naive AS (
  SELECT lang, n_t,
         CAST((ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY doc_id) - 1) // 8 AS BIGINT)
           AS batch_id
  FROM docs
),
nw AS (
  SELECT lang, CAST(SUM(mx * cnt - s) AS BIGINT) AS waste FROM (
    SELECT lang, batch_id, MAX(n_t) AS mx, COUNT(*) AS cnt, SUM(n_t) AS s
    FROM naive GROUP BY lang, batch_id
  ) GROUP BY lang
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       bw.waste AS waste_bucketed,
       nw.waste AS waste_naive,
       CAST(bw.waste * 1000000 // GREATEST(nw.waste, 1) AS BIGINT)
         AS waste_ratio_micro
FROM docs d JOIN bw ON d.lang = bw.lang JOIN nw ON d.lang = nw.lang
GROUP BY d.lang, bw.waste, nw.waste
ORDER BY d.lang
""",
)
def ext_length_bucketed_batching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LENGTH-BUCKETED batch assembly — the dynamic-batching prep step
    every padded-training pipeline runs (bucket sequences of similar
    length, batch within buckets, pad to the batch max): compares the
    exact PADDING WASTE (sum over batches of max_len*batch_size -
    sum_len) of 64-token-bucketed batching vs naive arrival-order
    batching, per language, batch size 8.

    All quantities are exact BIGINTs (the waste identity needs only
    max/count/sum per batch); the ratio is a non-negative micro
    floor-division (bucketed/naive — both sides non-negative, so no
    signed-DIV hazard). Ties in batch assignment break on doc_id.

    Scale shape: both assignments are windows PARTITIONED by
    (lang, bucket) / (lang) — keyed partitions, no global sort; the
    waste reduction is a two-level combinable aggregate. At 100 TB
    batch assembly shards by (lang, bucket) exactly like this."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_t"),
    )
    wb = Window.partitionBy("lang", F.expr("n_t DIV 64")).orderBy(
        F.col("n_t").desc(), "doc_id"
    )
    bucketed = docs.select(
        "lang",
        "n_t",
        F.expr("n_t DIV 64").alias("bucket"),
        ((F.row_number().over(wb) - 1) / 8)
        .cast("bigint")
        .alias("batch_id"),
    )
    bw = (
        bucketed.groupBy("lang", "bucket", "batch_id")
        .agg(
            F.max("n_t").alias("mx"),
            F.count("*").alias("cnt"),
            F.sum("n_t").alias("s"),
        )
        .groupBy("lang")
        .agg(
            F.sum(F.col("mx") * F.col("cnt") - F.col("s"))
            .cast("bigint")
            .alias("waste_bucketed")
        )
    )
    wn = Window.partitionBy("lang").orderBy("doc_id")
    naive = docs.select(
        "lang",
        "n_t",
        ((F.row_number().over(wn) - 1) / 8)
        .cast("bigint")
        .alias("batch_id"),
    )
    nw = (
        naive.groupBy("lang", "batch_id")
        .agg(
            F.max("n_t").alias("mx"),
            F.count("*").alias("cnt"),
            F.sum("n_t").alias("s"),
        )
        .groupBy("lang")
        .agg(
            F.sum(F.col("mx") * F.col("cnt") - F.col("s"))
            .cast("bigint")
            .alias("waste_naive")
        )
    )
    counts = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        counts.join(bw, "lang")
        .join(nw, "lang")
        .select(
            "lang",
            "n_docs",
            "waste_bucketed",
            "waste_naive",
            F.expr(
                "waste_bucketed * 1000000"
                " DIV GREATEST(waste_naive, 1)"
            )
            .cast("bigint")
            .alias("waste_ratio_micro"),
        )
        .orderBy("lang")
    )


def _wp_sql_step(inv: str) -> str:
    """One greedy longest-match step of the WordPiece fold (DuckDB):
    acc packs cursor*1e6 + pieces*1e3 + unk; ``inv`` is the piece
    LIST column to probe (initial or continuation inventory)."""
    cur = "(acc // 1000000)"
    return f"""CASE
      WHEN len(word) >= {cur} + 2
           AND list_contains({inv}, substr(word, CAST({cur} AS INT), 3))
        THEN acc + 3 * 1000000 + 1000
      WHEN len(word) >= {cur} + 1
           AND list_contains({inv}, substr(word, CAST({cur} AS INT), 2))
        THEN acc + 2 * 1000000 + 1000
      WHEN list_contains({inv}, substr(word, CAST({cur} AS INT), 1))
        THEN acc + 1000000 + 1000
      ELSE acc + 1000000 + 1000 + 1 END"""


@register(
    "ext_wordpiece_apply",
    survey_id="EXT-WORDPIECE",
    category="llm-training-prep",
    oracle=f"""
WITH wt AS (
  SELECT lang, token AS word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY lang, token
),
gw AS (SELECT word, CAST(SUM(c) AS BIGINT) AS gc FROM wt GROUP BY word),
vocab AS (
  SELECT word FROM (
    SELECT word, ROW_NUMBER() OVER (ORDER BY gc DESC, word) AS rk
    FROM gw
  ) WHERE rk <= 12
),
vl AS (SELECT LIST(word) AS vs FROM vocab),
ip AS (
  SELECT LIST(DISTINCT p) AS ips FROM (
    SELECT substr(word, 1, k) AS p
    FROM vocab, generate_series(1, 3) AS g(k) WHERE k <= len(word))
),
cp AS (
  SELECT LIST(DISTINCT p) AS cps FROM (
    SELECT substr(word, CAST(j AS INT), CAST(k AS INT)) AS p
    FROM vocab, generate_series(2, 24) AS gj(j),
         generate_series(1, 3) AS gk(k)
    WHERE j + k - 1 <= len(word))
),
seg AS (
  SELECT lang, word, c,
    list_reduce(
      list_prepend(CAST(1000000 AS BIGINT),
                   list_transform(generate_series(1, 24),
                                  x -> CAST(x AS BIGINT))),
      (acc, x) -> CASE
        WHEN acc // 1000000 > len(word) THEN acc
        WHEN acc // 1000000 = 1 AND list_contains(vl.vs, word)
          THEN acc + len(word) * 1000000 + 1000
        WHEN acc // 1000000 = 1 THEN {_wp_sql_step("ip.ips")}
        ELSE {_wp_sql_step("cp.cps")} END) AS acc
  FROM wt, vl, ip, cp
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_word_types,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(((acc % 1000000) // 1000) * c) AS BIGINT) AS total_pieces,
       CAST(SUM((acc % 1000) * c) AS BIGINT) AS total_unk,
       CAST(SUM(((acc % 1000000) // 1000) * c) * 1000000 // SUM(c)
            AS BIGINT) AS fertility_micro,
       CAST(SUM((acc % 1000) * c) * 1000000 // SUM(c) AS BIGINT)
         AS unk_rate_micro
FROM seg GROUP BY lang ORDER BY lang
""",
)
def ext_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORDPIECE inference (Wu et al. 2016's greedy longest-match-first
    segmentation — the tokenizer BERT ships; completes the repo's
    tokenizer family beside the BPE merge loop and the Unigram-LM EM
    round): the top-12-by-count vocabulary (RANK-based — on this
    31-word fixture the other 19 word types MUST segment through
    pieces; the SymSpell non-degeneracy lesson: a frequency threshold
    admitted every word and made fertility identically 1) plus its
    length-<=3 initial and continuation piece inventories; every word segments by
    whole-word match first, then greedy longest piece at the cursor
    (3, then 2, then 1 chars; initial inventory at cursor 1,
    continuation after), unmatched characters emit UNK. Output per
    language: token-weighted FERTILITY (pieces per token, the
    tokenizer-quality number multilingual pipelines monitor) and UNK
    rate, as exact micro floor-divisions.

    Engine-exactness: the greedy cursor walk is a bounded FOLD over 24
    steps with the state packed into one BIGINT (cursor*1e6 +
    pieces*1e3 + unk) — Spark F.aggregate and DuckDB list_reduce
    (prepend-the-init pattern; accumulator and element types must
    match) walk the identical integer lattice, so both engines produce
    the same accumulator for every word.

    Scale shape: segmentation runs once per DISTINCT (lang, word) —
    vocabulary-scale, not corpus-scale; the corpus-scale work is one
    combinable (lang, token) count; piece inventories are bounded by
    the corpus-relative vocab threshold and broadcast as single
    collected rows."""
    d = load_table(spark, sf_dir, "documents")
    wt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    gw = wt.groupBy("word").agg(F.sum("c").cast("bigint").alias("gc"))
    vocab = (
        gw.orderBy(F.col("gc").desc(), "word").limit(12).select("word")
    )
    vl = F.broadcast(vocab.agg(F.collect_set("word").alias("vs")))
    ip = F.broadcast(
        vocab.select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(3), F.length("word"))
                    ),
                    lambda k: F.col("word").substr(F.lit(1), k),
                )
            ).alias("p")
        ).agg(F.collect_set("p").alias("ips"))
    )
    cp = F.broadcast(
        vocab.select(
            F.explode(
                F.flatten(
                    F.transform(
                        # cap start positions at 24 to mirror the
                        # oracle's generate_series(2, 24) exactly —
                        # a >24-char vocab word must not grow
                        # continuation pieces only on the Spark side
                        F.sequence(
                            F.lit(2),
                            F.least(F.length("word"), F.lit(24)),
                        ),
                        lambda j: F.filter(
                            F.transform(
                                F.sequence(F.lit(1), F.lit(3)),
                                lambda k: F.when(
                                    j + k - 1 <= F.length("word"),
                                    F.col("word").substr(j, k),
                                ),
                            ),
                            lambda s: s.isNotNull(),
                        ),
                    )
                )
            ).alias("p")
        )
        .where(F.length("word") >= 2)
        .agg(F.collect_set("p").alias("cps"))
    )

    def step(acc, inv):
        cur = (acc / F.lit(1000000)).cast("bigint")
        L = F.length("word")
        probe = lambda k: F.col("word").substr(  # noqa: E731
            cur.cast("int"), F.lit(k)
        )
        return (
            F.when(
                (L >= cur + 2)
                & F.array_contains(F.col(inv), probe(3)),
                acc + F.lit(3 * 1000000 + 1000).cast("bigint"),
            )
            .when(
                (L >= cur + 1)
                & F.array_contains(F.col(inv), probe(2)),
                acc + F.lit(2 * 1000000 + 1000).cast("bigint"),
            )
            .when(
                F.array_contains(F.col(inv), probe(1)),
                acc + F.lit(1000000 + 1000).cast("bigint"),
            )
            .otherwise(acc + F.lit(1000000 + 1000 + 1).cast("bigint"))
        )

    seg = (
        wt.crossJoin(vl)
        .crossJoin(ip)
        .crossJoin(cp)
        .select(
            "lang",
            "word",
            "c",
            F.aggregate(
                F.sequence(F.lit(1), F.lit(24)),
                F.lit(1000000).cast("bigint"),
                lambda acc, _x: F.when(
                    (acc / F.lit(1000000)).cast("bigint")
                    > F.length("word"),
                    acc,
                )
                .when(
                    ((acc / F.lit(1000000)).cast("bigint") == 1)
                    & F.array_contains(F.col("vs"), F.col("word")),
                    acc
                    + F.length("word").cast("bigint") * F.lit(1000000)
                    + F.lit(1000),
                )
                .when(
                    (acc / F.lit(1000000)).cast("bigint") == 1,
                    step(acc, "ips"),
                )
                .otherwise(step(acc, "cps")),
            ).alias("acc"),
        )
    )
    return (
        seg.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_word_types"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.expr("((acc % 1000000) DIV 1000) * c"))
            .cast("bigint")
            .alias("total_pieces"),
            F.sum(F.expr("(acc % 1000) * c"))
            .cast("bigint")
            .alias("total_unk"),
        )
        .select(
            "lang",
            "n_word_types",
            "n_tokens",
            "total_pieces",
            "total_unk",
            F.expr("total_pieces * 1000000 DIV n_tokens")
            .cast("bigint")
            .alias("fertility_micro"),
            F.expr("total_unk * 1000000 DIV n_tokens")
            .cast("bigint")
            .alias("unk_rate_micro"),
        )
        .orderBy("lang")
    )


@register(
    "ext_skipgram_negative_sampling",
    survey_id="EXT-SGNS",
    category="llm-training-prep",
    oracle="""
WITH tk AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
pairs AS (
  SELECT doc_id, lang, i, slot, t[i] AS center, t[i + slot] AS ctx
  FROM (
    SELECT doc_id, lang, t, sl AS slot,
           UNNEST(generate_series(1, len(t) - sl)) AS i
    FROM tk, generate_series(1, 2) AS g(sl)
    WHERE len(t) > sl
  )
),
vc AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
iv AS (
  SELECT token, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY token
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS s
  FROM vc
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vc),
negs AS (
  SELECT p.lang, p.center, p.ctx,
         CAST(CAST(('0x' || substr(md5(
             CAST(p.doc_id AS VARCHAR) || ':' || CAST(p.i AS VARCHAR)
             || ':' || CAST(p.slot AS VARCHAR) || ':'
             || CAST(j AS VARCHAR)), 1, 12)) AS BIGINT) % tot.t
           AS BIGINT) AS u
  FROM pairs p CROSS JOIN tot, generate_series(1, 2) AS gj(j)
),
drawn AS (
  SELECT n.lang, n.ctx, iv.token AS neg
  FROM negs n JOIN iv ON n.u >= iv.s AND n.u < iv.s + iv.c
)
SELECT d.lang,
       CAST((SELECT COUNT(*) FROM pairs p WHERE p.lang = d.lang)
            AS BIGINT) AS n_pairs,
       CAST(COUNT(*) AS BIGINT) AS n_negatives,
       CAST(COUNT(DISTINCT d.neg) AS BIGINT) AS distinct_neg_types,
       CAST(SUM(CASE WHEN d.neg = d.ctx THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negatives,
       CAST(SUM(CASE WHEN d.neg = d.ctx THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS fn_rate_micro
FROM drawn d GROUP BY d.lang ORDER BY d.lang
""",
)
def ext_skipgram_negative_sampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skip-gram NEGATIVE SAMPLING data prep (word2vec SGNS, Mikolov
    et al. 2013): (center, context) positives over a forward window of
    2, plus k=2 negatives per positive drawn from the exact unigram
    distribution by INVERSE CDF — u = md5-48bit(doc:pos:slot:j) mod T
    lands in the token whose cumulative-count interval [s, s+c)
    contains it (the md5 inverse-CDF trick, zipf-skew-join precedent;
    word2vec's ^0.75 flattening is a gridded-ln variant the exact
    integer CDF deliberately avoids). Output per language: pair and
    negative volumes, distinct negative types, and the FALSE-NEGATIVE
    rate (a drawn negative equal to the true context — the collision
    SGNS tolerates by design, now a measured number).

    Exactness: the CDF is an exact integer prefix sum over
    token-ordered counts; u is an exact 48-bit residue; interval
    membership is integer comparison — every drawn negative is
    identical across engines.

    Scale shape: pair formation is row-local; the interval lookup is
    the BUCKETED interval equi-join (c14 precedent): intervals explode
    to the width-(T DIV 256) buckets they overlap (vocab + 256 rows
    total), probes join on u DIV B then range-filter — never a
    nested-loop range scan; the vocab CDF builds with bucketed prefix
    sums (offsets broadcast), never a single-partition window over the
    vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split("text", " ")

    def mk(slot):
        return F.when(
            F.size(tk) > slot,
            F.transform(
                seq1(F.size(tk) - slot),
                lambda i: F.struct(
                    i.alias("i"),
                    F.lit(slot).alias("slot"),
                    F.element_at(tk, i).alias("center"),
                    F.element_at(tk, i + slot).alias("ctx"),
                ),
            ),
        ).otherwise(F.expr(
            "CAST(array() AS ARRAY<STRUCT<i INT, slot INT,"
            " center STRING, ctx STRING>>)"
        ))

    pairs = (
        d.select("doc_id", "lang", "text")
        .transform(spread)
        .select(
            "doc_id",
            "lang",
            F.explode(F.concat(mk(1), mk(2))).alias("p"),
        )
        .select("doc_id", "lang", "p.i", "p.slot", "p.center", "p.ctx")
    )
    vc = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # bucketed exact prefix sum over token order (vocab-scale)
    vb = vc.withColumn("bk", F.ascii(F.substring("token", 1, 1)))
    offs = (
        vb.groupBy("bk")
        .agg(F.sum("c").alias("bc"))
        .select(
            "bk",
            F.coalesce(
                F.sum("bc").over(
                    Window.orderBy("bk").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    w_in = (
        Window.partitionBy("bk")
        .orderBy("token")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    iv = (
        vb.join(F.broadcast(offs), "bk")
        .select(
            "token",
            "c",
            (
                F.col("off") + F.coalesce(F.sum("c").over(w_in), F.lit(0))
            )
            .cast("bigint")
            .alias("s"),
        )
    )
    tot = vc.agg(F.sum("c").cast("bigint").alias("t"))
    negs = (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "ctx",
            "t",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
            F.concat_ws(
                ":", F.col("doc_id"), F.col("i"), F.col("slot")
            ).alias("h0"),
        )
        .select(
            "lang",
            "ctx",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("h0"), F.col("j"))),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("t")
            ).alias("u"),
            F.expr("GREATEST(1, t DIV 256)").alias("bw"),
        )
    )
    # intervals explode to overlapped width-bw buckets; probes join on
    # bucket then range-filter — the c14 bucketed interval equi-join
    ivb = (
        iv.crossJoin(F.broadcast(tot))
        .withColumn("bw", F.expr("GREATEST(1, t DIV 256)"))
        .select(
            "token",
            "s",
            "c",
            F.explode(
                F.sequence(
                    F.expr("s DIV bw"), F.expr("(s + c - 1) DIV bw")
                )
            ).alias("ub"),
        )
    )
    drawn = (
        negs.withColumn("ub", F.expr("u DIV bw"))
        .join(F.broadcast(ivb), "ub")
        .where((F.col("u") >= F.col("s")) & (F.col("u") < F.col("s") + F.col("c")))
        .select("lang", "ctx", F.col("token").alias("neg"))
    )
    np = pairs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    return (
        drawn.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_negatives"),
            F.countDistinct("neg").cast("bigint").alias(
                "distinct_neg_types"
            ),
            F.sum(F.when(F.col("neg") == F.col("ctx"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_false_negatives"),
        )
        .join(np, "lang")
        .select(
            "lang",
            "n_pairs",
            "n_negatives",
            "distinct_neg_types",
            "n_false_negatives",
            F.expr("n_false_negatives * 1000000 DIV n_negatives")
            .cast("bigint")
            .alias("fn_rate_micro"),
        )
        .orderBy("lang")
    )


def _iqp_oracle() -> str:
    """3-round unrolled iterative-pruning oracle (the BPE/submodular
    CTE-unroll pattern): each round rebuilds the unigram LM over the
    REMAINING docs, scores per-doc surprisal, keeps the most-typical
    ceil(n/2)."""
    stages = [
        """tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
)""",
        "r0 AS (SELECT DISTINCT doc_id FROM tok)",
    ]
    prev = "r0"
    rows = []
    for i in range(1, 4):
        stages.append(f"""lm{i} AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS t
  FROM tok JOIN {prev} USING (doc_id) GROUP BY w
)""")
        stages.append(f"""nll{i} AS (
  SELECT tok.doc_id,
         CAST(SUM(-FLOOR(ln(CAST(lm{i}.c AS DOUBLE)
                            / CAST(lm{i}.t AS DOUBLE)) * 1000000e0))
              AS BIGINT) AS nll
  FROM tok JOIN {prev} USING (doc_id) JOIN lm{i} USING (w)
  GROUP BY tok.doc_id
)""")
        stages.append(f"""k{i} AS (
  SELECT doc_id, nll,
         ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS rk,
         COUNT(*) OVER () AS n
  FROM nll{i}
)""")
        stages.append(
            f"r{i} AS (SELECT doc_id FROM k{i} WHERE rk <= (n + 1) // 2)"
        )
        rows.append(
            f"SELECT CAST({i} AS BIGINT) AS round,"
            f" CAST((SELECT MAX(n) FROM k{i}) AS BIGINT) AS n_in,"
            f" CAST((SELECT COUNT(*) FROM r{i}) AS BIGINT) AS n_kept,"
            f" CAST((SELECT MAX(nll) FROM k{i} WHERE rk <= (n + 1) // 2)"
            f" AS BIGINT) AS cut_nll,"
            f" CAST((SELECT SUM(c) FROM lm{i}) AS BIGINT)"
            f" AS tokens_in"
        )
        prev = f"r{i}"
    body = " UNION ALL ".join(rows)
    return (
        "WITH "
        + ",\n".join(stages)
        + f"\nSELECT round, n_in, n_kept, cut_nll, tokens_in"
        f" FROM ({body}) ORDER BY round"
    )


@register(
    "ext_iterative_quality_pruning",
    survey_id="EXT-ITER-PRUNE",
    category="llm-training-prep",
    oracle=_iqp_oracle(),
)
def ext_iterative_quality_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ITERATIVE self-referential quality pruning — the data-selection
    loop where the quality model is the remaining corpus itself
    (perplexity-filter bootstrapping / density-based pruning): each of
    3 rounds rebuilds the unigram LM over the REMAINING documents,
    scores every remaining document's total surprisal under that LM,
    and keeps the most-typical ceil(n/2). Unlike a one-shot perplexity
    filter, the reference distribution SHIFTS as atypical documents
    leave — the trajectory (who sets the cut, how the cut value moves)
    is the operator's output, and a mid-trajectory tie would cascade,
    which is exactly what the exact arithmetic forbids: surprisal
    sums are BIGINTs over the gridded-ln recipe (identical int64 ->
    double casts, one correctly-rounded divide, floor to the 1e-6
    grid), and the median cut ranks with doc_id tie-breaks.

    Scale shape: the token table checkpoints ONCE; each round is one
    keyed semi-join against the (shrinking) kept-doc list, one
    combinable vocab count, one vocab-scale keyed join back, one
    combinable per-doc sum, and a bucketed two-phase median rank
    (bucket = nll DIV 2^20 — never a single-partition sort of the
    corpus). Kept-doc lists are checkpointed per round (the BPE
    iterative-driver pattern)."""
    from nibbler_spark.queries._helpers import two_phase_rank

    d = load_table(spark, sf_dir, "documents")
    tok = pin(
        d.select("doc_id", "text")
        .transform(spread)
        .select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
    )
    remaining = pin(tok.select("doc_id").distinct())
    out_rows = []
    for i in range(1, 4):
        tok_r = tok.join(remaining, "doc_id", "left_semi")
        counts = tok_r.groupBy("w").agg(
            F.count("*").cast("bigint").alias("c")
        )
        tot = counts.agg(F.sum("c").cast("bigint").alias("t"))
        lm = counts.crossJoin(F.broadcast(tot)).select(
            "w",
            F.floor(
                F.log(
                    F.col("c").cast("double") / F.col("t").cast("double")
                )
                * 1e6
            )
            .cast("bigint")
            .alias("g"),
            "t",
        )
        nll = (
            tok_r.join(lm, "w")
            .groupBy("doc_id")
            .agg((-F.sum("g")).cast("bigint").alias("nll"))
        )
        cnt = nll.agg(F.count("*").cast("bigint").alias("n"))
        ranked = two_phase_rank(
            nll.crossJoin(F.broadcast(cnt)),
            F.expr("nll DIV 1048576"),
            [F.col("nll"), F.col("doc_id")],
            "rk",
        )
        kept = pin(ranked.where(
            F.col("rk") <= F.expr("(n + 1) DIV 2")
        ))
        row = (
            kept.agg(
                F.max("n").alias("n_in"),
                F.count("*").cast("bigint").alias("n_kept"),
                F.max("nll").cast("bigint").alias("cut_nll"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(i).cast("bigint").alias("round"),
                F.col("n_in").cast("bigint").alias("n_in"),
                "n_kept",
                "cut_nll",
                F.col("t").alias("tokens_in"),
            )
        )
        # r11 perf (guide §5): materialize the 1-row summary NOW — it
        # references the un-materialized `tot` aggregate, so the final
        # 3-row union used to re-run one corpus-scale token aggregation
        # per round when the trajectory was finally evaluated.
        out_rows.append(pin(row))
        remaining = pin(kept.select("doc_id"))
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


@register(
    "ext_mixture_apportionment",
    survey_id="EXT-APPORTION",
    category="llm-training-prep",
    oracle="""
WITH dom AS (
  SELECT lang, source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
),
w AS (
  SELECT lang, source, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000e0) AS BIGINT)
           AS w_scaled
  FROM dom
),
tot AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS tw FROM w),
q AS (
  SELECT w.lang, w.source, w.n_tokens, w.w_scaled,
         CAST(100000 * w.w_scaled // tot.tw AS BIGINT) AS base_alloc,
         CAST((100000 * w.w_scaled) % tot.tw AS BIGINT) AS rem
  FROM w CROSS JOIN tot
),
lo AS (SELECT CAST(100000 - SUM(base_alloc) AS BIGINT) AS leftover FROM q),
rk AS (
  SELECT q.*, lo.leftover,
         ROW_NUMBER() OVER (ORDER BY q.rem DESC, q.lang, q.source) AS pr
  FROM q CROSS JOIN lo
)
SELECT lang, source, n_tokens, w_scaled, base_alloc,
       CAST(CASE WHEN pr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS boost,
       CAST(base_alloc + CASE WHEN pr <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM rk ORDER BY lang, source
""",
)
def ext_mixture_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMILTON (largest-remainder) APPORTIONMENT of an integer sampling
    budget over temperature-scaled domain weights — the step
    ext_domain_mixture stops short of: mixture weights are REAL numbers,
    but a training run draws an INTEGER number of sequences per domain,
    and naive per-domain rounding can leave the batch short or over.
    Hamilton's method (the classic quota apportionment): give every
    stratum floor(B * w_h / W), then hand the leftover units to the
    largest fractional remainders — the unique allocation that sums to
    exactly B while staying within one unit of every quota.

    Weights are sqrt-temperature (tau = 1/2) token shares: one IEEE
    sqrt of the exact per-domain BIGINT token count (correctly rounded,
    identical across engines — the ext_neyman_allocation recipe),
    floored to a 1e-3 grid. Quotas, remainders, and the leftover count
    are exact BIGINT floor-division arithmetic, and the remainder
    ranking tie-breaks on (lang, source), so the full integer
    allocation is engine-exact.

    Scale shape: one map-side-combinable grouped aggregate over the
    corpus, then O(strata) rows; the weight total is a 1-row broadcast
    and the remainder ranking is a window over the STRATA table (tens
    of rows at any corpus size), never the corpus."""
    B = 100_000
    d = load_table(spark, sf_dir, "documents")
    dom = d.groupBy("lang", "source").agg(
        F.sum(F.size(F.split("text", " ")))
        .cast("bigint")
        .alias("n_tokens")
    )
    w = dom.select(
        "lang",
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e3))
        .cast("bigint")
        .alias("w_scaled"),
    )
    tot = w.agg(F.sum("w_scaled").cast("bigint").alias("tw"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_tokens",
        "w_scaled",
        F.expr(f"{B} * w_scaled DIV tw").cast("bigint").alias("base_alloc"),
        ((F.lit(B) * F.col("w_scaled")) % F.col("tw"))
        .cast("bigint")
        .alias("rem"),
    )
    lo = q.agg(
        (F.lit(B) - F.sum("base_alloc")).cast("bigint").alias("leftover")
    )
    pr = F.row_number().over(
        Window.orderBy(F.col("rem").desc(), "lang", "source")
    )
    return (
        q.crossJoin(F.broadcast(lo))
        .withColumn("pr", pr)
        .select(
            "lang",
            "source",
            "n_tokens",
            "w_scaled",
            "base_alloc",
            F.when(F.col("pr") <= F.col("leftover"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("boost"),
            (
                F.col("base_alloc")
                + F.when(F.col("pr") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("lang", "source")
    )


@register(
    "ext_fim_transform",
    survey_id="EXT-FIM",
    category="llm-training-prep",
    oracle="""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
coin AS (
  SELECT t.*,
         (CAST(('0x' || substr(md5('fim:' || doc_id), 1, 8)) AS BIGINT)
            % 2 = 0 AND n >= 4) AS fim,
         CAST(('0x' || substr(md5('mode:' || doc_id), 1, 8)) AS BIGINT)
            % 2 AS mcoin,
         1 + CAST(('0x' || substr(md5('cut1:' || doc_id), 1, 8)) AS BIGINT)
            % GREATEST(n - 1, 1) AS a,
         1 + CAST(('0x' || substr(md5('cut2:' || doc_id), 1, 8)) AS BIGINT)
            % GREATEST(n - 1, 1) AS b
  FROM t
),
cut AS (
  SELECT doc_id, text, toks, n, fim,
         CASE WHEN NOT fim THEN 'none'
              WHEN mcoin = 0 THEN 'psm' ELSE 'spm' END AS mode,
         LEAST(a, b) AS c1, GREATEST(a, b) AS c2
  FROM coin
),
parts AS (
  SELECT doc_id, fim, mode, n, c1, c2,
         COALESCE(array_to_string(list_slice(toks, 1, c1), ' '), '') AS p,
         COALESCE(array_to_string(list_slice(toks, c1 + 1, c2), ' '), '')
           AS m,
         COALESCE(array_to_string(list_slice(toks, c2 + 1, n), ' '), '')
           AS s,
         text
  FROM cut
)
SELECT doc_id, fim, mode,
       CAST(CASE WHEN fim THEN c1 ELSE n END AS BIGINT) AS p_len,
       CAST(CASE WHEN fim THEN c2 - c1 ELSE 0 END AS BIGINT) AS m_len,
       CAST(CASE WHEN fim THEN n - c2 ELSE 0 END AS BIGINT) AS s_len,
       md5(CASE
             WHEN NOT fim THEN text
             WHEN mode = 'psm'
               THEN concat_ws(' ', '<PRE>', p, '<SUF>', s, '<MID>', m)
             ELSE concat_ws(' ', '<SUF>', s, '<PRE>', p, '<MID>', m)
           END) AS sig
FROM parts ORDER BY doc_id
""",
)
def ext_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022 — the
    augmentation behind every code model's infilling ability): with
    probability 1/2 a document is split at two random token cut points
    into (prefix, middle, suffix) and re-serialized with the middle
    moved to the END — PSM (<PRE> p <SUF> s <MID> m) or SPM
    (<SUF> s <PRE> p <MID> m) chosen by a second coin — so the model
    learns to generate the middle conditioned on both sides.

    Determinism: every coin and cut point is an md5 draw keyed by
    purpose + doc_id ('fim:'/'mode:'/'cut1:'/'cut2:'), reduced mod the
    valid range — no RNG state, identical on both engines, and the
    whole transformed string is fingerprinted (md5) so the oracle
    pins the exact byte-level serialization, not just the lengths.
    Documents under 4 tokens are never transformed (no room for a
    non-trivial split); cut collisions (a == b) legitimately yield an
    empty middle, teaching the <MID>-is-done case.

    Scale shape: embarrassingly row-local — one projection, no
    shuffle; the only exchange is the output ORDER BY."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)

    def h(tag: str) -> F.Column:
        return F.expr(
            f"CAST(conv(substr(md5(concat('{tag}:', doc_id)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )

    a = 1 + h("cut1") % F.greatest(n - 1, F.lit(1))
    b = 1 + h("cut2") % F.greatest(n - 1, F.lit(1))
    t = d.select(
        "doc_id",
        "text",
        toks.alias("toks"),
        n.alias("n"),
        ((h("fim") % 2 == 0) & (n >= 4)).alias("fim"),
        (h("mode") % 2).alias("mcoin"),
        F.least(a, b).alias("c1"),
        F.greatest(a, b).alias("c2"),
    )
    mode = (
        F.when(~F.col("fim"), "none")
        .when(F.col("mcoin") == 0, "psm")
        .otherwise("spm")
    )
    p = F.array_join(F.slice("toks", F.lit(1), F.col("c1")), " ")
    m = F.array_join(
        F.slice("toks", F.col("c1") + 1, F.col("c2") - F.col("c1")), " "
    )
    s = F.array_join(
        F.slice("toks", F.col("c2") + 1, F.col("n") - F.col("c2")), " "
    )
    psm = F.concat_ws(
        " ", F.lit("<PRE>"), p, F.lit("<SUF>"), s, F.lit("<MID>"), m
    )
    spm = F.concat_ws(
        " ", F.lit("<SUF>"), s, F.lit("<PRE>"), p, F.lit("<MID>"), m
    )
    return t.select(
        "doc_id",
        "fim",
        mode.alias("mode"),
        F.when(F.col("fim"), F.col("c1"))
        .otherwise(F.col("n"))
        .cast("bigint")
        .alias("p_len"),
        F.when(F.col("fim"), F.col("c2") - F.col("c1"))
        .otherwise(0)
        .cast("bigint")
        .alias("m_len"),
        F.when(F.col("fim"), F.col("n") - F.col("c2"))
        .otherwise(0)
        .cast("bigint")
        .alias("s_len"),
        F.md5(
            F.when(~F.col("fim"), F.col("text"))
            .when(F.col("mcoin") == 0, psm)
            .otherwise(spm)
        ).alias("sig"),
    ).orderBy("doc_id")


@register(
    "ext_token_budget_threshold",
    survey_id="EXT-TOKBUDGET",
    category="llm-training-prep",
    oracle="""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(n_chars * 1000 // len(string_split(text, ' ')) AS BIGINT)
           AS score
  FROM documents
),
tot AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget FROM t),
rk AS (
  SELECT t.*, tot.budget,
         ROW_NUMBER() OVER (ORDER BY t.score DESC, t.doc_id) AS rnk
  FROM t CROSS JOIN tot
),
cum AS (
  SELECT rk.*,
         SUM(n_tokens) OVER (ORDER BY rnk) AS cum_tokens
  FROM rk
),
kept AS (SELECT * FROM cum WHERE cum_tokens <= budget),
cut AS (
  SELECT MAX(rnk) AS cut_rank, MIN(score) AS cut_score,
         MAX(budget) AS budget_tokens
  FROM kept
)
SELECT kept.lang,
       CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(SUM(kept.n_tokens) AS BIGINT) AS kept_tokens,
       CAST(MAX(cut.cut_rank) AS BIGINT) AS cut_rank,
       CAST(MAX(cut.cut_score) AS BIGINT) AS cut_score,
       CAST(MAX(cut.budget_tokens) AS BIGINT) AS budget_tokens
FROM kept CROSS JOIN cut
GROUP BY kept.lang
ORDER BY lang
""",
)
def ext_token_budget_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET-CONSTRAINED quality filtering: keep the
    highest-quality documents whose combined size fits a TOKEN budget
    (half the corpus here) — the selection a pretraining run actually
    makes ("give me the best 1B tokens"), which doc-count thresholds
    get wrong because quality and length correlate. Quality is the
    exact integer chars-per-token score (x1000 floor-div); the
    threshold is found by ranking docs by (score DESC, doc_id) and
    running an exact cumulative token sum down the ranking until the
    budget is exhausted; the output is the per-language kept
    breakdown plus the global cut rank / cut score.

    Scale shape: NO unpartitioned corpus window — the global rank is
    the two-phase bucketed row_number (coarse bucket -(score DIV 64),
    broadcast offsets), and the cumulative token sum is a SECOND
    Blelloch two-pass over rank buckets ((rnk-1) DIV 4096), exactly
    the ext_sequence_packing prefix-sum recipe. Both phase-1 tables
    are bucket-count-sized; corpus rows only ever see partitioned
    windows. The oracle derives the same numbers with DuckDB's direct
    single-ordering windows — construction-independent."""
    from nibbler_spark.queries._helpers import two_phase_rank

    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    t = d.select(
        "doc_id",
        "lang",
        toks.cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(n_chars * 1000 DIV size(split(text, ' ')) AS BIGINT)"
        ).alias("score"),
    )
    tot = t.agg(
        F.expr("CAST(SUM(n_tokens) DIV 2 AS BIGINT)").alias("budget")
    )
    ranked = two_phase_rank(
        t,
        -(F.col("score") / 64).cast("bigint"),
        [F.col("score").desc(), F.col("doc_id")],
        "rnk",
    )
    # second two-phase pass: exact running token sum down the ranking
    sized = ranked.withColumn(
        "cbucket", ((F.col("rnk") - 1) / 4096).cast("bigint")
    )
    btot = sized.groupBy("cbucket").agg(F.sum("n_tokens").alias("btok"))
    w_b = Window.orderBy("cbucket")
    offsets = btot.select(
        "cbucket",
        (F.sum("btok").over(w_b) - F.col("btok")).alias("coff"),
    )
    w_in = Window.partitionBy("cbucket").orderBy("rnk")
    cum = (
        sized.join(F.broadcast(offsets), "cbucket")
        .withColumn(
            "cum_tokens", F.col("coff") + F.sum("n_tokens").over(w_in)
        )
        .crossJoin(F.broadcast(tot))
    )
    kept = cum.where(F.col("cum_tokens") <= F.col("budget"))
    cut = kept.agg(
        F.max("rnk").cast("bigint").alias("cut_rank"),
        F.min("score").cast("bigint").alias("cut_score"),
        F.max("budget").cast("bigint").alias("budget_tokens"),
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("kept_docs"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
        )
        .crossJoin(F.broadcast(cut))
        .select(
            "lang",
            "kept_docs",
            "kept_tokens",
            "cut_rank",
            "cut_score",
            "budget_tokens",
        )
        .orderBy("lang")
    )


@register(
    "ext_ul2_denoiser_mix",
    survey_id="EXT-UL2",
    category="llm-training-prep",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n,
         CAST(('0x' || substr(md5('ul2:' || doc_id), 1, 8)) AS BIGINT) % 3
           AS dcoin
  FROM documents
),
d AS (
  SELECT doc_id, toks, n,
         CASE dcoin WHEN 0 THEN 'R' WHEN 1 THEN 'X' ELSE 'S' END
           AS denoiser,
         CASE dcoin WHEN 0 THEN 3 WHEN 1 THEN 8 ELSE 0 END AS blk,
         CASE dcoin WHEN 0 THEN 15 WHEN 1 THEN 50 ELSE 0 END AS rate
  FROM t
),
m AS (
  SELECT doc_id, denoiser, n,
         CASE WHEN denoiser = 'S'
              THEN list_transform(generate_series(1, n),
                                  i -> CASE WHEN i > n // 2 THEN 1
                                            ELSE 0 END)
              ELSE list_transform(generate_series(1, n),
                i -> CASE WHEN
                  CAST(('0x' || substr(md5(
                    'blk:' || doc_id || ':' ||
                    CAST((i - 1) // blk AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 100 < rate THEN 1 ELSE 0 END)
         END AS mask,
         CASE WHEN denoiser = 'S' THEN 1 ELSE blk END AS blk1
  FROM d
),
acc AS (
  SELECT doc_id, denoiser, n,
         CAST(list_sum(mask) AS BIGINT) AS masked,
         CAST(len(list_filter(generate_series(1, n),
              i -> mask[i] = 1 AND (i = 1 OR mask[i - 1] = 0)))
           AS BIGINT) AS islands,
         md5(array_to_string(list_transform(mask,
             x -> CAST(x AS VARCHAR)), '')) AS mask_sig
  FROM m
)
SELECT doc_id, denoiser, CAST(n AS BIGINT) AS n_tokens, masked, islands,
       CAST(masked * 1000000 // GREATEST(n, 1) AS BIGINT)
         AS masked_ratio_micro,
       CAST(islands * 1000000 // GREATEST(n, 1) AS BIGINT)
         AS sentinel_density_micro,
       mask_sig
FROM acc ORDER BY doc_id
""",
)
def ext_ul2_denoiser_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UL2 MIXTURE-OF-DENOISERS preparation (Tay et al. 2022 — the
    R/X/S objective mix behind UL2/PaLM-2 pretraining): each document
    draws a denoiser by an md5 coin — R (regular: 3-token spans at
    ~15% rate), X (extreme: 8-token spans at ~50% rate), or S
    (sequential: mask the suffix half) — and the masked-span
    statistics a batch builder needs (masked count, sentinel islands,
    densities) are computed exactly, with the full boolean mask
    fingerprinted so the oracle pins the exact positions, not just
    the counts.

    Determinism: R/X spans are BLOCK-ALIGNED — position i masks iff
    md5('blk:'||doc||':'||(i-1) DIV blk) mod 100 < rate — so spans
    never partially overlap and no sequential merge state is needed
    (the ext_span_corruption_prep lesson, taken one step further);
    islands count mask starts (mask[i]=1 and mask[i-1]=0), row-local.

    Scale shape: embarrassingly row-local — one projection over the
    corpus, no shuffle but the output ORDER BY."""
    mask = F.expr(
        """
        CASE WHEN dcoin = 2
          THEN transform(sequence(1, n),
                         i -> IF(i > n DIV 2, 1, 0))
          ELSE transform(sequence(1, n),
            i -> IF(CAST(conv(substr(md5(concat(
                   'blk:', doc_id, ':',
                   CAST((i - 1) DIV blk AS STRING))), 1, 8), 16, 10)
                 AS BIGINT) % 100 < rate, 1, 0))
        END
        """
    )
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n"),
        F.expr(
            "CAST(conv(substr(md5(concat('ul2:', doc_id)), 1, 8),"
            " 16, 10) AS BIGINT) % 3"
        ).alias("dcoin"),
    ).select(
        "doc_id",
        "n",
        "dcoin",
        F.when(F.col("dcoin") == 0, "R")
        .when(F.col("dcoin") == 1, "X")
        .otherwise("S")
        .alias("denoiser"),
        F.when(F.col("dcoin") == 0, 3)
        .when(F.col("dcoin") == 1, 8)
        .otherwise(1)
        .alias("blk"),
        F.when(F.col("dcoin") == 0, 15)
        .when(F.col("dcoin") == 1, 50)
        .otherwise(0)
        .alias("rate"),
    )
    m = base.select("doc_id", "denoiser", "n", mask.alias("mask"))
    islands = F.size(
        F.filter(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: (F.element_at("mask", i) == 1)
            & (
                (i == 1)
                | (F.element_at("mask", (i - 1).cast("int")) == 0)
            ),
        )
    )
    return m.select(
        "doc_id",
        "denoiser",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.aggregate(
            "mask", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("masked"),
        islands.cast("bigint").alias("islands"),
        F.expr(
            "CAST(aggregate(mask, CAST(0 AS BIGINT), (a, x) -> a + x)"
            " * 1000000 DIV GREATEST(n, 1) AS BIGINT)"
        ).alias("masked_ratio_micro"),
        F.expr(
            "CAST(size(filter(sequence(1, n),"
            " i -> element_at(mask, i) = 1 AND (i = 1 OR"
            " element_at(mask, CAST(i - 1 AS INT)) = 0)))"
            " * 1000000 DIV GREATEST(n, 1) AS BIGINT)"
        ).alias("sentinel_density_micro"),
        F.md5(
            F.array_join(
                F.transform("mask", lambda x: x.cast("string")), ""
            )
        ).alias("mask_sig"),
    ).orderBy("doc_id")

def _tok_roundtrip_oracle() -> str:
    """Composed oracle for ext_tokenizer_roundtrip: the BPE merge
    chain (tok carried through), the WordPiece greedy fold with a
    STRING accumulator (pieces joined by spaces — cursor = consumed
    chars + 1), and the Unigram Viterbi unroll, all over the same
    global word table; per-language join + sorted-concat md5 identity.
    Everything MATERIALIZED (multiply-referenced CTEs inline
    exponentially in DuckDB otherwise)."""
    neg = str(_UNI_NEG)
    parts = [
        """wt AS MATERIALIZED (
  SELECT lang, token AS word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS token
        FROM documents)
  WHERE len(token) >= 1
  GROUP BY lang, token
),
gw AS MATERIALIZED (
  SELECT word, CAST(SUM(c) AS BIGINT) AS gc FROM wt GROUP BY word
),
b0 AS MATERIALIZED (
  SELECT word AS tok,
         ' ' || array_to_string(
           list_transform(generate_series(1, length(word)),
                          i -> substr(word, i, 1)), ' ') || ' ' AS sym,
         gc AS c
  FROM gw
)"""
    ]
    for i in range(1, _BPE_MERGES + 1):
        prev = f"b{i - 1}"
        parts.append(
            f"""bp{i} AS MATERIALIZED (
  SELECT pair, CAST(SUM(c) AS BIGINT) AS w FROM (
    SELECT UNNEST(list_transform(
             generate_series(1, len(s) - 1),
             j -> s[j] || ' ' || s[j + 1])) AS pair,
           c
    FROM (SELECT string_split(trim(sym), ' ') AS s, c FROM {prev})
    WHERE len(s) >= 2
  ) GROUP BY pair
),
bm{i} AS MATERIALIZED (
  SELECT pair, w FROM bp{i} ORDER BY w DESC, pair LIMIT 1),
b{i} AS MATERIALIZED (
  SELECT tok, replace(replace(sym,
           ' ' || (SELECT pair FROM bm{i}) || ' ',
           ' ' || (SELECT replace(pair, ' ', '') FROM bm{i}) || ' '),
           ' ' || (SELECT pair FROM bm{i}) || ' ',
           ' ' || (SELECT replace(pair, ' ', '') FROM bm{i}) || ' ') AS sym,
         c
  FROM {prev}
)"""
        )
    cons = "length(replace(acc, ' ', ''))"
    cur = f"CAST({cons} + 1 AS INT)"
    inv = f"CASE WHEN {cons} = 0 THEN ip.ips ELSE cp.cps END"
    parts.append(
        f"""vocab AS MATERIALIZED (
  SELECT word FROM (
    SELECT word, ROW_NUMBER() OVER (ORDER BY gc DESC, word) AS rk
    FROM gw
  ) WHERE rk <= 12
),
vl AS MATERIALIZED (SELECT LIST(word) AS vs FROM vocab),
ip AS MATERIALIZED (
  SELECT LIST(DISTINCT p) AS ips FROM (
    SELECT substr(word, 1, k) AS p
    FROM vocab, generate_series(1, 3) AS g(k) WHERE k <= len(word))
),
cp AS MATERIALIZED (
  SELECT LIST(DISTINCT p) AS cps FROM (
    SELECT substr(word, CAST(j AS INT), CAST(k AS INT)) AS p
    FROM vocab, generate_series(2, 24) AS gj(j),
         generate_series(1, 3) AS gk(k)
    WHERE j + k - 1 <= len(word))
),
wps AS MATERIALIZED (
  SELECT word, list_reduce(
    list_prepend(CAST('' AS VARCHAR),
                 list_transform(generate_series(1, 24),
                                x -> CAST('' AS VARCHAR))),
    (acc, x) -> CASE
      WHEN {cons} >= len(word) THEN acc
      WHEN {cons} = 0 AND list_contains(vl.vs, word)
        THEN acc || ' ' || word
      WHEN len(word) >= {cons} + 3
           AND list_contains({inv}, substr(word, {cur}, 3))
        THEN acc || ' ' || substr(word, {cur}, 3)
      WHEN len(word) >= {cons} + 2
           AND list_contains({inv}, substr(word, {cur}, 2))
        THEN acc || ' ' || substr(word, {cur}, 2)
      ELSE acc || ' ' || substr(word, {cur}, 1)
    END) AS wseg
  FROM gw, vl, ip, cp
),
uw AS MATERIALIZED (
  SELECT word AS tok, gc AS c FROM gw
  WHERE length(word) BETWEEN 1 AND {_UNI_MAXLEN}
),
upieces AS MATERIALIZED (
  SELECT p, CAST(SUM(c) AS BIGINT) AS cnt FROM (
    SELECT substr(w.tok, pos.i, ln.l) AS p, w.c
    FROM uw w,
         LATERAL (SELECT UNNEST(generate_series(1, length(w.tok)))
                  AS i) pos,
         (SELECT UNNEST([1, 2, 3]) AS l) ln
    WHERE pos.i + ln.l - 1 <= length(w.tok)
  ) GROUP BY p
),
utot AS MATERIALIZED (
  SELECT CAST(FLOOR(LN(SUM(cnt)) * 1e9) AS BIGINT) AS gn FROM upieces),
ump AS MATERIALIZED (
  SELECT MAP(list(p),
             list(CAST(FLOOR(LN(cnt) * 1e9) AS BIGINT) - utot.gn)) AS m
  FROM upieces, utot GROUP BY utot.gn
),
u0 AS MATERIALIZED (
  SELECT tok, c, m, length(tok) AS nl,
         CAST(0 AS BIGINT) AS va, CAST({neg} AS BIGINT) AS vb,
         CAST({neg} AS BIGINT) AS vc,
         '' AS sga, '' AS sgb, '' AS sgc
  FROM uw CROSS JOIN ump
)"""
    )
    for j in range(1, _UNI_MAXLEN + 1):
        prev = f"u{j - 1}"
        c1 = f"va + m[substr(tok, {j}, 1)][1]"
        c2 = (
            f"vb + m[substr(tok, {j - 1}, 2)][1]"
            if j >= 2
            else f"CAST({neg} AS BIGINT)"
        )
        c3 = (
            f"vc + m[substr(tok, {j - 2}, 3)][1]"
            if j >= 3
            else f"CAST({neg} AS BIGINT)"
        )
        s1 = f"sga || ' ' || substr(tok, {j}, 1)"
        s2 = f"sgb || ' ' || substr(tok, {j - 1}, 2)" if j >= 2 else "''"
        s3 = f"sgc || ' ' || substr(tok, {j - 2}, 3)" if j >= 3 else "''"
        parts.append(
            f"""u{j} AS MATERIALIZED (
  SELECT tok, c, m, nl,
    CASE WHEN nl >= {j} THEN GREATEST({c1}, {c2}, {c3}) ELSE va END AS va,
    CASE WHEN nl >= {j} THEN va ELSE vb END AS vb,
    CASE WHEN nl >= {j} THEN vb ELSE vc END AS vc,
    CASE WHEN nl >= {j} THEN
      CASE WHEN ({c3}) >= ({c2}) AND ({c3}) >= ({c1}) THEN {s3}
           WHEN ({c2}) >= ({c1}) THEN {s2}
           ELSE {s1} END
    ELSE sga END AS sga,
    CASE WHEN nl >= {j} THEN sga ELSE sgb END AS sgb,
    CASE WHEN nl >= {j} THEN sgb ELSE sgc END AS sgc
  FROM {prev}
)"""
        )
    parts.append(
        f"""bpe AS MATERIALIZED (
  SELECT tok AS word,
         CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS bpe_pieces,
         replace(sym, ' ', '') AS bpe_dec
  FROM b{_BPE_MERGES}
),
wp AS MATERIALIZED (
  SELECT word,
         CAST(len(string_split(trim(wseg), ' ')) AS BIGINT) AS wp_pieces,
         replace(wseg, ' ', '') AS wp_dec
  FROM wps
),
uni AS MATERIALIZED (
  SELECT tok AS word,
         CAST(len(string_split(trim(sga), ' ')) AS BIGINT) AS uni_pieces,
         replace(trim(sga), ' ', '') AS uni_dec
  FROM u{_UNI_MAXLEN}
  UNION ALL
  SELECT word, CAST(1 AS BIGINT), word FROM gw
  WHERE length(word) > {_UNI_MAXLEN}
),
j AS MATERIALIZED (
  SELECT wt.lang, wt.word, wt.c,
         bpe.bpe_pieces, bpe.bpe_dec,
         wp.wp_pieces, wp.wp_dec,
         uni.uni_pieces, uni.uni_dec
  FROM wt JOIN bpe USING (word)
          JOIN wp USING (word)
          JOIN uni USING (word)
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_word_types,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(SUM(bpe_pieces * c) * 1000000 // SUM(c) AS BIGINT)
    AS bpe_fertility_micro,
  CAST(SUM(wp_pieces * c) * 1000000 // SUM(c) AS BIGINT)
    AS wp_fertility_micro,
  CAST(SUM(uni_pieces * c) * 1000000 // SUM(c) AS BIGINT)
    AS uni_fertility_micro,
  md5(string_agg(bpe_dec, '|' ORDER BY word))
    = md5(string_agg(word, '|' ORDER BY word)) AS bpe_roundtrip_ok,
  md5(string_agg(wp_dec, '|' ORDER BY word))
    = md5(string_agg(word, '|' ORDER BY word)) AS wp_roundtrip_ok,
  md5(string_agg(uni_dec, '|' ORDER BY word))
    = md5(string_agg(word, '|' ORDER BY word)) AS uni_roundtrip_ok
FROM j GROUP BY lang ORDER BY lang"""
    )
    return "WITH " + ",\n".join(parts)


@register(
    "ext_tokenizer_roundtrip",
    survey_id="EXT-TOK-ROUNDTRIP",
    category="llm-training-prep",
    oracle=_tok_roundtrip_oracle(),
)
def ext_tokenizer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode(encode(x)) = x, PROVED CORPUS-WIDE for all three
    tokenizers (r8 verdict #7) — the property the trio (BPE merge
    loop, WordPiece greedy fold, Unigram-LM Viterbi) segmented but
    never asserted: every distinct word is segmented by each
    tokenizer, the pieces are re-joined, and per language the md5 of
    the word-sorted decoded concatenation must equal the md5 of the
    word-sorted source concatenation.  Alongside, the per-language
    token-weighted FERTILITY of each tokenizer — the comparison table
    (BPE vs WordPiece vs Unigram pieces-per-token) a tokenizer
    selection reads.

    Segmenters (shared code with their standalone queries):
    - BPE: the 6-merge trajectory loop (_bpe_merge_loop) — decode =
      strip the symbol spaces; identity pins that the two-pass padded
      replace never corrupts adjacent symbols.
    - WordPiece: the greedy longest-match cursor walk re-folded with a
      STRING accumulator (pieces joined by spaces, cursor = consumed
      chars + 1) and BYTE-FALLBACK UNK (the unmatched char itself is
      the piece, GPT-2-style) so decode is total; identity pins the
      cursor arithmetic (a stall or double-consume truncates or
      duplicates the decode).
    - Unigram: the Viterbi E-step (_unigram_viterbi_segs); words over
      the {_UNI_MAXLEN}-char DP cap pass through as single pieces
      (none exist in the fixtures, max token is 8 chars).

    Scale shape: everything runs on the DISTINCT-word table
    (vocabulary-scale, not corpus-scale); the only corpus-wide work is
    the one (lang, word) count shuffle; the BPE loop's 6 argmax
    collects are 1-row reads; inventories and the piece-score map ride
    single broadcast rows; the md5 identity aggregates vocab-scale
    strings per language."""
    docs = load_table(spark, sf_dir, "documents")
    wt = pin(
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 1)
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    gw = pin(
        wt.groupBy("word")
        .agg(F.sum("c").cast("bigint").alias("gc"))
    )

    # --- BPE: learn 6 merges on the global word table, decode = strip
    words0 = pin(gw.select(
        F.col("word").alias("tok"),
        F.concat(
            F.lit(" "),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.substring(F.col("word"), i, F.lit(1)),
                ),
                " ",
            ),
            F.lit(" "),
        ).alias("sym"),
        F.col("gc").alias("c"),
    ))
    bpe_final, _ = _bpe_merge_loop(words0, _BPE_MERGES)
    bpe = bpe_final.select(
        F.col("tok").alias("word"),
        F.size(F.split(F.trim("sym"), " ")).cast("bigint").alias(
            "bpe_pieces"
        ),
        F.replace(F.col("sym"), F.lit(" "), F.lit("")).alias("bpe_dec"),
    )

    # --- WordPiece: greedy fold with a string accumulator
    vocab = (
        gw.orderBy(F.col("gc").desc(), "word").limit(12).select("word")
    )
    vl = F.broadcast(vocab.agg(F.collect_set("word").alias("vs")))
    ip = F.broadcast(
        vocab.select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(3), F.length("word"))
                    ),
                    lambda k: F.col("word").substr(F.lit(1), k),
                )
            ).alias("p")
        ).agg(F.collect_set("p").alias("ips"))
    )
    cp = F.broadcast(
        vocab.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(
                            F.lit(2),
                            F.least(F.length("word"), F.lit(24)),
                        ),
                        lambda j: F.filter(
                            F.transform(
                                F.sequence(F.lit(1), F.lit(3)),
                                lambda k: F.when(
                                    j + k - 1 <= F.length("word"),
                                    F.col("word").substr(j, k),
                                ),
                            ),
                            lambda s: s.isNotNull(),
                        ),
                    )
                )
            ).alias("p")
        )
        .where(F.length("word") >= 2)
        .agg(F.collect_set("p").alias("cps"))
    )

    def wp_step(acc, _x):
        w = F.col("word")
        cons = F.length(F.replace(acc, F.lit(" "), F.lit("")))
        cur = (cons + 1).cast("int")
        inv = F.when(cons == 0, F.col("ips")).otherwise(F.col("cps"))
        p3 = w.substr(cur, F.lit(3))
        p2 = w.substr(cur, F.lit(2))
        p1 = w.substr(cur, F.lit(1))
        return (
            F.when(cons >= F.length(w), acc)
            .when(
                (cons == 0) & F.array_contains(F.col("vs"), w),
                F.concat(acc, F.lit(" "), w),
            )
            .when(
                (F.length(w) >= cons + 3) & F.array_contains(inv, p3),
                F.concat(acc, F.lit(" "), p3),
            )
            .when(
                (F.length(w) >= cons + 2) & F.array_contains(inv, p2),
                F.concat(acc, F.lit(" "), p2),
            )
            .otherwise(F.concat(acc, F.lit(" "), p1))
        )

    wp = (
        gw.crossJoin(vl)
        .crossJoin(ip)
        .crossJoin(cp)
        .select(
            "word",
            F.aggregate(
                F.sequence(F.lit(1), F.lit(24)), F.lit(""), wp_step
            ).alias("wseg"),
        )
        .select(
            "word",
            F.size(F.split(F.trim("wseg"), " ")).cast("bigint").alias(
                "wp_pieces"
            ),
            F.replace(F.col("wseg"), F.lit(" "), F.lit("")).alias(
                "wp_dec"
            ),
        )
    )

    # --- Unigram: shared Viterbi E-step; over-cap words pass through
    uw = gw.where(
        F.length("word").between(1, _UNI_MAXLEN)
    ).select(F.col("word").alias("tok"), F.col("gc").alias("c"))
    usegs, _ = _unigram_viterbi_segs(pin(uw))
    uni = usegs.select(
        F.col("tok").alias("word"),
        F.size(F.split("seg", " ")).cast("bigint").alias("uni_pieces"),
        F.replace(F.col("seg"), F.lit(" "), F.lit("")).alias("uni_dec"),
    ).unionByName(
        gw.where(F.length("word") > _UNI_MAXLEN).select(
            "word",
            F.lit(1).cast("bigint").alias("uni_pieces"),
            F.col("word").alias("uni_dec"),
        )
    )

    j = (
        wt.join(bpe, "word")
        .join(wp, "word")
        .join(uni, "word")
    )

    def dec_md5(col):
        return F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("word", F.col(col)))
                    ),
                    lambda x: x[col],
                ),
                "|",
            )
        )

    src_md5 = F.md5(F.array_join(F.array_sort(F.collect_list("word")), "|"))
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_word_types"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.expr(
                "CAST(sum(bpe_pieces * c) * 1000000 DIV sum(c) AS BIGINT)"
            ).alias("bpe_fertility_micro"),
            F.expr(
                "CAST(sum(wp_pieces * c) * 1000000 DIV sum(c) AS BIGINT)"
            ).alias("wp_fertility_micro"),
            F.expr(
                "CAST(sum(uni_pieces * c) * 1000000 DIV sum(c) AS BIGINT)"
            ).alias("uni_fertility_micro"),
            (dec_md5("bpe_dec") == src_md5).alias("bpe_roundtrip_ok"),
            (dec_md5("wp_dec") == src_md5).alias("wp_roundtrip_ok"),
            (dec_md5("uni_dec") == src_md5).alias("uni_roundtrip_ok"),
        )
        .orderBy("lang")
    )

@register(
    "ext_preference_pair_mining",
    survey_id="EXT-PREF-PAIRS",
    category="llm-training-prep",
    oracle="""
WITH scored AS MATERIALIZED (
  SELECT doc_id, lang, source,
         CAST(1000000 * len(list_distinct(string_split(text, ' ')))
              // len(string_split(text, ' '))
              + len(string_split(text, ' ')) AS BIGINT) AS q
  FROM documents
),
ranked AS MATERIALIZED (
  SELECT doc_id, lang, source, q,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY q DESC, doc_id) AS rtop,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY q ASC, doc_id) AS rbot
  FROM scored
),
pairs AS MATERIALIZED (
  SELECT c.lang, c.source,
         c.doc_id AS chosen_id, r.doc_id AS rejected_id,
         c.q - r.q AS margin
  FROM (SELECT * FROM ranked WHERE rtop <= 2) c
  JOIN (SELECT * FROM ranked WHERE rbot <= 2) r
    ON r.lang = c.lang AND r.source = c.source
   AND r.doc_id <> c.doc_id
  WHERE c.q - r.q >= 1000
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(margin) AS BIGINT) AS sum_margin,
       CAST(MAX(margin) AS BIGINT) AS max_margin,
       CAST(MIN(chosen_id) AS BIGINT) AS first_chosen
FROM pairs GROUP BY lang, source ORDER BY lang, source
""",
)
def ext_preference_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR CONSTRUCTION for DPO/RLHF reward modeling — the
    training-prep step that turns a scored corpus into (chosen,
    rejected) pairs: per (lang, source) group, the top-2 documents by
    a deterministic quality score (type-token ratio in micro units
    plus length — the exact-integer quality proxy) pair against the
    bottom-2, kept only when the quality MARGIN clears a threshold
    (1000 micro) — low-margin pairs teach a reward model nothing and
    are the standard filter.  Output per group: pair count, total and
    max margin, and the first chosen doc.

    Exactness: the score is all-integer (1e6-scaled floor division +
    token count), ranks tie-break on doc_id both ways, and the margin
    filter is an integer comparison.

    Scale shape: both rankings are windows PARTITIONED by (lang,
    source) — never a global sort; the pair join is top-2 x bottom-2
    per group (bounded fan-out 4), and groups are the natural prompt
    shards a preference pipeline processes independently at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = (
        F.expr(
            "CAST(1000000 * size(array_distinct(split(text, ' ')))"
            " DIV size(split(text, ' '))"
            " + size(split(text, ' ')) AS BIGINT)"
        )
    ).alias("q")
    scored = d.select("doc_id", "lang", "source", q)
    w_top = Window.partitionBy("lang", "source").orderBy(
        F.col("q").desc(), "doc_id"
    )
    w_bot = Window.partitionBy("lang", "source").orderBy(
        F.col("q").asc(), "doc_id"
    )
    ranked = pin(scored.select(
        "doc_id",
        "lang",
        "source",
        "q",
        F.row_number().over(w_top).alias("rtop"),
        F.row_number().over(w_bot).alias("rbot"),
    ))
    chosen = ranked.where(F.col("rtop") <= 2).select(
        "lang", "source",
        F.col("doc_id").alias("chosen_id"), F.col("q").alias("qc"),
    )
    rejected = ranked.where(F.col("rbot") <= 2).select(
        F.col("lang").alias("rl"), F.col("source").alias("rs"),
        F.col("doc_id").alias("rejected_id"), F.col("q").alias("qr"),
    )
    pairs = (
        chosen.join(
            rejected,
            (F.col("rl") == F.col("lang"))
            & (F.col("rs") == F.col("source"))
            & (F.col("rejected_id") != F.col("chosen_id")),
        )
        .select(
            "lang", "source", "chosen_id", "rejected_id",
            (F.col("qc") - F.col("qr")).alias("margin"),
        )
        .where(F.col("margin") >= 1000)
    )
    return (
        pairs.groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("margin").cast("bigint").alias("sum_margin"),
            F.max("margin").cast("bigint").alias("max_margin"),
            F.min("chosen_id").cast("bigint").alias("first_chosen"),
        )
        .orderBy("lang", "source")
    )

_WP_CURVE_SIZES = (4, 8, 12, 16)


def _wp_curve_oracle() -> str:
    """One CTE chain per vocab size, unioned — the fertility-vs-vocab
    design table, replaying ext_wordpiece_apply's packed-int greedy
    fold at each size."""
    parts = [
        """wt AS MATERIALIZED (
  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
)"""
    ]
    selects = []
    for v in _WP_CURVE_SIZES:
        parts.append(
            f"""vocab{v} AS MATERIALIZED (
  SELECT word FROM (
    SELECT word, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rk
    FROM wt
  ) WHERE rk <= {v}
),
vl{v} AS MATERIALIZED (SELECT LIST(word) AS vs FROM vocab{v}),
ip{v} AS MATERIALIZED (
  SELECT LIST(DISTINCT p) AS ips FROM (
    SELECT substr(word, 1, k) AS p
    FROM vocab{v}, generate_series(1, 3) AS g(k) WHERE k <= len(word))
),
cp{v} AS MATERIALIZED (
  SELECT LIST(DISTINCT p) AS cps FROM (
    SELECT substr(word, CAST(j AS INT), CAST(k AS INT)) AS p
    FROM vocab{v}, generate_series(2, 24) AS gj(j),
         generate_series(1, 3) AS gk(k)
    WHERE j + k - 1 <= len(word))
),
seg{v} AS MATERIALIZED (
  SELECT word, c,
    list_reduce(
      list_prepend(CAST(1000000 AS BIGINT),
                   list_transform(generate_series(1, 24),
                                  x -> CAST(x AS BIGINT))),
      (acc, x) -> CASE
        WHEN acc // 1000000 > len(word) THEN acc
        WHEN acc // 1000000 = 1 AND list_contains(vl{v}.vs, word)
          THEN acc + len(word) * 1000000 + 1000
        WHEN acc // 1000000 = 1 THEN {_wp_sql_step(f"ip{v}.ips")}
        ELSE {_wp_sql_step(f"cp{v}.cps")} END) AS acc
  FROM wt, vl{v}, ip{v}, cp{v}
)"""
        )
        selects.append(
            f"""SELECT CAST({v} AS BIGINT) AS vocab_size,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(((acc % 1000000) // 1000) * c) AS BIGINT) AS total_pieces,
       CAST(SUM((acc % 1000) * c) AS BIGINT) AS total_unk,
       CAST(SUM(((acc % 1000000) // 1000) * c) * 1000000 // SUM(c)
            AS BIGINT) AS fertility_micro,
       CAST(SUM((acc % 1000) * c) * 1000000 // SUM(c) AS BIGINT)
         AS unk_rate_micro
FROM seg{v}"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY vocab_size"
    )


@register(
    "ext_wordpiece_vocab_curve",
    survey_id="EXT-WP-CURVE",
    category="llm-training-prep",
    oracle=_wp_curve_oracle(),
)
def ext_wordpiece_vocab_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FERTILITY-vs-VOCAB-SIZE CURVE — the tokenizer-budget design
    table (the ext_lsh_parameter_sweep pattern applied to tokenization):
    ext_wordpiece_apply's greedy packed-int fold replayed at vocab
    sizes {4, 8, 12, 16}, reporting token-weighted fertility and UNK
    rate at each size.  Fertility falls and UNK falls as the vocabulary
    grows — THIS curve is where a deployment reads off the smallest
    vocabulary that meets its pieces-per-token budget, the trade every
    multilingual tokenizer design starts from.

    Exactness: identical fold, rank-based vocab cut (c DESC, word),
    exact micro floor-divisions — four hash-exact rows.

    Scale shape: the corpus-scale work (the word count shuffle)
    happens ONCE; each curve point re-segments only the DISTINCT-word
    table against broadcast inventories — vocabulary-scale per point,
    so the curve costs 4x a segmentation, not 4x a corpus scan."""
    d = load_table(spark, sf_dir, "documents")
    wt = pin(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("c"))
    )

    def step(acc, inv):
        cur = (acc / F.lit(1000000)).cast("bigint")
        L = F.length("word")
        probe = lambda k: F.col("word").substr(  # noqa: E731
            cur.cast("int"), F.lit(k)
        )
        return (
            F.when(
                (L >= cur + 2) & F.array_contains(F.col(inv), probe(3)),
                acc + F.lit(3 * 1000000 + 1000).cast("bigint"),
            )
            .when(
                (L >= cur + 1) & F.array_contains(F.col(inv), probe(2)),
                acc + F.lit(2 * 1000000 + 1000).cast("bigint"),
            )
            .when(
                F.array_contains(F.col(inv), probe(1)),
                acc + F.lit(1000000 + 1000).cast("bigint"),
            )
            .otherwise(acc + F.lit(1000000 + 1000 + 1).cast("bigint"))
        )

    out = None
    for v in _WP_CURVE_SIZES:
        vocab = wt.orderBy(F.col("c").desc(), "word").limit(v).select("word")
        vl = F.broadcast(vocab.agg(F.collect_set("word").alias("vs")))
        ip = F.broadcast(
            vocab.select(
                F.explode(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.least(F.lit(3), F.length("word"))
                        ),
                        lambda k: F.col("word").substr(F.lit(1), k),
                    )
                ).alias("p")
            ).agg(F.collect_set("p").alias("ips"))
        )
        cp = F.broadcast(
            vocab.select(
                F.explode(
                    F.flatten(
                        F.transform(
                            F.sequence(
                                F.lit(2),
                                F.least(F.length("word"), F.lit(24)),
                            ),
                            lambda j: F.filter(
                                F.transform(
                                    F.sequence(F.lit(1), F.lit(3)),
                                    lambda k: F.when(
                                        j + k - 1 <= F.length("word"),
                                        F.col("word").substr(j, k),
                                    ),
                                ),
                                lambda s: s.isNotNull(),
                            ),
                        )
                    )
                ).alias("p")
            )
            .where(F.length("word") >= 2)
            .agg(F.collect_set("p").alias("cps"))
        )
        seg = (
            wt.crossJoin(vl)
            .crossJoin(ip)
            .crossJoin(cp)
            .select(
                "word",
                "c",
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(24)),
                    F.lit(1000000).cast("bigint"),
                    lambda acc, _x: F.when(
                        (acc / F.lit(1000000)).cast("bigint")
                        > F.length("word"),
                        acc,
                    )
                    .when(
                        ((acc / F.lit(1000000)).cast("bigint") == 1)
                        & F.array_contains(F.col("vs"), F.col("word")),
                        acc
                        + F.length("word").cast("bigint") * F.lit(1000000)
                        + F.lit(1000),
                    )
                    .when(
                        (acc / F.lit(1000000)).cast("bigint") == 1,
                        step(acc, "ips"),
                    )
                    .otherwise(step(acc, "cps")),
                ).alias("acc"),
            )
        )
        row = seg.agg(
            F.lit(v).cast("bigint").alias("vocab_size"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.expr("((acc % 1000000) DIV 1000) * c"))
            .cast("bigint")
            .alias("total_pieces"),
            F.sum(F.expr("(acc % 1000) * c"))
            .cast("bigint")
            .alias("total_unk"),
            F.expr(
                "CAST(sum(((acc % 1000000) DIV 1000) * c) * 1000000"
                " DIV sum(c) AS BIGINT)"
            ).alias("fertility_micro"),
            F.expr(
                "CAST(sum((acc % 1000) * c) * 1000000 DIV sum(c)"
                " AS BIGINT)"
            ).alias("unk_rate_micro"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("vocab_size")


# --- r10: DoReMi-style mixture reweighting ----------------------------


@register(
    "ext_mixture_reweight",
    survey_id="EXT-MIXTURE-REWEIGHT",
    category="llm-training-prep",
    oracle="""
WITH per_doc AS MATERIALIZED (
  SELECT lang, source,
         CAST(1000000 * len(list_distinct(string_split(text, ' ')))
              // len(string_split(text, ' ')) AS BIGINT) AS div_micro
  FROM documents
),
dom AS MATERIALIZED (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(div_micro) // COUNT(*) AS BIGINT) AS loss_micro
  FROM per_doc GROUP BY lang, source
),
ref AS (SELECT CAST(SUM(div_micro) // COUNT(*) AS BIGINT) AS ref_micro
        FROM per_doc),
ex AS MATERIALIZED (
  SELECT d.lang, d.source, d.n_docs, d.loss_micro, r.ref_micro,
         GREATEST(0, d.loss_micro - r.ref_micro) AS excess_micro,
         CAST(d.n_docs AS HUGEINT)
           * (1000000 + 10 * GREATEST(0, d.loss_micro - r.ref_micro))
           AS num
  FROM dom d CROSS JOIN ref r
),
tot AS (SELECT SUM(num) AS den, CAST(SUM(n_docs) AS HUGEINT) AS nd
        FROM ex)
SELECT e.lang, e.source, e.n_docs, e.loss_micro, e.ref_micro,
       e.excess_micro,
       CAST(1000000 * e.n_docs // t.nd AS BIGINT) AS old_weight_micro,
       CAST(1000000 * e.num // t.den AS BIGINT) AS new_weight_micro,
       CAST(1000000 * e.num // t.den AS BIGINT)
         >= CAST(1000000 * e.n_docs // t.nd AS BIGINT)
         OR e.excess_micro = 0 AS consistent
FROM ex e CROSS JOIN tot t
ORDER BY e.lang, e.source
""",
)
def ext_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE REWEIGHTING, the DoReMi recipe reduced to one
    exact round (Xie et al. 2023, arXiv:2305.10429): per domain
    (lang, source) compute a loss proxy (mean lexical-diversity micro
    — the stand-in for the proxy-model excess loss), measure EXCESS
    over the corpus-wide reference, multiply the domain's base weight
    (its doc share) by (1 + 10 * excess) and renormalize — domains
    whose proxy loss exceeds the reference are upweighted for the
    next training mix, everything integer/DECIMAL so both engines
    agree bit-for-bit.  Output pins the direction claim per domain
    (excess > 0 => new weight >= old weight, modulo the floor).

    Scale shape: one combinable per-domain aggregate over the corpus,
    then all mixture math on the tiny domain table with a broadcast
    1-row total; at 100 TB this is the standard between-epoch mixture
    refresh job."""
    d = load_table(spark, sf_dir, "documents")
    div_micro = F.expr(
        "CAST(1000000 * size(array_distinct(split(text, ' ')))"
        " DIV size(split(text, ' ')) AS BIGINT)"
    )
    per_doc = d.select("lang", "source", div_micro.alias("div_micro"))
    dom = per_doc.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr("CAST(sum(div_micro) DIV count(*) AS BIGINT)").alias(
            "loss_micro"
        ),
    )
    ref = per_doc.agg(
        F.expr("CAST(sum(div_micro) DIV count(*) AS BIGINT)").alias(
            "ref_micro"
        )
    )
    ex = dom.crossJoin(F.broadcast(ref)).select(
        "lang",
        "source",
        "n_docs",
        "loss_micro",
        "ref_micro",
        F.greatest(
            F.lit(0), F.col("loss_micro") - F.col("ref_micro")
        ).alias("excess_micro"),
    ).withColumn(
        "num",
        F.col("n_docs").cast("decimal(38,0)")
        * (F.lit(1_000_000) + F.lit(10) * F.col("excess_micro")).cast(
            "decimal(38,0)"
        ),
    )
    tot = ex.agg(
        F.sum("num").alias("den"),
        F.sum(F.col("n_docs").cast("decimal(38,0)")).alias("nd"),
    )
    oldw = F.expr("CAST(1000000 * n_docs DIV nd AS BIGINT)")
    neww = F.expr("CAST(1000000 * num DIV den AS BIGINT)")
    return (
        ex.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "loss_micro",
            "ref_micro",
            "excess_micro",
            oldw.alias("old_weight_micro"),
            neww.alias("new_weight_micro"),
            ((neww >= oldw) | (F.col("excess_micro") == 0)).alias(
                "consistent"
            ),
        )
        .orderBy("lang", "source")
    )


# --- r10: GRPO group-relative advantages ------------------------------


@register(
    "ext_grpo_advantage",
    survey_id="EXT-GRPO-ADV",
    category="llm-training-prep",
    oracle="""
WITH samples AS MATERIALIZED (
  SELECT d.doc_id AS prompt_id, d.lang, g.s,
         CAST(('0x' || substr(md5(d.doc_id || '/' || g.s), 1, 12))
              AS BIGINT) % 1000000 AS reward_micro
  FROM documents d, (SELECT UNNEST(generate_series(0, 7)) AS s) g
  WHERE d.doc_id % 3 = 0
),
grp AS MATERIALIZED (
  SELECT prompt_id,
         CAST(SUM(reward_micro) AS BIGINT) AS sr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM samples GROUP BY prompt_id
),
adv AS MATERIALIZED (
  SELECT s.prompt_id, s.lang, s.s, s.reward_micro,
         s.reward_micro - g.sr // g.n AS adv_micro
  FROM samples s JOIN grp g ON g.prompt_id = s.prompt_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(COUNT(DISTINCT prompt_id) AS BIGINT) AS n_prompts,
       CAST(SUM(CASE WHEN adv_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_positive,
       CAST(SUM(adv_micro) AS BIGINT) AS sum_adv_micro,
       CAST(MAX(adv_micro) AS BIGINT) AS max_adv_micro,
       CAST(MIN(adv_micro) AS BIGINT) AS min_adv_micro,
       ABS(CAST(SUM(adv_micro) AS BIGINT))
         <= 8 * CAST(COUNT(DISTINCT prompt_id) AS BIGINT)
         AS centered_ok
FROM adv GROUP BY lang ORDER BY lang
""",
)
def ext_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-RELATIVE ADVANTAGE computation (the GRPO recipe, Shao et
    al. 2024, arXiv:2402.03300): per prompt, k=8 sampled completions
    with md5-derived rewards; each sample's advantage is its reward
    minus the GROUP MEAN (integer floor), no learned value model —
    the data-side normalization every GRPO/RLOO trainer runs before
    the policy update.  Output per lang: sample counts, positive-
    advantage counts, advantage sum/extrema, and the centering
    invariant |sum(adv)| <= k * n_prompts pinned as a column (exact
    zero up to the per-group floor remainder, which is < k per
    group... bounded by n_prompts * (k-1) < 8 * n_prompts).

    Scale shape: one keyed group aggregate (prompt) + a broadcast-size
    re-join of the per-group mean, then one combinable lang rollup;
    at 100 TB this is a two-shuffle pipeline with no skew (prompt ids
    are unique keys)."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    samples = d.select(
        F.col("doc_id").alias("prompt_id"),
        "lang",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
    ).select(
        "prompt_id",
        "lang",
        "s",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("prompt_id").cast("string"),
                            F.lit("/"),
                            F.col("s").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % 1_000_000
        ).alias("reward_micro"),
    )
    grp = samples.groupBy("prompt_id").agg(
        F.sum("reward_micro").cast("bigint").alias("sr"),
        F.count("*").cast("bigint").alias("n"),
    )
    adv = samples.join(grp, "prompt_id").select(
        "prompt_id",
        "lang",
        "s",
        "reward_micro",
        (F.col("reward_micro") - F.expr("sr DIV n")).alias("adv_micro"),
    )
    return (
        adv.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_samples"),
            F.countDistinct("prompt_id").cast("bigint").alias("n_prompts"),
            F.sum(F.when(F.col("adv_micro") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
            F.sum("adv_micro").cast("bigint").alias("sum_adv_micro"),
            F.max("adv_micro").cast("bigint").alias("max_adv_micro"),
            F.min("adv_micro").cast("bigint").alias("min_adv_micro"),
            (
                F.abs(F.sum("adv_micro").cast("bigint"))
                <= F.lit(8) * F.countDistinct("prompt_id").cast("bigint")
            ).alias("centered_ok"),
        )
        .orderBy("lang")
    )


# --- r10: rejection-sampling fine-tune curation -----------------------


@register(
    "ext_rejection_sampling_ft",
    survey_id="EXT-REJECTION-FT",
    category="llm-training-prep",
    oracle="""
WITH samples AS MATERIALIZED (
  SELECT d.doc_id AS prompt_id, d.lang, g.s,
         CAST(('0x' || substr(md5(d.doc_id || '#' || g.s), 1, 12))
              AS BIGINT) % 1000000 AS reward_micro,
         CAST(('0x' || substr(md5(d.doc_id || '#' || g.s), 13, 8))
              AS BIGINT) % 50 AS answer_key
  FROM documents d, (SELECT UNNEST(generate_series(0, 15)) AS s) g
  WHERE d.doc_id % 4 = 1
),
passing AS MATERIALIZED (
  SELECT * FROM samples WHERE reward_micro >= 700000
),
dedup AS MATERIALIZED (
  -- one kept sample per (prompt, distinct answer): highest reward,
  -- then smallest sample id (composite packed into one BIGINT key —
  -- s < 16 << 100, so -reward*100 + s orders lexicographically)
  SELECT prompt_id, lang, answer_key,
         ARG_MIN(s, -reward_micro * 100 + s) AS kept_s,
         MAX(reward_micro) AS kept_reward
  FROM passing GROUP BY prompt_id, lang, answer_key
)
SELECT lang,
       CAST(COUNT(DISTINCT prompt_id) AS BIGINT) AS n_prompts_kept,
       CAST(COUNT(*) AS BIGINT) AS n_examples,
       CAST(SUM(kept_reward) AS BIGINT) AS sum_reward_micro,
       CAST(1000000 * COUNT(*)
            // (16 * COUNT(DISTINCT prompt_id)) AS BIGINT)
         AS keep_rate_micro,
       CAST(SUM(kept_s) AS BIGINT) AS kept_checksum
FROM dedup GROUP BY lang ORDER BY lang
""",
)
def ext_rejection_sampling_ft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REJECTION-SAMPLING FINE-TUNE curation (the RFT/STaR/Llama-2
    recipe, Yuan et al. 2023, arXiv:2308.01825): per prompt, k=16
    md5-derived (reward, answer-equivalence-key) samples; keep samples
    whose reward clears the 0.7 threshold, then DEDUPE to one example
    per distinct answer per prompt (best reward, smallest sample id on
    ties) — the dedupe step is what keeps the fine-tune set from mode-
    collapsing onto one easy completion.  Output per lang: kept
    prompt/example counts, reward mass, the keep rate, and an exact
    kept-sample-id checksum.

    Scale shape: threshold filter in the scan, one (prompt, answer)
    group, one lang rollup — two combinable shuffles, no skew."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 1
    )
    h = F.md5(
        F.concat(
            F.col("prompt_id").cast("string"),
            F.lit("#"),
            F.col("s").cast("string"),
        )
    )
    samples = (
        d.select(
            F.col("doc_id").alias("prompt_id"),
            "lang",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("s"),
        )
        .select(
            "prompt_id",
            "lang",
            "s",
            (
                F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")
                % 1_000_000
            ).alias("reward_micro"),
            (
                F.conv(F.substring(h, 13, 8), 16, 10).cast("bigint") % 50
            ).alias("answer_key"),
        )
    )
    passing = samples.where(F.col("reward_micro") >= 700_000)
    dedup = passing.groupBy("prompt_id", "lang", "answer_key").agg(
        F.min_by(
            "s", -F.col("reward_micro") * 100 + F.col("s")
        ).alias("kept_s"),
        F.max("reward_micro").alias("kept_reward"),
    )
    return (
        dedup.groupBy("lang")
        .agg(
            F.countDistinct("prompt_id")
            .cast("bigint")
            .alias("n_prompts_kept"),
            F.count("*").cast("bigint").alias("n_examples"),
            F.sum("kept_reward").cast("bigint").alias("sum_reward_micro"),
            F.expr(
                "CAST(1000000 * count(*)"
                " DIV (16 * count(DISTINCT prompt_id)) AS BIGINT)"
            ).alias("keep_rate_micro"),
            F.sum("kept_s").cast("bigint").alias("kept_checksum"),
        )
        .orderBy("lang")
    )


_CURR_GRIDLN = "CAST(FLOOR(LN({x}) * 1e9) AS BIGINT)"

_CURR_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
  FROM documents
),
df AS MATERIALIZED (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfw
  FROM tk GROUP BY w
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
m AS (
  SELECT doc_id, lang, w, COUNT(*) AS mw FROM tk GROUP BY doc_id, lang, w
),
rar AS MATERIALIZED (
  SELECT m.doc_id, m.lang,
         CAST(SUM(m.mw) AS BIGINT) AS t_doc,
         CAST(SUM(m.mw * ({_CURR_GRIDLN.format(x='nd.n')}
                          - {_CURR_GRIDLN.format(x='df.dfw')}))
              // SUM(m.mw) AS BIGINT) AS rarity_g
  FROM m JOIN df ON m.w = df.w CROSS JOIN nd
  GROUP BY m.doc_id, m.lang
),
staged AS (
  SELECT doc_id, lang, t_doc, rarity_g,
         CAST((row_number() OVER (ORDER BY rarity_g, doc_id) - 1) * 4
              // (SELECT COUNT(*) FROM rar) AS BIGINT) AS stage
  FROM rar
)
SELECT stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(rarity_g) AS BIGINT) AS min_rarity_g,
       CAST(MAX(rarity_g) AS BIGINT) AS max_rarity_g,
       CAST(SUM(t_doc) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_en,
       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zh
FROM staged GROUP BY stage ORDER BY stage
"""


@register(
    "ext_curriculum_schedule",
    survey_id="EXT-CURRICULUM",
    category="llm-training-prep",
    oracle=_CURR_ORACLE,
)
def ext_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM SCHEDULING — order the corpus easy-to-hard before
    packing (the curriculum-learning recipe, Bengio et al. 2009,
    applied to pretraining data): difficulty = mean token RARITY,
    rarity(w) = ln(N) - ln(df(w)) on the integer 1e-9 grid (the IDF
    everything else in retrieval uses), averaged per doc by integer
    division. Docs split into 4 equal-population stages by exact
    global rank (ties by doc_id), and the output is the per-stage
    schedule card: population, rarity band, token volume, and the
    en/zh language mix a mixture-rebalancer would read.

    Exactness: integer grid throughout; the stage split is an exact
    ntile via (rank-1)*4 DIV n, no percentile approximation anywhere.

    Scale shape: df and per-(doc,w) counts are map-side-combinable
    aggregates; the rarity join shuffles on the token key; the global
    rank runs on the doc-count-sized (rarity, doc_id) table via a
    bucketed two-phase rank (no unpartitioned window over corpus-
    volume rows)."""
    from nibbler_spark.queries._helpers import two_phase_rank

    tk = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    nd = F.broadcast(
        load_table(spark, sf_dir, "documents").agg(
            F.count("*").cast("bigint").alias("n")
        )
    )
    m = tk.groupBy("doc_id", "lang", "w").agg(F.count("*").alias("mw"))
    # r11 perf (guide §2.3): df(w) = COUNT over m's one-row-per-(doc, w)
    # groups — the old separate countDistinct(doc_id) pass re-exploded
    # and re-shuffled the full token stream; this derives the same
    # integer from the aggregate the query already builds.
    dfw = m.groupBy("w").agg(F.count("*").cast("bigint").alias("dfw"))
    gridln = lambda c: F.floor(F.log(c) * F.lit(1e9)).cast("bigint")
    rar = pin(
        m.join(dfw, "w")
        .crossJoin(nd)
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("mw").cast("bigint").alias("t_doc"),
            F.expr(
                "CAST(SUM(mw * (CAST(FLOOR(LN(n) * 1e9) AS BIGINT)"
                " - CAST(FLOOR(LN(dfw) * 1e9) AS BIGINT)))"
                " DIV SUM(mw) AS BIGINT)"
            ).alias("rarity_g"),
        )
    )
    n_docs = rar.count()
    staged = two_phase_rank(
        rar,
        F.expr("rarity_g DIV 1000000"),
        [F.col("rarity_g"), F.col("doc_id")],
        "rk",
    ).withColumn(
        "stage", F.expr(f"CAST((rk - 1) * 4 DIV {n_docs} AS BIGINT)")
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("rarity_g").cast("bigint").alias("min_rarity_g"),
            F.max("rarity_g").cast("bigint").alias("max_rarity_g"),
            F.sum("t_doc").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("n_en"),
            F.sum(F.when(F.col("lang") == "zh", 1).otherwise(0))
            .cast("bigint")
            .alias("n_zh"),
        )
        .orderBy("stage")
    )
