"""Deduplication operators (SURVEY §2.3 K1–K5 + SimHash / char-ngram /
embedding-cosine near-dup extensions).

Scale design (the 100 TB rule, SURVEY §2.3): every pairwise comparison is
*blocked* — by (lang, source) for text, by label for embeddings, by LSH
bucket for MinHash — so the candidate set stays near-linear. The only
O(block²) work happens inside bounded blocks. Exact unblocked
cross-joins appear nowhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nibbler_spark.queries._helpers import seq1, spread

from nibbler_spark.queries import pin, register
from nibbler_spark.sources import load_table


@register(
    "k01_dedup_exact",
    survey_id="K1",
    category="llm-dedup",
    oracle="""
SELECT md5(text) AS content_key,
       ARG_MIN(doc_id, doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY content_key
""",
)
def k01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-group on md5(text), keep the lowest
    doc_id. One shuffle on the 128-bit key; at 100 TB the md5 is computed
    in the scan stage and skew is impossible (hash keys)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_key"))
        .agg(
            F.min_by("doc_id", "doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("content_key")
    )


@register(
    "k02_dedup_normalized",
    survey_id="K2",
    category="llm-dedup",
    oracle="""
WITH canon AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))),
           ' ')) AS canon_key
  FROM documents
)
SELECT canon_key,
       ARG_MIN(doc_id, doc_id) AS keeper_doc_id,
       COUNT(*) AS n_members
FROM canon GROUP BY canon_key
HAVING COUNT(*) > 1
ORDER BY canon_key
""",
)
def k02_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized dedup: lowercase, whitespace-collapse, then canonical
    token-SET form (sorted distinct tokens) — catches reordered/repeated
    word-soup duplicates that exact hashing misses. Returns only groups
    that actually collapse."""
    d = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    canon = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(normalized, " "))), " "
        )
    )
    return (
        d.groupBy(canon.alias("canon_key"))
        .agg(
            F.min_by("doc_id", "doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_members"),
        )
        .where(F.col("n_members") > 1)
        .orderBy("canon_key")
    )


@register(
    "k03_token_shingles",
    survey_id="K3",
    category="llm-dedup",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       list_transform(generate_series(1, len(toks) - 2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
FROM t WHERE doc_id % 10 = 0 ORDER BY doc_id
""",
)
def k03_token_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-token shingles via an index-transform (order-preserving, no
    explode/re-group round trip)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    toks = F.split("text", " ")
    t = d.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.transform(
            seq1(F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("toks", i),
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
            ),
        ).alias("shingles"),
    ).orderBy("doc_id")


_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang, a.source,
         len(list_intersect(a.ts, b.ts)) AS n_common,
         len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS n_union
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, lang, source,
       CAST(n_common AS DOUBLE) / n_union AS jaccard
FROM pairs
WHERE CAST(n_common AS DOUBLE) / n_union >= 0.8
ORDER BY doc_a, doc_b
"""


@register(
    "k04_jaccard_pairs",
    survey_id="K4",
    category="llm-dedup",
    oracle=_JACCARD_ORACLE,
)
def k04_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard similarity with J ≥ 0.8, blocked by
    (lang, source, SIZE BAND). The size band is the exactness-preserving
    second blocking key: J(A,B) ≥ τ forces |A|/|B| ∈ [τ, 1/τ] (J ≤
    min/max), so with τ = 4/5 each doc can only pair with docs whose
    distinct-token count lies in the INTEGER interval
    [ceil(4·sz/5), floor(5·sz/4)] — computed with integer arithmetic so
    no float rounding can exclude a boundary pair (e.g. sizes 12 vs 15
    give exactly J = 0.8 when nested). Docs are keyed by
    band = floor(log_{1.25} sz); the probe side explodes to every band
    its partner interval can occupy (bands are monotone in sz, so the
    band range of the interval endpoints covers all partners — usually
    2-3 bands). The join is a pure equi-join on (lang, source, band):
    at 100 TB the shuffle key now separates short docs from long ones
    inside every (lang, source) block, cutting candidate pairs by the
    corpus's length spread instead of relying on low-cardinality labels
    alone. Result set is IDENTICAL to plain (lang, source) blocking —
    the oracle keeps the simple formulation. Integer intersect/union
    counts divide to bit-identical doubles in both engines."""
    # repartition: the documents table is one parquet split locally, so
    # tokenization would run on one task; the checkpoint materializes
    # the token table once instead of recomputing it on BOTH sides of
    # the self-join (at real scale: many splits, and a shuffle-free
    # reuse of the same materialized table).
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))

    def band_of(c):
        # floor(log_1.25(sz)): same monotone fp expression on both sides,
        # so band(x) <= band(y) whenever x <= y — the probe range below
        # stays exact under any ulp placement.
        return F.floor(
            F.log(c.cast("double")) / F.log(F.lit(1.25))
        ).cast("int")

    t = pin(d.select(
        "doc_id", "lang", "source", toks.alias("ts"), F.size(toks).alias("sz")
    ))
    build = t.withColumn("band", band_of(F.col("sz")))
    # Integer-exact partner-size interval for tau = 4/5.
    lo = F.floor((4 * F.col("sz") + 4) / 5).cast("int")  # ceil(4*sz/5)
    hi = F.floor(5 * F.col("sz") / 4).cast("int")
    probe = t.withColumn(
        "pband", F.explode(F.sequence(band_of(lo), band_of(hi)))
    )
    a = probe.alias("a")
    b = build.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    n_union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - n_common
    jac = n_common.cast("double") / n_union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.pband") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.source").alias("source"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


def exact_jaccard_pairs(
    t: DataFrame, threshold: float, df_cap: int
) -> DataFrame:
    """EXACT J >= threshold pair set via an inverted shingle index, with
    a DOCUMENT-FREQUENCY CAP as the production relief valve.

    ``t`` carries (doc_id, ts: array<string> of distinct shingles).
    Cost is Σ_shingle df² — dominated at corpus scale by boilerplate
    shingles (headers, licence lines) whose df can reach 10⁶ and whose
    df² would be 10¹² candidate rows. Shingles with df > df_cap are
    anti-joined OUT of the index before the self-join (the hot set is
    tiny, so it broadcasts), bounding the join at Σ min(df, cap)².

    Accounting: set sizes (na, nb) stay UNCAPPED, so a capped-out
    shingle can only LOWER a pair's computed J — pairs can leave the
    result but never enter it (one-sided error, property-tested in
    tests/test_dedup_props.py). With df_cap above the corpus's max
    df the result is exactly the uncapped exact set.
    """
    g = t.select("doc_id", F.explode("ts").alias("sh"))
    hot = (
        g.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("sh")
    )
    g = g.join(F.broadcast(hot), "sh", "left_anti")
    sizes = t.select("doc_id", F.size("ts").alias("n"))
    common = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnRenamed("n", "na")),
            F.col("doc_a") == F.col("doc_id"),
        )
        .drop("doc_id")
        .join(
            F.broadcast(sizes.withColumnRenamed("n", "nb")),
            F.col("doc_b") == F.col("doc_id"),
        )
        .drop("doc_id")
        .where(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )


@register(
    "k05_minhash_lsh",
    survey_id="K5",
    category="llm-dedup",
    mode="bounded",
    oracle="SELECT TRUE AS all_found_above_threshold, TRUE AS recall_ok",
)
def k05_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash-LSH over 3-TOKEN SHINGLES, on the
    FULL corpus (the r2 1-in-5 sample is gone — verdict next-round #4).

    The r2 degeneracy was the feature space, not the data volume: the
    synthetic vocabulary has 31 tokens, so unigram Jaccard marks >50% of
    ALL doc pairs as "J >= 0.6 near-dups" (measured 71k of 125k pairs at
    sf0.01) — an O(n²) OUTPUT no algorithm can make sub-quadratic.
    3-token shingles diversify the feature space from the data itself
    (~vocab³ combinations): 91% of pairs share ZERO shingles (MinHash
    can never collide them), the planted near-dups separate cleanly
    (25 pairs >= 0.6 at sf0.01, 256 at sf0.1, nothing in [0.3, 0.6)),
    and shingling is exactly what production near-dup pipelines hash.

    Declared bounds: (1) every reported pair has feature-space J >= 0.6
    (approxSimilarityJoin post-filters on exact key distance —
    precision 1 by construction); (2) recall >= 0.8 against the EXACT
    J >= 0.6 pair set computed by an inverted-index join: explode
    shingles, equi-join on the shingle, count common shingles per pair,
    then Jaccard from the per-doc set sizes. The exact side is global —
    r2's (lang, source) blocking is wrong for this corpus: only 1 of 25
    true pairs at sf0.01 (4 of 256 at sf0.1) share lang AND source, so
    the blocked baseline was nearly vacuous. The inverted index runs
    through :func:`exact_jaccard_pairs` with df_cap=1000 — the cap is
    IMPLEMENTED (boilerplate shingles with df > 1000 are anti-joined
    out of the probe, bounding the join at Σ min(df, cap)²), and
    provably inactive at bench scales (measured max df: 7 at sf0.01,
    25 at sf0.1), so the baseline here is the true exact set while the
    100 TB relief valve is real code, not a comment."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # repartition: the documents table is one parquet split locally, so
    # shingling would serialize onto one task (no-op at real scale).
    # localCheckpoints: the shingle table and TF vectors materialize
    # once instead of recomputing per action.
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    shingles = F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                seq1(F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    t = pin(d.select("doc_id", shingles.alias("ts")))
    tf = HashingTF(
        inputCol="ts", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(t.where(F.size("ts") > 0))
    # 3 hash tables (r3, was 5): the true pairs sit at J >= 0.8, where a
    # per-pair miss needs all three minhashes to disagree (p <= 0.2^3 =
    # 0.8%); measured recall stays 1.000 at both sfs while the
    # band-explode and candidate volume drop 40%.
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=3, seed=42
    )
    model = mh.fit(feats)
    # Slim the join inputs to (doc_id, features): shingle arrays must
    # not ride the band-explode shuffle.
    slim = pin(feats.select("doc_id", "features"))
    found = pin(
        model.approxSimilarityJoin(slim, slim, 0.4, distCol="jdist")
        .where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (F.lit(1.0) - F.col("jdist")).alias("jaccard"),
        )
    )
    all_above = (
        found.where(F.col("jaccard") < 0.6 - 1e-12).count() == 0
    )
    # Exact J >= 0.6 pair set via the df-capped inverted index (global,
    # unblocked; cap inactive at these scales — see docstring).
    exact = exact_jaccard_pairs(t, threshold=0.6, df_cap=1000)
    # One pass computes both counts (r3, was a count + a semi-join
    # count): left-join the found set and fold hits in the same agg.
    row = (
        exact.join(
            found.select("doc_a", "doc_b").withColumn("hit", F.lit(1)),
            ["doc_a", "doc_b"],
            "left",
        )
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
        .head()
    )
    n_exact, n_hit = row["n_exact"], row["n_hit"] or 0
    recall_ok = n_exact == 0 or (n_hit / n_exact) >= 0.8
    return spark.createDataFrame(
        [(bool(all_above), bool(recall_ok))],
        "all_found_above_threshold boolean, recall_ok boolean",
    )


# Engine-portable MinHash-LSH parameters: 12 md5-derived minhashes in
# 6 bands of 2. At J = 0.6 a band agrees w.p. 0.36 (expected recall
# ~93%) — but recall does NOT gate correctness here: the oracle
# replicates the identical md5 minhashes and banding, so Spark and
# DuckDB compute the SAME candidate set and the query is hash-checkable
# end-to-end (unlike k05's MLlib MinHash, whose internal seeds are not
# SQL-replicable and which therefore declares bounds).
_PMH_SEEDS = 12
_PMH_BAND = 2

# shared by ext_minhash_lsh_portable (batch) and i42_stream_minhash_neardup
# (streaming ingest) — the streaming result must hash-match the SAME SQL.
_PMH_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, GREATEST(len(s) - 2, 0)),
           i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS ts
  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
),
hashed AS (
  SELECT doc_id, g.seed,
         CAST(('0x' || substr(md5(g.seed || ':' || tok), 1, 12)) AS BIGINT)
           AS h
  FROM (SELECT doc_id, UNNEST(ts) AS tok FROM t)
  CROSS JOIN generate_series(0, {_PMH_SEEDS - 1}) AS g(seed)
),
mins AS (
  SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {_PMH_BAND} AS band_id,
         MIN(CASE WHEN seed % {_PMH_BAND} = 0 THEN mh END) AS v1,
         MIN(CASE WHEN seed % {_PMH_BAND} = 1 THEN mh END) AS v2
  FROM mins GROUP BY doc_id, seed // {_PMH_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.v1 = b.v1 AND a.v2 = b.v2
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
           / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))
           AS jaccard
  FROM cand JOIN t ta ON cand.doc_a = ta.doc_id
            JOIN t tb ON cand.doc_b = tb.doc_id
)
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b
"""


def pmh_shingles(text) -> "F.Column":
    """Distinct 3-token shingles of a single-space text column — the
    portable-MinHash feature set (empty array below 3 tokens)."""
    toks = F.split(text, " ")
    return F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                seq1(F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def pmh_band_structs(ts) -> "F.Column":
    """ROW-LOCAL portable-MinHash banding: for each seed j the minhash
    is min over the shingle array of the md5-derived 48-bit integer —
    an array_min over a transform, no explode, no shuffle — banded into
    _PMH_SEEDS/_PMH_BAND structs of (band_id, v1, v2).  Identical
    values to the batch explode->groupBy formulation (min over the same
    set commutes); this shape is what a stateless per-row stage (e.g. a
    streaming ingest map) needs."""

    def mh(seed: int):
        return F.array_min(
            F.transform(
                ts,
                lambda tok: F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{seed}:"), tok)), 1, 12
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        )

    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                mh(b * _PMH_BAND).alias("v1"),
                mh(b * _PMH_BAND + 1).alias("v2"),
            )
            for b in range(_PMH_SEEDS // _PMH_BAND)
        ]
    )


@register(
    "ext_minhash_lsh_portable",
    survey_id="EXT-MINHASH-PORT",
    category="llm-dedup",
    oracle=_PMH_ORACLE,
)
def ext_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch engine-portable MinHash-LSH near-dup pipeline,
    HASH-CHECKABLE end to end: minhash_j(doc) = min over 3-token
    shingles of an md5-derived 48-bit integer keyed by seed j; 6 bands
    of 2 minhashes are the LSH keys; candidate pairs sharing any band
    are verified with exact integer-arithmetic Jaccard at tau = 0.6.
    Because the hash is md5 (bit-identical in both engines), the oracle
    reproduces the ENTIRE pipeline — candidates included — so this
    query hash-matches rather than bounds-checks; the ~93% per-pair
    band recall at the threshold is a property of the declared
    semantics, identical on both sides.

    Scale shape: shingle explode → (doc, seed) min-combine (map-side
    combined, the corpus's one fan-out shuffle), band rows are 6 skinny
    rows per doc, the candidate join is an equi-join on
    (band_id, v1, v2), and only candidate pairs ever touch the shingle
    arrays again (two id-keyed joins)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    shingles = F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                seq1(F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    t = pin(d.select("doc_id", shingles.alias("ts")))
    hashed = (
        t.select("doc_id", F.explode("ts").alias("tok"))
        .select(
            "doc_id",
            "tok",
            F.explode(
                F.array(*[F.lit(i) for i in range(_PMH_SEEDS)])
            ).alias("seed"),
        )
        .select(
            "doc_id",
            "seed",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("seed").cast("string"),
                            F.lit(":"),
                            F.col("tok"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    mins = hashed.groupBy("doc_id", "seed").agg(F.min("h").alias("mh"))
    bands = mins.groupBy(
        "doc_id", (F.col("seed") / _PMH_BAND).cast("int").alias("band_id")
    ).agg(
        F.min(F.when(F.col("seed") % _PMH_BAND == 0, F.col("mh"))).alias("v1"),
        F.min(F.when(F.col("seed") % _PMH_BAND == 1, F.col("mh"))).alias("v2"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    n_common = F.size(F.array_intersect(F.col("ta.ts"), F.col("tb.ts")))
    n_union = F.size(F.col("ta.ts")) + F.size(F.col("tb.ts")) - n_common
    return (
        cand.join(t.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(t.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (n_common.cast("double") / n_union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.6)
        .orderBy("doc_a", "doc_b")
    )


def _hexval(c: Column) -> Column:
    """Hex char → 0..15 using the engine-portable strpos trick."""
    return F.instr(F.lit("0123456789abcdef"), c) - 1


def simhash_fingerprints(
    spark: SparkSession, sf_dir: str, nbits: int, colname: str
) -> DataFrame:
    """(doc_id, <colname>) SimHash fingerprints of width `nbits` over
    distinct tokens of the doc_id%10==0 document slice: bit j of
    md5(token) votes ±1; the sign of each bit-position's total forms the
    fingerprint (bit 0 = MSB). Built on md5 hex so any engine sees
    identical bits; integer votes ⇒ exact. Shared by `ext_simhash`
    (nbits=16) and `ext_simhash64_banded_pairs` (nbits=64) and the
    scale-ladder band-candidate counters."""
    assert 1 <= nbits <= 64
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).select("doc_id", F.md5("tok").alias("h"))
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(nbits - 1))).alias("i"),
        "h",
    )
    bit_val = (
        _hexval(F.substring(F.col("h"), (F.col("i") / 4).cast("int") + 1, 1))
        .cast("int")
        .bitwiseAND(F.expr("shiftleft(1, 3 - (i % 4))"))
        > 0
    )
    votes = bits.groupBy("doc_id", "i").agg(
        F.sum(F.when(bit_val, 1).otherwise(-1)).alias("vote")
    )
    # For nbits=64, bit 0 set means shiftleft(1L, 63) = Long.MIN_VALUE in
    # two's complement — well-defined in the JVM; fingerprints are only
    # ever XOR'd, banded, and popcounted, never ordered or summed.
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("vote") > 0,
                F.expr(f"shiftleft(cast(1 as bigint), {nbits - 1} - i)"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias(colname)
    )


def simhash_band_pairs(sims: DataFrame, col: str, nbands: int, band_bits: int):
    """(bands, candidate_pairs) of the pigeonhole band join over SimHash
    fingerprints: `bands` is the posexploded (doc_id, fingerprint,
    band_id, band_val) table; `candidate_pairs` the distinct candidate
    set from the equi-join on (band_id, band_val). Recall is exactly 1
    for hamming <= nbands - 1 (that many flips leave >= 1 band intact)."""
    bands = sims.select(
        "doc_id",
        col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(col), b * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    for b in range(nbands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col(f"a.{col}").alias("sim_a"),
            F.col(f"b.{col}").alias("sim_b"),
        )
        .distinct()
    )
    return bands, cand


@register(
    "ext_simhash",
    survey_id="EXT-SIMHASH",
    category="llm-dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id % 10 = 0
),
bits AS (
  SELECT doc_id, md5(tok) AS h FROM toks
),
votes AS (
  SELECT doc_id,
         i,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1)
                        // CAST(POWER(2, 3 - i % 4) AS INTEGER)) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM bits, generate_series(0, 15) AS g(i)
  GROUP BY doc_id, i
)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0 THEN CAST(POWER(2, 15 - i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash16
FROM votes GROUP BY doc_id ORDER BY doc_id
""",
)
def ext_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct tokens: bit j of md5(token) votes ±1;
    the sign of each bit-position's total forms the fingerprint. Built on
    md5 hex (not engine-native hash functions) so both engines see
    identical bits. Integer votes ⇒ exact."""
    return simhash_fingerprints(spark, sf_dir, 16, "simhash16").orderBy(
        "doc_id"
    )


@register(
    "ext_char_ngram_jaccard",
    survey_id="EXT-NGRAM",
    category="llm-dedup",
    oracle="""
WITH grams AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(
           list_transform(generate_series(1, LENGTH(text) - 3),
                          i -> substr(text, i, 4)))) AS gs
  FROM documents WHERE doc_id % 5 = 0
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.gs, b.gs)) AS n_common,
         len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS n_union
  FROM grams a JOIN grams b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(n_common AS DOUBLE) / n_union AS ngram_jaccard
FROM pairs WHERE CAST(n_common AS DOUBLE) / n_union >= 0.6
ORDER BY doc_a, doc_b
""",
)
def ext_char_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 4-gram Jaccard near-dup (robust to token boundaries),
    blocked by (lang, source), sampled to every 5th doc. The gram table
    is built once across spread() partitions and localCheckpointed: the
    4-gram transform is the per-row heavy stage, and without the cut the
    self-join re-derives it on both sides of the 1-split scan."""
    d = spread(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    )
    grams = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 3),
                lambda i: F.substring(F.col("text"), i, 4),
            )
        )
    )
    t = pin(d.select(
        "doc_id", "lang", "source", grams.alias("gs")
    ))
    a = t.alias("a")
    b = t.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.gs"), F.col("b.gs")))
    n_union = F.size(F.col("a.gs")) + F.size(F.col("b.gs")) - n_common
    jac = n_common.cast("double") / n_union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("ngram_jaccard"),
        )
        .where(F.col("ngram_jaccard") >= 0.6)
        .orderBy("doc_a", "doc_b")
    )


_CLUSTER_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
),
edges AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
),
reach(node, anc) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst AS node, r.anc FROM reach r JOIN edges e ON e.src = r.node
),
lbl AS (SELECT node, MIN(anc) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY cluster_id)
SELECT l.node AS doc_id,
       l.cluster_id,
       l.node = l.cluster_id AS is_keeper,
       s.cluster_size
FROM lbl l JOIN sizes s USING (cluster_id)
ORDER BY doc_id
"""


@register(
    "ext_dedup_clusters",
    survey_id="EXT-CC",
    category="llm-dedup",
    oracle=_CLUSTER_ORACLE,
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the exact
    blocked J >= 0.8 pair graph (K4's edges), so each near-dup group gets
    ONE keeper (the min doc_id of its component) instead of a bag of
    pairs. Iterative min-label propagation: each round joins labels to
    the symmetrized edge list and takes the per-vertex min of self and
    neighbor labels, until a fixpoint. Rounds = graph diameter; near-dup
    clusters are dense and shallow, so this converges in a handful of
    shuffles keyed by doc_id. localCheckpoint truncates the growing plan
    lineage each round (the standard iterative-algorithm discipline; at
    100 TB swap in the large-star/small-star variant, which contracts
    high-degree vertices in O(log n) rounds). Oracle: DuckDB recursive
    CTE computing min reachable id per vertex.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    t = d.select("doc_id", "lang", "source", toks.alias("ts"))
    a = t.alias("a")
    b = t.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    n_union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - n_common
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(n_common.cast("double") / n_union >= 0.8)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    edges = pin(pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    labels = pin(d.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    ))
    while True:
        prop = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("pnode"))
            .agg(F.min("label").alias("plabel"))
        )
        new_labels = pin(
            labels.join(prop, labels["node"] == prop["pnode"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("plabel", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sizes = labels.groupBy(F.col("label").alias("slabel")).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        labels.join(sizes, labels["label"] == sizes["slabel"])
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            (F.col("node") == F.col("label")).alias("is_keeper"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


@register(
    "ext_cc_two_phase",
    survey_id="EXT-CC-2PHASE",
    category="llm-dedup",
    oracle=_CLUSTER_ORACLE,
)
def ext_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the O(log n)-round algorithm EXT-CC's docstring names
    as the 100 TB path, now implemented: unlike min-label propagation
    (rounds = graph diameter), star contraction hangs every vertex off
    its neighborhood minimum and provably converges in O(log n) rounds
    of doc_id-keyed shuffles, independent of chain length.

    Each round is two keyed aggregations over the edge multiset:
      large-star: symmetrize; per vertex u with m = min(N(u) ∪ {u}),
        rewire every LARGER neighbor v > u to (v, m);
      small-star: edges canonically (hi, lo); per hi with m = min(lo),
        rewire the smaller neighbors and hi itself to m.
    The edge set is a fixpoint exactly when it is a union of stars
    rooted at component minima; labels then read off one hash join.
    The algorithm lives in `operators/graph.py:connected_components`
    (fixpoint screened by a one-pass count+hash signature, confirmed by
    an exact set comparison). Semantics validated against union-find on
    random graphs (tests/test_graph_cc.py, Spark-level) and against the
    same DuckDB recursive-CTE oracle as EXT-CC — identical output
    contract, different algorithm.

    Edges: k04's size-banded exact-Jaccard pairs at J >= 0.8 (the
    oracle's edge definition is identical — banding changes candidate
    generation, not the pair set)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))

    def band_of(c):
        return F.floor(
            F.log(c.cast("double")) / F.log(F.lit(1.25))
        ).cast("int")

    # r11 perf (guide §2.3/§5): materialize the tokenized frame ONCE —
    # both sides of the band self-join used to re-split and re-sort the
    # text (the probe side additionally under an explode); repartition
    # first so the row-local split/sort spreads over every core instead
    # of the table's single local parquet split (no-op at real scale).
    t = pin(
        d.select(
            "doc_id", "lang", "source", toks.alias("ts"),
            F.size(toks).alias("sz"),
        )
        .transform(spread)
    )
    build = t.withColumn("band", band_of(F.col("sz")))
    lo_b = F.floor((4 * F.col("sz") + 4) / 5).cast("int")
    hi_b = F.floor(5 * F.col("sz") / 4).cast("int")
    probe = t.withColumn(
        "pband", F.explode(F.sequence(band_of(lo_b), band_of(hi_b)))
    )
    a, b = probe.alias("a"), build.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    n_union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - n_common
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.pband") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(n_common.cast("double") / n_union >= 0.8)
        # canonical orientation (hi, lo): doc_a < doc_b by construction
        .select(F.col("b.doc_id").alias("hi"), F.col("a.doc_id").alias("lo"))
        .distinct()
    )

    from nibbler_spark.operators.graph import connected_components

    comp = connected_components(pairs)
    labels = (
        d.select(F.col("doc_id").alias("node"))
        .join(comp, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node")).alias("cluster_id"),
        )
    )
    sizes = labels.groupBy(F.col("cluster_id").alias("sid")).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        labels.join(sizes, labels["cluster_id"] == sizes["sid"])
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


_PAGERANK_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
),
edges AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r FROM nodes
),
r1 AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * CAST(SUM(CAST(r.r / deg.d AS DECIMAL(28,18))) AS DOUBLE) AS r
  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * CAST(SUM(CAST(r.r / deg.d AS DECIMAL(28,18))) AS DOUBLE) AS r
  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * CAST(SUM(CAST(r.r / deg.d AS DECIMAL(28,18))) AS DOUBLE) AS r
  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)
SELECT node AS doc_id, CAST(CAST(r AS DECIMAL(18,12)) AS DOUBLE) AS pagerank
FROM r3 ORDER BY doc_id
"""


@register(
    "ext_pagerank",
    survey_id="EXT-PAGERANK",
    category="llm-dedup",
    oracle=_PAGERANK_ORACLE,
)
def ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed power iterations, damping 0.85) over the
    symmetrized near-dup graph — ranks the most-connected documents
    inside duplicate neighborhoods (a centrality-based keeper choice,
    complementing EXT-CC's min-id choice). Each iteration is one
    edges⋈ranks join + a dst-keyed partial-aggregated sum; lineage is cut
    per round with localCheckpoint. Determinism discipline: per-edge
    contributions are computed in double on identical operands, cast to
    DECIMAL(28,18) so the SUM is order-independent, and the damping
    arithmetic stays in double — making three full iterations
    bit-reproducible in both engines (final value rounded through
    DECIMAL(18,12)). At 100 TB this is the standard O(E/p)-per-round
    pattern; the oracle unrolls the same three iterations as CTEs."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    t = d.select("doc_id", "lang", "source", toks.alias("ts"))
    a, b = t.alias("a"), t.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    n_union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - n_common
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(n_common.cast("double") / n_union >= 0.8)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    edges = pin(pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    ranks = pin(nodes.withColumn("r", F.lit(1.0 / n)))
    for _ in range(3):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("cnode"),
                (F.col("r") / F.col("d")).cast("decimal(28,18)").alias("c"),
            )
        )
        ranks = pin(
            contrib.groupBy(F.col("cnode").alias("node"))
            .agg(
                (
                    F.lit(0.15 / n)
                    + F.lit(0.85) * F.sum("c").cast("double")
                ).alias("r")
            )
        )
    return ranks.select(
        F.col("node").alias("doc_id"),
        F.col("r").cast("decimal(18,12)").cast("double").alias("pagerank"),
    ).orderBy("doc_id")


@register(
    "ext_simhash_banded_pairs",
    survey_id="EXT-SIMHASH-PAIRS",
    category="llm-dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id % 10 = 0
),
bits AS (
  SELECT doc_id, md5(tok) AS h FROM toks
),
votes AS (
  SELECT doc_id,
         i,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1)
                        // CAST(POWER(2, 3 - i % 4) AS INTEGER)) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM bits, generate_series(0, 15) AS g(i)
  GROUP BY doc_id, i
),
sims AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN CAST(POWER(2, 15 - i) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS simhash16
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
ORDER BY doc_a, doc_b
""",
)
def ext_simhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming distance <= 3 via 4-band
    pigeonhole blocking: the 16-bit fingerprint splits into four 4-bit
    bands; 3 bit-flips can touch at most 3 bands, so every qualifying
    pair shares at least one intact band — candidates come from an
    EQUI-join on (band_id, band_value) with recall exactly 1 (which is
    why this gets a hash oracle against the exact pairwise set, unlike
    probabilistic LSH's bounded check). At 100 TB the band join is the
    whole point: candidates ~ bucket collisions, never n^2 — BUT the
    16-bit fingerprint space (pinned by this oracle) saturates at large
    corpora, making the hamming<=3 OUTPUT itself quadratic; the scale
    path is `ext_simhash64_banded_pairs` (measured on the r5 ladder)."""
    sims = ext_simhash(spark, sf_dir)
    _, cand = simhash_band_pairs(sims, "simhash16", nbands=4, band_bits=4)
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.where(hamming <= 3)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ext_simhash64_banded_pairs",
    survey_id="EXT-SIMHASH64-PAIRS",
    category="llm-dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id % 10 = 0
),
bits AS (
  SELECT doc_id, md5(tok) AS h FROM toks
),
votes AS (
  SELECT doc_id,
         i,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + i // 4, 1)) - 1)
                        // CAST(POWER(2, 3 - i % 4) AS INTEGER)) % 2 = 1
                  THEN 1 ELSE -1 END) > 0 AS bit
  FROM bits, generate_series(0, 63) AS g(i)
  GROUP BY doc_id, i
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
FROM votes a JOIN votes b ON a.i = b.i AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3
ORDER BY doc_a, doc_b
""",
)
def ext_simhash64_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs at hamming <= 3 — the SCALE PATH for
    `ext_simhash_banded_pairs`. The 16-bit variant is pinned by its
    oracle to a 65,536-value fingerprint space, which a 50k-doc corpus
    saturates: candidate pairs (and true hamming<=3 pairs) grow ~n^2 —
    measured super-linear on the r5 scale ladder, intrinsically. This
    variant takes the first 16 hex chars of md5(token) (64 vote bits),
    so fingerprint collisions among non-near-dups are ~0 at any corpus
    size that fits on a cluster: expected bucket occupancy per 16-bit
    band is n/65536 per band value, and hamming<=3 survivors are the
    genuine near-dups — output ~ n, candidates ~ n + n^2/65536 per
    band. Banding is 4 x 16 bits: 3 bit flips touch at most 3 bands, so
    every qualifying pair shares an intact band — recall exactly 1,
    equi-join on (band_id, band_val), never all-pairs. The oracle
    avoids 64-bit integer portability entirely by joining per-bit vote
    signs (a.i = b.i) and counting sign disagreements; Spark computes
    the same hamming JVM-side via XOR + bit_count on one BIGINT.
    Integer votes => exact, both engines see identical md5 bits."""
    sims = simhash_fingerprints(spark, sf_dir, 64, "simhash64")
    _, cand = simhash_band_pairs(sims, "simhash64", nbands=4, band_bits=16)
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.where(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ext_dedup_keep_best",
    survey_id="EXT-KEEP-BEST",
    category="llm-dedup",
    oracle="""
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
),
edges AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
),
reach(node, anc) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst AS node, r.anc FROM reach r JOIN edges e ON e.src = r.node
),
lbl AS (SELECT node AS doc_id, MIN(anc) AS cluster_id FROM reach GROUP BY node),
qual AS (
  SELECT doc_id,
         ROUND(0.4 * LEAST(LENGTH(text) / 500.0, 1.0)
               + 0.4 * (CAST(len(list_filter(string_split(text, ' '),
                             w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
                        / len(string_split(text, ' ')))
               + 0.2 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                             w -> LENGTH(w) >= 8)) AS DOUBLE)
                        / len(string_split(text, ' '))), 4) AS quality
  FROM documents
),
ranked AS (
  SELECT l.cluster_id, l.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.quality DESC, l.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
  FROM lbl l JOIN qual q USING (doc_id)
)
SELECT cluster_id, doc_id AS keeper_doc_id, quality AS keeper_quality,
       cluster_size
FROM ranked WHERE rn = 1
ORDER BY cluster_id
""",
)
def ext_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation dedup semantic: duplicate clusters from
    connected components (EXT-CC), then ONE keeper per cluster — the
    highest-QUALITY member (EXT-QUALITY's blended score; ties to the
    lowest doc_id) instead of the arbitrary min-id. This is what
    production pipelines actually ship: near-dup groups collapse to
    their best representative. Composes the two registered queries
    directly; the extra cost over EXT-CC is one quality projection and
    one cluster-keyed window."""
    from nibbler_spark.queries.llm_text import ext_quality_score
    from pyspark.sql import Window

    clusters = ext_dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    qual = ext_quality_score(spark, sf_dir).select("doc_id", "quality")
    joined = clusters.join(qual, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ws = Window.partitionBy("cluster_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(ws))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("quality").alias("keeper_quality"),
            "cluster_size",
        )
        .orderBy("cluster_id")
    )


@register(
    "ext_two_hop_neighbors",
    survey_id="EXT-2HOP",
    category="llm-dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
),
edges AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
),
two_hop AS (
  SELECT e1.src AS node, e2.dst AS nbr
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
  WHERE e2.dst <> e1.src
)
SELECT node AS doc_id,
       COUNT(DISTINCT nbr) AS n_two_hop,
       (SELECT COUNT(*) FROM edges e WHERE e.src = t.node) AS degree
FROM two_hop t GROUP BY node ORDER BY doc_id
""",
)
def ext_two_hop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood size per node of the near-dup graph (friends
    of friends, excluding self) next to direct degree — the expansion
    statistic that distinguishes tight duplicate cliques (2-hop ≈
    degree) from chain-like clusters (2-hop >> degree), guiding whether
    transitive dedup (EXT-CC) is safe or over-merges. One self-join of
    the edge list keyed on the middle vertex — at scale, exactly the
    triangle/path-enumeration shape, bounded by Σ deg²."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    t = d.select("doc_id", "lang", "source", toks.alias("ts"))
    a, b = t.alias("a"), t.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    n_union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - n_common
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(n_common.cast("double") / n_union >= 0.8)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    edges = pin(pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    two_hop = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .where(F.col("e2.dst") != F.col("e1.src"))
        .select(F.col("e1.src").alias("node"), F.col("e2.dst").alias("nbr"))
    )
    deg = edges.groupBy(F.col("src").alias("d_node")).agg(
        F.count("*").alias("degree")
    )
    return (
        two_hop.groupBy("node")
        .agg(F.count_distinct("nbr").alias("n_two_hop"))
        .join(deg, F.col("node") == F.col("d_node"))
        .select(F.col("node").alias("doc_id"), "n_two_hop", "degree")
        .orderBy("doc_id")
    )


@register(
    "ext_dedup_audit_report",
    survey_id="EXT-DEDUP-AUDIT",
    category="llm-dedup",
    oracle="""
SELECT lang, source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_exact_unique,
       CAST(CAST(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
            AS DECIMAL(18,10)) AS DOUBLE) AS exact_dup_rate,
       COUNT(DISTINCT md5(array_to_string(
         list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')))
         AS n_norm_unique
FROM documents
GROUP BY lang, source
ORDER BY lang, source
""",
)
def ext_dedup_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup audit: per (lang, source) stratum, exact and
    normalized unique counts with the exact-duplicate rate — the
    dashboard rollup a curation run publishes before and after dedup.
    One grouped pass; the distinct counts are the only expansion, and
    both key on the already-grouped stratum."""
    d = load_table(spark, sf_dir, "documents")
    norm_key = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), " "))
            ),
            " ",
        )
    )
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_exact_unique"),
            (
                F.lit(1.0)
                - F.countDistinct(F.md5("text")).cast("double")
                / F.count("*")
            )
            .cast("decimal(18,10)")
            .cast("double")
            .alias("exact_dup_rate"),
            F.countDistinct(norm_key).alias("n_norm_unique"),
        )
        .orderBy("lang", "source")
    )


@register(
    "ext_minhash_signatures",
    survey_id="EXT-MINHASH-EXACT",
    category="llm-dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id % 4 = 0
),
hashes AS (
  SELECT t.doc_id, s.seed,
         MIN(md5(CAST(s.seed AS VARCHAR) || ':' || t.tok)) AS mh
  FROM toks t, generate_series(0, 7) AS s(seed)
  GROUP BY t.doc_id, s.seed
)
SELECT doc_id,
       MAX(CASE WHEN seed = 0 THEN mh END) AS mh0,
       MAX(CASE WHEN seed = 1 THEN mh END) AS mh1,
       MAX(CASE WHEN seed = 2 THEN mh END) AS mh2,
       MAX(CASE WHEN seed = 3 THEN mh END) AS mh3,
       MAX(CASE WHEN seed = 4 THEN mh END) AS mh4,
       MAX(CASE WHEN seed = 5 THEN mh END) AS mh5,
       MAX(CASE WHEN seed = 6 THEN mh END) AS mh6,
       MAX(CASE WHEN seed = 7 THEN mh END) AS mh7
FROM hashes GROUP BY doc_id ORDER BY doc_id
""",
)
def ext_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash from first principles: 8 hash functions realized as
    md5(seed:token), signature component = min hash per seed. Built on
    md5 (engine-identical bits) instead of library hash functions, so —
    unlike K5's seeded MLlib MinHashLSH, which gets a bounded check —
    the entire signature matrix is hash-oracle-checked exactly. The
    signature computation is one explode + one (doc, seed)-keyed min
    aggregate; P[mh_a = mh_b] = Jaccard(a, b) is the estimator LSH
    banding then exploits."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    seeds = toks.crossJoin(
        F.broadcast(spark.range(0, 8).select(F.col("id").alias("seed")))
    )
    hashes = seeds.groupBy("doc_id", "seed").agg(
        F.min(
            F.md5(
                F.concat(
                    F.col("seed").cast("string"), F.lit(":"), F.col("tok")
                )
            )
        ).alias("mh")
    )
    aggs = [
        F.max(F.when(F.col("seed") == i, F.col("mh"))).alias(f"mh{i}")
        for i in range(8)
    ]
    return hashes.groupBy("doc_id").agg(*aggs).orderBy("doc_id")


@register(
    "ext_record_linkage",
    survey_id="EXT-LINKAGE",
    category="llm-dedup",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey,
         substr(c_name, 10, 5) AS blk
  FROM customer
)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       a.c_nationkey AS nationkey,
       levenshtein(a.c_name, b.c_name) AS name_dist
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY custkey_a, custkey_b
""",
)
def ext_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with blocking: candidate pairs come from an
    equi-join on (nation, name-prefix block) — never a full cross join —
    then survive an edit-distance <= 1 match rule. The standard
    entity-resolution shape (blocking key recall vs candidate volume):
    at 100 TB the block key bounds every block, the self-join shuffles
    on the composite key, and levenshtein runs only inside blocks.
    Prefix blocking deliberately trades recall (a pair differing inside
    the blocked prefix is missed) for a hard candidate bound — the
    documented, tunable tradeoff of every linkage pipeline. Integer
    distances, no floats anywhere. The probe side is spread() first:
    TPC-H names make blk near-constant, so the broadcast join's whole
    levenshtein sweep otherwise runs inside the single scan task."""
    c = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.substring("c_name", 10, 5).alias("blk"),
        )
    )
    a = spread(c).alias("a")
    b = c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(dist <= 1)
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("a.c_nationkey").alias("nationkey"),
            dist.alias("name_dist"),
        )
        .orderBy("custkey_a", "custkey_b")
    )


@register(
    "ext_triangle_count",
    survey_id="EXT-TRIANGLES",
    category="llm-dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, source,
         list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
e AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
        >= 0.8
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e ab JOIN e bc ON ab.v = bc.u
            JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
       CASE WHEN (SELECT SUM(d * (d - 1)) // 2 FROM deg) > 0
            THEN 3.0 * (SELECT n_triangles FROM tri)
                 / ((SELECT SUM(d * (d - 1)) // 2 FROM deg))
            ELSE 0.0 END AS global_clustering
""",
)
def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the near-dup
    graph (Jaccard ≥ 0.8, (lang, source)-blocked edges — the
    ext_two_hop_neighbors graph), the density statistic that tells a
    dedup pipeline whether near-dup clusters are cliques (safe to
    transitively merge) or sparse chains (over-merge risk).

    Counting uses the DEGREE-ORDERED orientation: every edge points
    from its lower-(degree, id) endpoint to the higher, so each
    triangle is enumerated exactly once from its lowest-ranked vertex
    and the wedge join fans out by out-degree — bounded by O(m^1.5)
    instead of Σdeg² (the hub problem). The oracle states the same
    count from the u<v edge list; both must agree exactly. Integer
    counts divide to bit-identical doubles for the coefficient.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    t = d.select("doc_id", "lang", "source", toks.alias("ts"))
    a, b = t.alias("a"), t.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    n_union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - n_common
    pairs = pin(
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(n_common.cast("double") / n_union >= 0.8)
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
    )
    und = pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    # Orient each edge from the lower-(degree, id) endpoint.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v", "dv")
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = (
        o1.join(o2, F.col("o1.u") == F.col("o2.u"))
        .where(
            (F.col("o1.dv") < F.col("o2.dv"))
            | (
                (F.col("o1.dv") == F.col("o2.dv"))
                & (F.col("o1.v") < F.col("o2.v"))
            )
        )
        .select(F.col("o1.v").alias("x"), F.col("o2.v").alias("y"))
    )
    closure = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    ).union(
        oriented.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    n_tri = wedges.join(closure, ["x", "y"], "left_semi").count()
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    ).collect()[0]
    n_edges = pairs.count()
    n_wedges = stats["n_wedges"]
    clustering = (3.0 * n_tri / n_wedges) if n_wedges else 0.0
    return spark.createDataFrame(
        [
            (
                stats["n_nodes"],
                n_edges,
                n_tri,
                n_wedges,
                float(clustering),
            )
        ],
        "n_nodes bigint, n_edges bigint, n_triangles bigint, "
        "n_wedges bigint, global_clustering double",
    )


@register(
    "ext_paragraph_dedup",
    survey_id="EXT-PARA-DEDUP",
    category="llm-dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
  SELECT doc_id, t,
         UNNEST(range(CAST(CEIL(len(t) / 10.0) AS BIGINT))) AS ci
  FROM toks
),
chunks AS (
  SELECT doc_id, ci,
         array_to_string(t[ci * 10 + 1 : ci * 10 + 10], ' ') AS chunk_text
  FROM idx
),
kept AS (
  SELECT doc_id, ci, chunk_text
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY chunk_text ORDER BY doc_id, ci
    ) AS rk
    FROM chunks
  ) WHERE rk = 1
)
SELECT doc_id, COUNT(*) AS n_kept_chunks,
       string_agg(chunk_text, ' ' ORDER BY ci) AS deduped_text
FROM kept GROUP BY doc_id ORDER BY doc_id
""",
)
def ext_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup, the RefinedWeb /
    C4 recipe: documents are segmented into 10-token chunks, every
    chunk is deduplicated ACROSS the whole corpus keeping only its
    first occurrence (lexicographic min (doc_id, chunk_idx) — a
    deterministic keep rule, not arrival order), and each surviving
    document is reassembled from its kept chunks in order. Boilerplate
    that repeats across documents (headers, navigation, license
    blurbs) disappears from every copy but the first, while unique
    prose survives untouched; documents reduced to nothing drop out.
    Scale: segmentation is row-local; the dedup is ONE groupBy on the
    chunk text (map-side combinable, same shape as k01 but at chunk
    granularity — at 100 TB hash the chunk to a 128-bit key before the
    shuffle so the wide text stays out of the exchange); reassembly is
    a keyed collect_list per document. The oracle states the identical
    keep-first rule via a window."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    chunks = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("t") / F.lit(10.0)).cast("bigint") - 1,
            )
        ).alias("ci"),
        F.col("t"),
    ).select(
        "doc_id",
        "ci",
        F.array_join(
            F.slice("t", F.col("ci") * 10 + 1, 10), " "
        ).alias("chunk_text"),
    )
    keepers = chunks.groupBy("chunk_text").agg(
        F.min(F.struct("doc_id", "ci")).alias("k")
    ).select("chunk_text", F.col("k.doc_id").alias("doc_id"), F.col("k.ci").alias("ci"))
    kept = chunks.join(keepers, ["chunk_text", "doc_id", "ci"], "left_semi")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ci", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("deduped_text"),
        )
        .orderBy("doc_id")
    )


_LPA_ROUNDS = 3

_LPA_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
e0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM shd a, shd b, ok
  WHERE a.sh = ok.sh AND b.sh = ok.sh AND a.doc_id < b.doc_id
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
l0 AS (SELECT doc_id AS node, doc_id AS label FROM t),
r1c AS (SELECT e.src AS node, l.label, COUNT(*) AS c
        FROM edges e JOIN l0 l ON l.node = e.dst GROUP BY e.src, l.label),
r1m AS (SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY c DESC, label ASC) AS rk
          FROM r1c) WHERE rk = 1),
l1 AS (SELECT l0.node, COALESCE(r1m.label, l0.label) AS label
       FROM l0 LEFT JOIN r1m USING (node)),
r2c AS (SELECT e.src AS node, l.label, COUNT(*) AS c
        FROM edges e JOIN l1 l ON l.node = e.dst GROUP BY e.src, l.label),
r2m AS (SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY c DESC, label ASC) AS rk
          FROM r2c) WHERE rk = 1),
l2 AS (SELECT l1.node, COALESCE(r2m.label, l1.label) AS label
       FROM l1 LEFT JOIN r2m USING (node)),
r3c AS (SELECT e.src AS node, l.label, COUNT(*) AS c
        FROM edges e JOIN l2 l ON l.node = e.dst GROUP BY e.src, l.label),
r3m AS (SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY c DESC, label ASC) AS rk
          FROM r3c) WHERE rk = 1),
l3 AS (SELECT l2.node, COALESCE(r3m.label, l2.label) AS label
       FROM l2 LEFT JOIN r3m USING (node))
SELECT node AS doc_id, label AS community FROM l3 ORDER BY doc_id
"""


@register(
    "ext_label_propagation",
    survey_id="EXT-LPA",
    category="llm-dedup",
    oracle=_LPA_ORACLE,
)
def ext_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label Propagation (Raghavan et al. 2007) community detection on
    the document-similarity graph: docs are adjacent when they share a
    5-token shingle whose document frequency lies in [2, 20] (the df
    cap excises boilerplate hubs that would both blow up the pair join
    and wash out communities — the k05 df-cap lesson applied at graph
    construction). Labels start as node ids; each of 3 SYNCHRONOUS
    rounds reassigns every node the MODE of its neighbors' labels with
    ties broken toward the smallest label (min(struct(-count, label)) —
    integer-exact, so the full per-node label vector hash-matches the
    oracle's 3 unrolled CTE rounds). Isolated nodes keep their own
    label. Deterministic by construction where classic async LPA is
    run-order dependent. Scale: candidate edges come off the bounded
    inverted index (C(df,2) ≤ 190 pairs per shingle), each round is one
    keyed join + one map-side-combinable count + one argmin — the
    Pregel message-passing shape as three DataFrame ops, iteration-
    bounded with a localCheckpoint lineage cut per round."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # hash each shingle to 64 bits BEFORE the df shuffle — the inverted
    # index moves slim (doc_id, bigint) rows instead of ~30-char strings
    # (xxhash64 collisions across ~10^5 shingles are ~1e-9 — and
    # deterministic); array_distinct keeps (doc_id, sh) unique
    # ROW-LOCALLY so no distributed distinct pass is needed.  The df cap
    # is a WINDOW count over the single sh-partitioned exchange: the
    # follow-up collect_set reuses that exchange, its arrays are ≤ 20
    # elements BY the cap (a hub shingle buffers in the window's
    # spillable external sorter, never in an aggregation array), and the
    # C(df,2) pairs are generated row-locally from the sorted member
    # array — one shuffle end-to-end where the r4 build paid
    # distinct + count + cap-join + self-join (r8 constant-factor pass:
    # graph build 1.3 s -> 0.87 s of the 2.4 s clean-machine wall at
    # sf0.1; edge set identical).
    sh = spread(d).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    seq1(F.size("toks") - 4),
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ",
                            F.element_at("toks", i),
                            F.element_at("toks", i + 1),
                            F.element_at("toks", i + 2),
                            F.element_at("toks", i + 3),
                            F.element_at("toks", i + 4),
                        )
                    ),
                )
            )
        ).alias("sh"),
    )
    capped = sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("sh"))
    ).where((F.col("df") >= 2) & (F.col("df") <= 20))
    inv = capped.groupBy("sh").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    e0 = (
        inv.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ds",
                        lambda x, i: F.transform(
                            F.slice("ds", i + 2, F.size("ds")),
                            lambda y: F.struct(
                                x.alias("src"), y.alias("dst")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .distinct()
    )
    edges = pin(e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    labels = d.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        counts = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy(edges["src"].alias("n"), "label")
            .agg(F.count("*").alias("c"))
        )
        mode = (
            counts.groupBy("n")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("m"))
            .select("n", F.col("m.label").alias("new_label"))
        )
        # r11 perf: no per-round eager lineage cut — 3 bounded rounds
        # over the checkpointed edge list evaluate as one lazy DAG (the
        # pmh label loop measured the same change at -28% wall).
        labels = labels.join(mode, labels["node"] == mode["n"], "left").select(
            "node", F.coalesce("new_label", "label").alias("label")
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("community")
    ).orderBy("doc_id")


_GFP_ORACLE = """
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
           FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
e0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM shd a, shd b, ok
  WHERE a.sh = ok.sh AND b.sh = ok.sh AND a.doc_id < b.doc_id
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
f0 AS (SELECT doc_id AS node, CAST(n_chars AS BIGINT) AS f FROM t),
a1 AS (SELECT e.src AS node, CAST(SUM(l.f) AS BIGINT) AS nb_sum,
              COUNT(*) AS deg
       FROM edges e JOIN f0 l ON l.node = e.dst GROUP BY e.src),
f1 AS (SELECT f0.node,
              CAST(FLOOR(CAST(f0.f + COALESCE(a1.nb_sum, 0) AS DOUBLE)
                         / (1 + COALESCE(a1.deg, 0))) AS BIGINT) AS f
       FROM f0 LEFT JOIN a1 USING (node)),
a2 AS (SELECT e.src AS node, CAST(SUM(l.f) AS BIGINT) AS nb_sum,
              COUNT(*) AS deg
       FROM edges e JOIN f1 l ON l.node = e.dst GROUP BY e.src),
f2 AS (SELECT f1.node,
              CAST(FLOOR(CAST(f1.f + COALESCE(a2.nb_sum, 0) AS DOUBLE)
                         / (1 + COALESCE(a2.deg, 0))) AS BIGINT) AS f
       FROM f1 LEFT JOIN a2 USING (node))
SELECT f0.node AS doc_id, f0.f AS f_raw, f1.f AS f_layer1,
       f2.f AS f_layer2
FROM f0 JOIN f1 ON f1.node = f0.node JOIN f2 ON f2.node = f0.node
ORDER BY doc_id
"""


@register(
    "ext_graph_feature_propagation",
    survey_id="EXT-GNN-PROP",
    category="llm-dedup",
    oracle=_GFP_ORACLE,
)
def ext_graph_feature_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GNN-style feature propagation (the GraphSAGE-mean forward pass,
    weights = identity): two message-passing layers over the document-
    similarity graph, each computing every node's mean over {self} ∪
    neighbors — floored to the integer grid so the per-node feature
    vector is hash-exact through both layers. This is the
    label/feature-smoothing primitive behind "propagate quality
    scores to near-duplicates" in curation pipelines: a doc whose
    neighbors are high-quality inherits credit without any model. The
    graph is the same df-capped shingle construction as EXT-LPA; each
    layer is one keyed join + one map-side-combinable (sum, count) +
    one broadcast-free arithmetic projection — the Pregel superstep
    as three DataFrame ops, linear in edges."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.split("text", " ").alias("toks")
    )
    sh = pin(d.select(
        "doc_id",
        F.explode(
            F.transform(
                seq1(F.size("toks") - 4),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at("toks", i),
                        F.element_at("toks", i + 1),
                        F.element_at("toks", i + 2),
                        F.element_at("toks", i + 3),
                        F.element_at("toks", i + 4),
                    )
                ),
            )
        ).alias("sh"),
    ).distinct())
    ok = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 20))
        .select("sh")
    )
    capped = sh.join(ok, "sh")
    e0 = (
        capped.alias("a")
        .join(capped.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    edges = pin(e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))

    feats = d.select(
        F.col("doc_id").alias("node"),
        F.col("n_chars").cast("bigint").alias("f"),
    )
    layers = [feats]
    for _ in range(2):
        cur = layers[-1]
        agg = (
            edges.join(cur, edges["dst"] == cur["node"])
            .groupBy(edges["src"].alias("n"))
            .agg(
                F.sum("f").cast("bigint").alias("nb_sum"),
                F.count("*").alias("deg"),
            )
        )
        nxt = pin(
            cur.join(agg, cur["node"] == agg["n"], "left")
            .select(
                "node",
                F.floor(
                    (
                        F.col("f") + F.coalesce("nb_sum", F.lit(0))
                    ).cast("double")
                    / (F.lit(1) + F.coalesce("deg", F.lit(0)))
                )
                .cast("bigint")
                .alias("f"),
            )
        )
        layers.append(nxt)
    out = (
        layers[0]
        .select("node", F.col("f").alias("f_raw"))
        .join(
            layers[1].select("node", F.col("f").alias("f_layer1")), "node"
        )
        .join(
            layers[2].select("node", F.col("f").alias("f_layer2")), "node"
        )
    )
    return out.select(
        F.col("node").alias("doc_id"), "f_raw", "f_layer1", "f_layer2"
    ).orderBy("doc_id")


@register(
    "ext_substring_span_dedup",
    survey_id="EXT-SPAN-DEDUP",
    category="llm-dedup",
    oracle="""
WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
gi AS (
  SELECT doc_id, t, len(t) AS n_tokens,
         UNNEST(generate_series(1, len(t) - 7)) AS i
  FROM tt WHERE len(t) >= 8
),
g AS (
  SELECT doc_id, n_tokens, i,
         array_to_string(t[i : i + 7], ' ') AS gram
  FROM gi
),
dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
ds AS (SELECT g.doc_id, g.i FROM g JOIN dupg USING (gram)),
isl AS (
  SELECT doc_id, i,
         CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 8
              THEN 1 ELSE 0 END AS is_new
  FROM ds WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
isl2 AS (
  SELECT doc_id, i,
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MAX(i) - MIN(i) + 8 AS span_len
  FROM isl2 GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
         CAST(MAX(span_len) AS BIGINT) AS longest_span
  FROM spans GROUP BY doc_id
)
SELECT tt.doc_id, CAST(len(tt.t) AS BIGINT) AS n_tokens,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(p.dup_tokens, 0) AS dup_tokens,
       COALESCE(p.longest_span, 0) AS longest_span,
       CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(tt.t) AS dup_frac
FROM tt LEFT JOIN per_doc p USING (doc_id)
ORDER BY tt.doc_id
""",
)
def ext_substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring span detection at 8-token-gram
    granularity — the distributed form of Lee et al.'s ExactSubstr
    dedup ("Deduplicating Training Data Makes Language Models Better"):
    a token position is duplicated iff it lies inside an 8-gram whose
    text occurs >= 2 times anywhere in the corpus (any alignment, unlike
    ext_paragraph_dedup's chunk-aligned grid), and overlapping /
    adjacent duplicated grams merge into maximal spans. The suffix-array
    step of the paper collapses to a gram-count groupBy because span
    granularity is fixed at the gram width. Per doc: span count,
    duplicated-token total, longest span, duplicated fraction — the
    audit report a removal pass would anti-join against.

    Span merge needs no k-x position explode: duplicated STARTS sorted
    per doc form an island whenever the next start is within gram width
    (all intervals share length 8, so running-max-end == lag(start)+7),
    giving spans via one lag + running-sum window on the doc key.

    Scale: gram formation is row-local; the duplicate test is ONE
    map-side-combinable groupBy on the gram (at 100 TB hash the gram to
    xxhash64 before the exchange so 8-token strings stay out of the
    shuffle); island windows partition by doc_id. Nothing all-pairs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    g = (
        d.select(
            "doc_id",
            "t",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 8 THEN sequence(1, size(t) - 7) "
                    "ELSE CAST(array() AS ARRAY<INT>) END"
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.array_join(F.slice("t", F.col("i"), 8), " ").alias("gram"),
        )
    )
    dupg = g.groupBy("gram").agg(F.count("*").alias("cnt")).where(
        F.col("cnt") >= 2
    )
    ds = g.join(dupg, "gram", "left_semi").select("doc_id", "i")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("i")
    isl = ds.withColumn(
        "is_new",
        F.when(
            F.lag("i").over(w).isNull()
            | (F.col("i") - F.lag("i").over(w) > 8),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("is_new").over(w))
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("i") - F.min("i") + 8).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_spans"),
        F.sum("span_len").cast("bigint").alias("dup_tokens"),
        F.max("span_len").cast("bigint").alias("longest_span"),
    )
    return (
        d.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.coalesce("longest_span", F.lit(0)).alias("longest_span"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def _dfcap_shingle_digraph(spark, sf_dir):
    """Shared document-similarity edge builder (LPA / BFS / HITS): docs
    are adjacent when they share a 5-token shingle with document
    frequency in [2, 20]. Shingles are xxhash64-slimmed before the
    distinct/df shuffles; returns the DIRECTED edge set (src < dst),
    localCheckpointed — callers symmetrize if they need it."""
    from nibbler_spark.sources import load_table as _lt

    d = _lt(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # r11 perf (guide §2.3/§2.4): within-doc shingle dedup is ROW-LOCAL
    # (array_distinct over the hashed shingle array), so the exploded
    # (doc_id, sh) frame is distinct BY CONSTRUCTION — the old
    # corpus-wide `.distinct()` exchange of the fattest intermediate is
    # gone. df counting and the df-capped membership join keep the
    # giant-key relief valve exactly as before (hot shingles are never
    # collected anywhere).
    # repartition to the core count before the shingle-hash explode:
    # the single local parquet split would otherwise run the xxhash64
    # transform (interpreted per element inside the lambda) on one task.
    sh = pin(d.transform(spread).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    seq1(F.size("toks") - 4),
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ",
                            F.element_at("toks", i),
                            F.element_at("toks", i + 1),
                            F.element_at("toks", i + 2),
                            F.element_at("toks", i + 3),
                            F.element_at("toks", i + 4),
                        )
                    ),
                )
            )
        ).alias("sh"),
    ))
    ok = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 20))
        .select("sh")
    )
    # df <= 20 bounds every surviving shingle's membership, so the pair
    # expansion is safe as a per-group sorted collect + in-array
    # combination explode — ONE sh-keyed exchange (reusing the df
    # aggregation's partitioning) instead of the two-sided self-join.
    groups = (
        sh.join(ok, "sh")
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    e0 = pin(
        groups.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct()
    )
    return d.select("doc_id"), e0



_BFS_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
e0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM shd a, shd b, ok
  WHERE a.sh = ok.sh AND b.sh = ok.sh AND a.doc_id < b.doc_id
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
d0 AS (SELECT doc_id AS node,
              CASE WHEN doc_id % 50 = 0 THEN 0 END AS dist FROM t),
r1 AS (SELECT e.src AS node, MIN(d.dist) + 1 AS nd
       FROM edges e JOIN d0 d ON d.node = e.dst
       WHERE d.dist IS NOT NULL GROUP BY e.src),
d1 AS (SELECT d0.node,
              NULLIF(LEAST(COALESCE(d0.dist, 999), COALESCE(r1.nd, 999)),
                     999) AS dist
       FROM d0 LEFT JOIN r1 USING (node)),
r2 AS (SELECT e.src AS node, MIN(d.dist) + 1 AS nd
       FROM edges e JOIN d1 d ON d.node = e.dst
       WHERE d.dist IS NOT NULL GROUP BY e.src),
d2 AS (SELECT d1.node,
              NULLIF(LEAST(COALESCE(d1.dist, 999), COALESCE(r2.nd, 999)),
                     999) AS dist
       FROM d1 LEFT JOIN r2 USING (node)),
r3 AS (SELECT e.src AS node, MIN(d.dist) + 1 AS nd
       FROM edges e JOIN d2 d ON d.node = e.dst
       WHERE d.dist IS NOT NULL GROUP BY e.src),
d3 AS (SELECT d2.node,
              NULLIF(LEAST(COALESCE(d2.dist, 999), COALESCE(r3.nd, 999)),
                     999) AS dist
       FROM d2 LEFT JOIN r3 USING (node))
SELECT CAST(COALESCE(dist, -1) AS BIGINT) AS dist,
       COUNT(*) AS n_docs,
       CAST(SUM(node) AS BIGINT) AS sum_doc_id
FROM d3 GROUP BY 1 ORDER BY 1
"""


@register(
    "ext_bfs_shortest_paths",
    survey_id="EXT-BFS",
    category="llm-dedup",
    oracle=_BFS_ORACLE,
)
def ext_bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS shortest paths on the document-similarity graph
    (same df-capped 5-shingle edge construction as
    ext_label_propagation): every doc_id % 50 == 0 is a distance-0
    seed, and 3 synchronous min-plus relaxation rounds propagate
    hop distances — the Pregel SSSP recipe as DataFrame ops (each
    round: one keyed join edge⨝frontier, one min-combine, one LEAST
    merge, localCheckpoint lineage cut). Distances are small integers
    so the full per-node vector is exact; the output histograms nodes
    by final distance (-1 = unreached within 3 hops) with a doc_id
    checksum per level. The oracle unrolls the identical 3 rounds as
    CTEs. Scale: identical shape to LPA — bounded inverted-index edge
    generation, per-round shuffles proportional to frontier size, no
    all-pairs anywhere."""
    nodes, e0 = _dfcap_shingle_digraph(spark, sf_dir)
    d = nodes
    edges = pin(e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    cur = pin(d.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("doc_id") % 50 == 0, F.lit(0)).alias("dist"),
    ))
    for _ in range(3):
        frontier = cur.where(F.col("dist").isNotNull()).select(
            F.col("node").alias("fnode"), "dist"
        )
        relaxed = (
            edges.join(frontier, edges["dst"] == F.col("fnode"))
            .groupBy("src")
            .agg((F.min("dist") + 1).alias("nd"))
            .select(F.col("src").alias("node"), "nd")
        )
        # (r11 note: lazy rounds were measured HERE at 3.3 s vs 1.9 s
        # with the per-round cut — unlike the label loops, each BFS
        # round's frontier filter re-reads cur twice and the recompute
        # outweighs the saved jobs; the eager cut stays.)
        cur = pin(
            cur.join(relaxed, "node", "left")
            .select(
                "node",
                F.nullif(
                    F.least(
                        F.coalesce("dist", F.lit(999)),
                        F.coalesce("nd", F.lit(999)),
                    ),
                    F.lit(999),
                ).alias("dist"),
            )
        )
    return (
        cur.groupBy(
            F.coalesce("dist", F.lit(-1)).cast("bigint").alias("dist")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("node").cast("bigint").alias("sum_doc_id"),
        )
        .orderBy("dist")
    )


@register(
    "ext_hits_hubs_authorities",
    survey_id="EXT-HITS",
    category="llm-dedup",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
e0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM shd a, shd b, ok
  WHERE a.sh = ok.sh AND b.sh = ok.sh AND a.doc_id < b.doc_id
),
a1 AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS a
       FROM e0 GROUP BY dst),
h1 AS (SELECT e0.src AS node, CAST(SUM(a1.a) AS BIGINT) AS h
       FROM e0 JOIN a1 ON a1.node = e0.dst GROUP BY e0.src),
a2 AS (SELECT e0.dst AS node, CAST(SUM(h1.h) AS BIGINT) AS a
       FROM e0 JOIN h1 ON h1.node = e0.src GROUP BY e0.dst),
h2 AS (SELECT e0.src AS node, CAST(SUM(a2.a) AS BIGINT) AS h
       FROM e0 JOIN a2 ON a2.node = e0.dst GROUP BY e0.src)
SELECT a2.node AS doc_id, a2.a AS authority,
       COALESCE(h2.h, 0) AS hub
FROM a2 LEFT JOIN h2 ON h2.node = a2.node
ORDER BY a2.a DESC, a2.node LIMIT 15
""",
)
def ext_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs-and-authorities, two unnormalized power-
    iteration rounds on the doc-similarity digraph (shared df-capped
    shingle edge builder; direction = ascending doc_id, a
    citation-style orientation): a¹ = indegree, h¹ = AΣa¹,
    a² = AᵀΣh¹, h² = AΣa² — every score an exact BIGINT (the
    normalization HITS usually applies only rescales rankings, so
    dropping it keeps the order and buys bit-exactness). Top-15
    authorities with their hub scores. Scale: each half-round is one
    keyed join + map-side-combinable sum on the edge key — the same
    Pregel shape as BFS/LPA, iteration-bounded, never all-pairs."""
    _, e0 = _dfcap_shingle_digraph(spark, sf_dir)
    a1 = e0.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("bigint").alias("a")
    )
    h1 = (
        e0.join(a1, e0["dst"] == a1["node"])
        .groupBy(F.col("src").alias("hnode"))
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    a2 = (
        e0.join(h1, e0["src"] == h1["hnode"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("h").cast("bigint").alias("a"))
    )
    h2 = (
        e0.join(a2, e0["dst"] == a2["node"])
        .groupBy(F.col("src").alias("hnode"))
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    return (
        a2.join(h2, a2["node"] == h2["hnode"], "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("a").alias("authority"),
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub"),
        )
        .orderBy(F.col("authority").desc(), "doc_id")
        .limit(15)
    )


@register(
    "ext_url_canonical_dedup",
    survey_id="EXT-URL-DEDUP",
    category="llm-dedup",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'HTTP://Site' || (doc_id % 5) || '.Example.COM/page/'
           || (doc_id % 40)
           || CASE WHEN doc_id % 3 = 0
                   THEN '?utm_source=feed&id=' || (doc_id % 40)
                   WHEN doc_id % 3 = 1 THEN '?id=' || (doc_id % 40)
                   ELSE '' END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         lower('site' || (doc_id % 5) || '.example.com')
           || '/page/' || (doc_id % 40)
           || CASE WHEN doc_id % 3 IN (0, 1)
                   THEN '?id=' || (doc_id % 40) ELSE '' END AS curl
  FROM urls
),
kept AS (
  SELECT curl, MIN(doc_id) AS keeper, COUNT(*) AS n_dups
  FROM canon GROUP BY curl
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_canonical,
       CAST(SUM(n_dups) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN n_dups > 1 THEN n_dups - 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(SUM(keeper) AS BIGINT) AS keeper_checksum
FROM kept
""",
)
def ext_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-side dedup that runs
    BEFORE any content hashing: lowercase the host (hosts are
    case-insensitive, paths are not), strip tracking parameters
    (utm_*), and keep the lexicographically-first doc per canonical
    URL. The synthetic URLs exercise exactly the real-world variance
    (mixed-case scheme+host, utm noise, bare/parameterized duplicates
    of the same page). Canonicalization is built from parse_url +
    string primitives (h22's machinery) — all row-local; the dedup is
    ONE keyed aggregate on the canonical key with a min-doc_id keep
    rule (k01's shape). The checksum over keepers pins the exact keep
    decisions, not just the counts."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("HTTP://Site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".Example.COM/page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (F.col("doc_id") % 40).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("?id="), (F.col("doc_id") % 40).cast("string")),
        )
        .otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    host = F.lower(F.parse_url("url", F.lit("HOST")))
    path = F.parse_url("url", F.lit("PATH"))
    query = F.parse_url("url", F.lit("QUERY"))
    # strip utm_* params, keep the rest in original order
    clean_q = F.array_join(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        ),
        "&",
    )
    curl = F.concat(
        host,
        path,
        F.when(clean_q != "", F.concat(F.lit("?"), clean_q)).otherwise(
            F.lit("")
        ),
    )
    canon = u.select("doc_id", curl.alias("curl"))
    kept = canon.groupBy("curl").agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_dups")
    )
    return kept.agg(
        F.count("*").cast("bigint").alias("n_canonical"),
        F.sum("n_dups").cast("bigint").alias("n_total"),
        F.sum(
            F.when(F.col("n_dups") > 1, F.col("n_dups") - 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_removed"),
        F.sum("keeper").cast("bigint").alias("keeper_checksum"),
    )


@register(
    "ext_robots_txt_filter",
    survey_id="EXT-ROBOTS",
    category="llm-dedup",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'site' || (doc_id % 5) || '.example.com' AS domain,
         CASE WHEN doc_id % 4 = 0 THEN '/private/p' || (doc_id % 30)
              WHEN doc_id % 4 = 1 THEN '/private/archive/a' || (doc_id % 30)
              WHEN doc_id % 4 = 2 THEN '/public/q' || (doc_id % 30)
              ELSE '/' END AS path
  FROM documents
),
rules AS (
  SELECT ('site' || s.s || '.example.com') AS domain, r.prefix, r.allow,
         len(r.prefix) AS plen
  FROM (SELECT UNNEST([0, 1, 2, 3, 4]) AS s) s
  CROSS JOIN (VALUES ('/', TRUE),
                     ('/private/', FALSE),
                     ('/private/archive/', TRUE)) AS r(prefix, allow)
),
matched AS (
  SELECT u.doc_id, u.domain, u.path, r.allow,
         row_number() OVER (
           PARTITION BY u.doc_id ORDER BY r.plen DESC, r.prefix
         ) AS rk
  FROM urls u JOIN rules r
    ON u.domain = r.domain AND starts_with(u.path, r.prefix)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(CASE WHEN allow THEN 1 ELSE 0 END) AS BIGINT)
         AS n_allowed,
       CAST(SUM(CASE WHEN NOT allow THEN 1 ELSE 0 END) AS BIGINT)
         AS n_blocked,
       CAST(SUM(CASE WHEN allow THEN doc_id END) AS BIGINT)
         AS allowed_checksum
FROM matched WHERE rk = 1
""",
)
def ext_robots_txt_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filtering — the longest-match rule
    (Google's documented semantics: among all matching Allow/Disallow
    prefixes, the LONGEST wins, so `/private/` blocks while the more
    specific `/private/archive/` re-allows). The per-domain rule table
    is tiny and broadcasts; each URL joins its domain's rules, keeps
    matches via starts_with, and a doc-keyed argmax by prefix length
    picks the verdict. The allowed-set checksum pins every individual
    verdict — including the re-allow override the naive
    first-match/any-match implementations get wrong. Scale: rules
    broadcast (robots corpora are MBs, not TBs); the match fan-out is
    bounded by rules-per-domain; verdict argmax partitions by url."""
    from pyspark.sql import Window as _W

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com"),
        ).alias("domain"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("/private/p"), (F.col("doc_id") % 30).cast("string")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("/private/archive/a"),
                (F.col("doc_id") % 30).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("/public/q"), (F.col("doc_id") % 30).cast("string")
            ),
        )
        .otherwise(F.lit("/"))
        .alias("path"),
    )
    rules = spark.createDataFrame(
        [
            (f"site{s}.example.com", prefix, allow)
            for s in range(5)
            for prefix, allow in (
                ("/", True),
                ("/private/", False),
                ("/private/archive/", True),
            )
        ],
        "domain string, prefix string, allow boolean",
    ).withColumn("plen", F.length("prefix"))
    matched = urls.join(F.broadcast(rules), "domain").where(
        F.col("path").startswith(F.col("prefix"))
    )
    w = _W.partitionBy("doc_id").orderBy(
        F.col("plen").desc(), F.col("prefix")
    )
    verdicts = matched.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return verdicts.agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.sum(F.when(F.col("allow"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_allowed"),
        F.sum(F.when(~F.col("allow"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_blocked"),
        F.sum(F.when(F.col("allow"), F.col("doc_id")))
        .cast("bigint")
        .alias("allowed_checksum"),
    )


_KCORE_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
e0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM shd a, shd b, ok
  WHERE a.sh = ok.sh AND b.sh = ok.sh AND a.doc_id < b.doc_id
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
n0 AS (SELECT doc_id AS node FROM t),
deg1 AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
a1 AS (SELECT n0.node FROM n0 JOIN deg1 USING (node) WHERE deg1.d >= 2),
deg2 AS (
  SELECT e.src AS node, COUNT(*) AS d
  FROM edges e JOIN a1 x ON e.src = x.node JOIN a1 y ON e.dst = y.node
  GROUP BY e.src
),
a2 AS (SELECT a1.node FROM a1 JOIN deg2 USING (node) WHERE deg2.d >= 2),
deg3 AS (
  SELECT e.src AS node, COUNT(*) AS d
  FROM edges e JOIN a2 x ON e.src = x.node JOIN a2 y ON e.dst = y.node
  GROUP BY e.src
),
a3 AS (SELECT a2.node FROM a2 JOIN deg3 USING (node) WHERE deg3.d >= 2),
res AS (
  SELECT n0.node,
         CASE WHEN a1.node IS NULL THEN 1
              WHEN a2.node IS NULL THEN 2
              WHEN a3.node IS NULL THEN 3
              ELSE -1 END AS removed_round
  FROM n0
  LEFT JOIN a1 ON n0.node = a1.node
  LEFT JOIN a2 ON n0.node = a2.node
  LEFT JOIN a3 ON n0.node = a3.node
)
SELECT CAST(removed_round AS BIGINT) AS removed_round,
       COUNT(*) AS n_docs,
       CAST(SUM(node) AS BIGINT) AS sum_doc_id
FROM res GROUP BY 1 ORDER BY 1
"""


@register(
    "ext_kcore_decomposition",
    survey_id="EXT-KCORE",
    category="llm-dedup",
    oracle=_KCORE_ORACLE,
)
def ext_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=2, 3 peel rounds) on the document-
    similarity graph — the degeneracy peel that separates densely
    interlinked near-duplicate clusters from hair (used to find
    template farms / boilerplate hubs in crawl corpora): each round
    computes the degree of every still-alive node over the alive-
    induced subgraph and removes nodes with degree < k; nodes are
    labeled with the round that removed them (-1 = survives all three
    rounds, a superset of the true 2-core that three rounds provably
    shrink toward). Same df-capped 5-shingle edge construction as
    LPA/BFS/HITS (`_dfcap_shingle_digraph`). Every round is one
    alive⨝edges⨝alive semi-join pair plus a keyed count — frontier-
    proportional shuffles, localCheckpoint lineage cuts, no all-pairs.
    The oracle unrolls the identical 3 rounds as CTEs; counts and
    doc_id checksums are integer-exact."""
    nodes, e0 = _dfcap_shingle_digraph(spark, sf_dir)
    edges = pin(e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    all_nodes = nodes.select(F.col("doc_id").alias("node"))
    # r9 verdict #2 variance pass: the old shape ran SEVEN eager
    # materialize jobs per query (edges + per-round new_alive + a
    # rebuilt `removed` frame re-checkpointed every round); the
    # per-round label join is pure bookkeeping, so the peel frames are
    # now accumulated LAZILY (each is one anti-join between two
    # already-checkpointed alive frames) and unioned once at the end —
    # 4 eager jobs, less block-store churn, same integer-exact result.
    alive = None  # None = all nodes alive (round 1 shortcut)
    peels = []
    for rnd in range(1, 4):
        prev = alive if alive is not None else all_nodes
        e = edges
        if alive is not None:
            ax = alive.select(F.col("node").alias("src"))
            ay = alive.select(F.col("node").alias("dst"))
            e = e.join(ax, "src", "left_semi").join(ay, "dst", "left_semi")
        deg = e.groupBy("src").agg(F.count("*").alias("d"))
        new_alive = pin(prev.join(
            deg.where(F.col("d") >= 2).select(F.col("src").alias("node")),
            "node",
            "left_semi",
        ))
        peels.append(
            prev.join(new_alive, "node", "left_anti").select(
                "node", F.lit(rnd).cast("bigint").alias("removed_round")
            )
        )
        alive = new_alive
    res = peels[0].unionByName(peels[1]).unionByName(peels[2]).unionByName(
        alive.select(
            "node", F.lit(-1).cast("bigint").alias("removed_round")
        )
    )
    return (
        res.groupBy("removed_round")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("node").cast("bigint").alias("sum_doc_id"),
        )
        .orderBy("removed_round")
    )


@register(
    "ext_dedup_threshold_sweep",
    survey_id="EXT-DEDUP-SWEEP",
    category="llm-dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shd
          GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM shd a JOIN shd b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT common.doc_a, common.doc_b, common.c, sa.n AS na, sb.n AS nb
  FROM common
  JOIN sizes sa ON sa.doc_id = common.doc_a
  JOIN sizes sb ON sb.doc_id = common.doc_b
),
sweep AS (
  SELECT tau10,
         CAST(SUM(CASE WHEN 10 * c >= tau10 * (na + nb - c)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT CASE WHEN 10 * c >= tau10 * (na + nb - c)
                                  THEN doc_b END) AS BIGINT)
           AS n_docs_dropped
  FROM pairs CROSS JOIN (SELECT UNNEST([5, 7, 9]) AS tau10)
  GROUP BY tau10
),
mono AS (
  SELECT BOOL_AND(ok_p) AND BOOL_AND(ok_d) AS monotone_ok FROM (
    SELECT n_pairs <= LAG(n_pairs, 1, n_pairs + 1)
             OVER (ORDER BY tau10) AS ok_p,
           n_docs_dropped <= LAG(n_docs_dropped, 1, n_docs_dropped + 1)
             OVER (ORDER BY tau10) AS ok_d
    FROM sweep
  )
)
SELECT CAST(s.tau10 AS DOUBLE) / 10e0 AS threshold,
       s.n_pairs, s.n_docs_dropped, mono.monotone_ok
FROM sweep s, mono ORDER BY threshold
""",
)
def ext_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD SWEEP — the sensitivity analysis run before
    committing a near-dup threshold to a 100 TB curation job: exact
    Jaccard pairs over 3-token shingles are computed ONCE (one
    inverted-index self-join — the expensive part is shared across
    the whole sweep), then evaluated at τ = 0.5 / 0.7 / 0.9 using
    INTEGER cross-multiplied comparisons (10·common ≥ τ₁₀·(union)),
    reporting pair volume and keep-first drop counts per threshold.
    The structural invariant — both curves are MONOTONE NONINCREASING
    in τ — is asserted in-result; choosing τ is then reading this
    table against a budget, not re-running the join three times.
    Scale: identical join shape to K4's banded exact pairs; the sweep
    itself is O(pairs)."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    sh = pin(t.select(
        "doc_id",
        F.explode(
            F.transform(
                seq1(F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("sh"),
    ).distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    common = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pairs = pin(
        common.join(
            F.broadcast(sizes.withColumnRenamed("n", "na")),
            F.col("doc_a") == F.col("doc_id"),
        )
        .drop("doc_id")
        .join(
            F.broadcast(sizes.withColumnRenamed("n", "nb")),
            F.col("doc_b") == F.col("doc_id"),
        )
        .drop("doc_id")
    )
    taus = spark.createDataFrame([(5,), (7,), (9,)], "tau10 int")
    hit = 10 * F.col("c") >= F.col("tau10") * (
        F.col("na") + F.col("nb") - F.col("c")
    )
    sweep = (
        pairs.crossJoin(F.broadcast(taus))
        .groupBy("tau10")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("doc_b")))
            .cast("bigint")
            .alias("n_docs_dropped"),
        )
        .collect()
    )
    rows = sorted((r["tau10"], r["n_pairs"], r["n_docs_dropped"]) for r in sweep)
    monotone = all(
        rows[i][1] <= rows[i - 1][1] and rows[i][2] <= rows[i - 1][2]
        for i in range(1, len(rows))
    )
    return spark.createDataFrame(
        [(t10 / 10.0, p, d, bool(monotone)) for t10, p, d in rows],
        "threshold double, n_pairs bigint, n_docs_dropped bigint, "
        "monotone_ok boolean",
    )


_LINKPRED_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
e0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM shd a, shd b, ok
  WHERE a.sh = ok.sh AND b.sh = ok.sh AND a.doc_id < b.doc_id
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
pairs AS (
  SELECT a.dst AS u, b.dst AS w, a.src AS z
  FROM edges a JOIN edges b ON a.src = b.src AND a.dst < b.dst
),
scored AS (
  SELECT p.u, p.w,
         COUNT(*) AS cn,
         SUM(1000000000000 // CAST(floor(ln(deg.d) * 1000000)
                                   AS BIGINT)) AS aa_scaled
  FROM pairs p JOIN deg ON deg.node = p.z
  GROUP BY p.u, p.w
),
nonedge AS (
  SELECT s.* FROM scored s
  LEFT JOIN e0 ON e0.src = s.u AND e0.dst = s.w
  WHERE e0.src IS NULL
)
SELECT CAST(u AS BIGINT) AS u, CAST(w AS BIGINT) AS w,
       CAST(cn AS BIGINT) AS cn, CAST(aa_scaled AS BIGINT) AS aa_scaled
FROM nonedge
ORDER BY cn DESC, aa_scaled DESC, u, w
LIMIT 20
"""


@register(
    "ext_link_prediction",
    survey_id="EXT-LINKPRED",
    category="llm-dedup",
    oracle=_LINKPRED_ORACLE,
)
def ext_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the document-similarity graph — the classic
    common-neighbors + Adamic–Adar recipe over the same df-capped
    5-shingle edges that feed LPA/BFS/HITS: for every non-adjacent
    pair (u, w) at distance 2, count shared neighbors and score
    Σ_z 1/ln(deg(z)) with the portable gridded-ln (each term is
    10^12 div floor(ln(deg)·10^6) — exact BIGINT in both engines;
    deg(z) ≥ 2 whenever z is a common neighbor, so ln never hits 0).
    Top-20 predicted links by (cn, aa, pair) through
    orderBy+limit — TakeOrderedAndProject, no corpus-wide rank
    window. Scale: the wedge join (adjacency ⨝ adjacency on the
    middle node) is the standard triangle/wedge shape whose fan-out
    the df-cap bounds; candidates carry three bigints; existing
    edges drop via one anti-join."""
    _, e0 = _dfcap_shingle_digraph(spark, sf_dir)
    edges = pin(e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    lngrid = F.floor(F.log(F.col("d")) * F.lit(1000000.0)).cast("bigint")
    degs = deg.select(F.col("src").alias("z"), lngrid.alias("lg"))
    a = edges.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    b = edges.select(F.col("src").alias("z"), F.col("dst").alias("w"))
    pairs = a.join(b, "z").where(F.col("u") < F.col("w"))
    scored = (
        pairs.join(degs, "z")
        .groupBy("u", "w")
        .agg(
            F.count("*").cast("bigint").alias("cn"),
            F.sum(F.expr("1000000000000 div lg"))
            .cast("bigint")
            .alias("aa_scaled"),
        )
    )
    nonedge = scored.join(
        e0.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    return nonedge.orderBy(
        F.desc("cn"), F.desc("aa_scaled"), "u", "w"
    ).limit(20)


_CONTAIN_ORACLE = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
exc AS (
  SELECT doc_id + 1000000000 AS doc_id,
         list_append(toks[1 : CAST(floor(0.6 * len(toks)) AS INT)],
                     'zz' || CAST(doc_id % 7 AS VARCHAR)) AS toks
  FROM base WHERE len(toks) >= 20 AND doc_id % 31 = 0
),
corpus AS (
  SELECT doc_id, toks FROM base UNION ALL SELECT doc_id, toks FROM exc
),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM corpus
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM shd GROUP BY doc_id),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) <= 1000),
idx AS (SELECT s.doc_id, s.sh FROM shd s JOIN ok USING (sh)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(sa.sz AS BIGINT) AS sz_a,
       CAST(i.n_inter AS DOUBLE) / sa.sz AS containment
FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
WHERE 10 * i.n_inter >= 7 * sa.sz
ORDER BY doc_a, doc_b
"""


@register(
    "ext_containment_dedup",
    survey_id="EXT-CONTAIN",
    category="llm-dedup",
    oracle=_CONTAIN_ORACLE,
)
def ext_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplicate detection by shingle-set CONTAINMENT
    C(A→B) = |S(A)∩S(B)| / |S(A)| ≥ 0.7 — the curation case Jaccard
    misses: an excerpt quoted inside a much larger document has tiny J
    but containment ≈ 1. The fixture plants the realistic scenario
    (the oracle replicates it): every 31st long document spawns an
    excerpt pseudo-doc — its first 60% of tokens plus one appended
    token, so the excerpt's 5-shingle set is the base's contiguous
    prefix plus exactly one novel shingle (C = (m−4)/(m−3) on
    multiplicity-free streams — near 1, never exactly 1). Exact
    candidate generation via the inverted shingle index: C ≥ τ > 0
    forces ≥ 1 shared shingle, so the equi-join on shingle misses
    nothing; the df ≤ 1000 cap is the k05-style production relief
    valve (provably inactive here — max shingle df is far below it).
    The threshold is integer cross-multiplied (10·inter ≥ 7·sz_a) —
    no float boundary; the reported ratio divides identical integers.
    Scale: shingles are xxhash64-slimmed before the distinct/df/join
    shuffles; candidates are pairs that actually share content, never
    all-pairs; both directions of every pair emit independently
    (containment is not symmetric — that is the point)."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    exc = d.where(
        (F.size("toks") >= 20) & (F.col("doc_id") % 31 == 0)
    ).select(
        (F.col("doc_id") + 1000000000).alias("doc_id"),
        F.concat(
            F.slice(
                "toks", 1, F.floor(0.6 * F.size("toks")).cast("int")
            ),
            F.array(F.concat(F.lit("zz"), (F.col("doc_id") % 7))),
        ).alias("toks"),
    )
    corpus = d.unionByName(exc)
    sh = pin(corpus.select(
        "doc_id",
        F.explode(
            F.transform(
                seq1(F.size("toks") - 4),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at("toks", i),
                        F.element_at("toks", i + 1),
                        F.element_at("toks", i + 2),
                        F.element_at("toks", i + 3),
                        F.element_at("toks", i + 4),
                    )
                ),
            )
        ).alias("sh"),
    ).distinct())
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ok = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= 1000)
        .select("sh")
    )
    idx = sh.join(ok, "sh")
    a = idx.select(F.col("doc_id").alias("doc_a"), "sh")
    b = idx.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    return (
        inter.join(
            sz.select(F.col("doc_id").alias("doc_a"), "sz"), "doc_a"
        )
        .where(10 * F.col("n_inter") >= 7 * F.col("sz"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.col("sz").cast("bigint").alias("sz_a"),
            (F.col("n_inter").cast("double") / F.col("sz")).alias(
                "containment"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


_MODULARITY_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
e0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM shd a, shd b, ok
  WHERE a.sh = ok.sh AND b.sh = ok.sh AND a.doc_id < b.doc_id
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
l0 AS (SELECT doc_id AS node, doc_id AS label FROM t),
r1c AS (SELECT e.src AS node, l.label, COUNT(*) AS c
        FROM edges e JOIN l0 l ON l.node = e.dst GROUP BY e.src, l.label),
r1m AS (SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY c DESC, label ASC) AS rk
          FROM r1c) WHERE rk = 1),
l1 AS (SELECT l0.node, COALESCE(r1m.label, l0.label) AS label
       FROM l0 LEFT JOIN r1m USING (node)),
m AS (SELECT COUNT(*) AS m FROM e0),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
comm AS (
  SELECT l1.label,
         SUM(deg.d) AS dtot
  FROM l1 JOIN deg ON deg.node = l1.node
  GROUP BY l1.label
),
e_in AS (
  SELECT la.label, COUNT(*) AS ec
  FROM e0
  JOIN l1 la ON la.node = e0.src
  JOIN l1 lb ON lb.node = e0.dst
  WHERE la.label = lb.label
  GROUP BY la.label
),
q AS (
  SELECT SUM(4 * m.m * COALESCE(e_in.ec, 0) - comm.dtot * comm.dtot)
           AS q_num,
         MAX(m.m) AS m
  FROM comm LEFT JOIN e_in USING (label), m
)
SELECT CAST(m AS BIGINT) AS m_edges,
       CAST(q_num AS BIGINT) AS q_scaled_4m2,
       ROUND(CAST(q_num AS DOUBLE) / (4e0 * m * m), 6) AS modularity
FROM q
"""


@register(
    "ext_graph_modularity",
    survey_id="EXT-MODULARITY",
    category="llm-dedup",
    oracle=_MODULARITY_ORACLE,
)
def ext_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of a one-round LPA partition on the document
    graph — the community-QUALITY metric the LPA/CC family was missing:
    Q = Σ_c (e_c/m − (D_c/2m)²), computed INTEGER-EXACTLY in the
    scaled form Q·4m² = Σ_c (4m·e_c − D_c²) so the order-free BIGINT
    sum hashes; the double rendering divides two exact integers at
    the end. Within-community edge counts come from one edges⨝labels
    ⨝labels equi-join; degree masses from one keyed aggregate —
    everything after graph construction runs on the ≤|communities|-row
    table. The oracle unrolls the identical LPA round and the same
    scaled sum."""
    nodes, e0 = _dfcap_shingle_digraph(spark, sf_dir)
    edges = pin(e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    l0 = nodes.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    )
    r1c = (
        edges.join(l0, edges["dst"] == l0["node"])
        .groupBy(edges["src"], "label")
        .agg(F.count("*").alias("c"))
    )
    r1m = (
        r1c.groupBy("src")
        .agg(
            F.min(F.struct(-F.col("c"), F.col("label"))).alias("best")
        )
        .select(F.col("src").alias("node"), F.col("best.label").alias("nl"))
    )
    l1 = pin(l0.join(r1m, "node", "left").select(
        "node", F.coalesce("nl", "label").alias("label")
    ))
    m = e0.count()  # bounded: one scalar
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    comm = (
        l1.join(deg, l1["node"] == deg["src"])
        .groupBy("label")
        .agg(F.sum("d").alias("dtot"))
    )
    la = l1.select(F.col("node").alias("src"), F.col("label").alias("lab_a"))
    lb = l1.select(F.col("node").alias("dst"), F.col("label").alias("lab_b"))
    e_in = (
        e0.join(la, "src")
        .join(lb, "dst")
        .where(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count("*").alias("ec"))
    )
    q = comm.join(e_in, "label", "left").agg(
        F.sum(
            F.lit(4 * m) * F.coalesce(F.col("ec"), F.lit(0))
            - F.col("dtot") * F.col("dtot")
        )
        .cast("bigint")
        .alias("q_num")
    )
    return q.select(
        F.lit(m).cast("bigint").alias("m_edges"),
        F.col("q_num").alias("q_scaled_4m2"),
        F.round(
            F.col("q_num").cast("double") / (F.lit(4.0) * m * m), 6
        ).alias("modularity"),
    )


# Shared SQL prefix for the Louvain pair: weighted shingle graph,
# degrees, the 2m total, and the per-node candidate ranking.
_LOUVAIN_SQL_PREFIX = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
  FROM t
),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
ok AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 20),
ew AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM shd a JOIN ok USING (sh) JOIN shd b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sym AS (SELECT src, dst, w FROM ew UNION ALL SELECT dst, src, w FROM ew),
deg AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS k FROM sym GROUP BY 1),
tot AS (SELECT CAST(2 * SUM(w) AS BIGINT) AS mm2 FROM ew),
cand AS (
  SELECT s.src AS node, di.k AS k, s.dst AS comm,
         CAST(tot.mm2 * s.w - di.k * dj.k AS BIGINT) AS gain_scaled,
         ROW_NUMBER() OVER (
           PARTITION BY s.src
           ORDER BY tot.mm2 * s.w - di.k * dj.k DESC, s.dst
         ) AS rn
  FROM sym s
  JOIN deg di ON di.node = s.src
  JOIN deg dj ON dj.node = s.dst
  CROSS JOIN tot
)"""


@register(
    "ext_louvain_sync_round",
    survey_id="EXT-LOUVAIN",
    category="llm-dedup",
    oracle=_LOUVAIN_SQL_PREFIX
    + """
SELECT node, k, comm AS best_comm, gain_scaled,
       CAST(CASE WHEN gain_scaled > 0 THEN 1 ELSE 0 END AS BIGINT) AS moved
FROM cand WHERE rn = 1 ORDER BY node
""",
)
def ext_louvain_sync_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Louvain phase-1 sweep on the document-similarity
    graph, with edges WEIGHTED by shared-shingle count (same df-capped
    5-shingle construction as LPA/BFS/HITS, plus the weight): from the
    all-singletons start, every node evaluates moving into each
    neighbor's community and takes the argmax modularity gain.  With
    singleton communities the removal term is community-independent,
    so the candidate ordering reduces to the EXACT INTEGER
    gain_scaled = 2m * w(i,j) - k_i * k_j  (the true gain times the
    positive constant 2m^2) — no rationals, no floats, ties broken by
    min community id; moved = gain > 0.  Synchronous update (all
    decisions read the pre-sweep state) keeps the round deterministic
    and engine-replicable where classic sequential Louvain is
    visit-order-defined.

    Scale shape: the one corpus-scale shuffle is the shingle
    inverted-index self-join (df-capped, never all-pairs); degrees and
    the 1-row 2m total are edge-table aggregates, 2m riding a
    broadcast cross join; the argmax is a max_by-style partial-combine
    aggregate, not a global sort.  Each Louvain level at 100 TB is
    exactly this dataflow iterated, with the graph coarsening per
    level."""
    _, _, _, best = _louvain_frames(spark, sf_dir)
    return best.select(
        F.col("src").alias("node"),
        "k",
        (-F.col("b.nj")).cast("bigint").alias("best_comm"),
        F.col("b.g").alias("gain_scaled"),
        (F.col("b.g") > 0).cast("bigint").alias("moved"),
    ).orderBy("node")


def _louvain_frames(spark, sf_dir):
    """Shared Louvain dataflow: weighted edges (src < dst, w =
    shared-shingle count), weighted degrees, the 1-row 2m total, and
    the per-node argmax move as a struct-max aggregate.  See
    ext_louvain_sync_round for the algorithm notes."""
    from nibbler_spark.sources import load_table as _lt

    d = _lt(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    sh = pin(
        d.select(
            "doc_id",
            F.explode(
                F.transform(
                    seq1(F.size("toks") - 4),
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ",
                            F.element_at("toks", i),
                            F.element_at("toks", i + 1),
                            F.element_at("toks", i + 2),
                            F.element_at("toks", i + 3),
                            F.element_at("toks", i + 4),
                        )
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
    )
    ok = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 20))
        .select("sh")
    )
    capped = sh.join(ok, "sh")
    ew = pin(
        capped.alias("a")
        .join(capped.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    sym = ew.unionByName(
        ew.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("bigint").alias("k")
    )
    tot = ew.agg((2 * F.sum("w")).cast("bigint").alias("mm2"))
    cand = (
        sym.join(
            deg.withColumnRenamed("k", "k_i"), F.col("node") == F.col("src")
        )
        .drop("node")
        .join(
            deg.select(
                F.col("node").alias("jnode"), F.col("k").alias("k_j")
            ),
            F.col("jnode") == F.col("dst"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "src",
            F.col("k_i").alias("k"),
            "dst",
            (F.col("mm2") * F.col("w") - F.col("k_i") * F.col("k_j"))
            .cast("bigint")
            .alias("gain_scaled"),
        )
    )
    best = cand.groupBy("src", "k").agg(
        F.max(
            F.struct(
                F.col("gain_scaled").alias("g"), (-F.col("dst")).alias("nj")
            )
        ).alias("b")
    )
    return ew, deg, tot, best


@register(
    "ext_louvain_modularity_gain",
    survey_id="EXT-LOUVAIN-Q",
    category="llm-dedup",
    oracle=_LOUVAIN_SQL_PREFIX
    + """,
best AS (SELECT node, k, comm, gain_scaled FROM cand WHERE rn = 1),
labels AS (
  SELECT node, CASE WHEN gain_scaled > 0 THEN comm ELSE node END AS lbl
  FROM best
),
win AS (
  SELECT l1.lbl, CAST(SUM(e.w) AS BIGINT) AS w_in
  FROM ew e
  JOIN labels l1 ON l1.node = e.src
  JOIN labels l2 ON l2.node = e.dst
  WHERE l1.lbl = l2.lbl GROUP BY 1
),
st AS (
  SELECT l.lbl, CAST(SUM(d.k) AS BIGINT) AS s
  FROM deg d JOIN labels l ON l.node = d.node GROUP BY 1
),
qa AS (
  SELECT CAST(SUM(tot.mm2 * 2 * COALESCE(w.w_in, 0) - st.s * st.s)
              AS BIGINT) AS q_num_after
  FROM st LEFT JOIN win w USING (lbl) CROSS JOIN tot
),
qb AS (SELECT CAST(-SUM(k * k) AS BIGINT) AS q_num_before FROM deg),
mv AS (
  SELECT CAST(SUM(CASE WHEN gain_scaled > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM best
),
nc AS (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_communities
       FROM labels)
SELECT tot.mm2, CAST(tot.mm2 * tot.mm2 AS BIGINT) AS q_den,
       qb.q_num_before, qa.q_num_after, nc.n_communities, mv.n_moved,
       mv.n_nodes,
       CAST(CASE WHEN qa.q_num_after > qb.q_num_before THEN 1 ELSE 0 END
            AS BIGINT) AS improved
FROM tot, qa, qb, mv, nc
""",
)
def ext_louvain_modularity_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the sweep actually help?  Apply ext_louvain_sync_round's
    synchronous moves (label = best community if gain > 0, else self)
    and report EXACT modularity before and after as integer rationals
    over the common denominator (2m)^2:
    Q * (2m)^2 = sum_c [2m * Sigma_in_c - Sigma_tot_c^2], with
    Sigma_in_c = 2 * (internal edge weight).  Before (all singletons)
    that is just -sum_i k_i^2.  Simultaneous moves are NOT
    theoretically monotone (two nodes can swap), so the improvement is
    measured, not assumed — `improved` reports the comparison, and on
    this corpus the sweep strictly improves Q at every tested sf
    (pinned in tests).

    Scale shape: everything after the shared graph build is
    edge/degree-table joins with a community-keyed aggregate — the
    same coarsening dataflow a full distributed Louvain iterates per
    level; the five single-row summary frames cross-join broadcast."""
    ew, deg, tot, best = _louvain_frames(spark, sf_dir)
    labels = best.select(
        F.col("src").alias("node"),
        F.when(F.col("b.g") > 0, -F.col("b.nj"))
        .otherwise(F.col("src"))
        .cast("bigint")
        .alias("lbl"),
    )
    win = (
        ew.join(
            labels.select(F.col("node").alias("src"), F.col("lbl").alias("l_s")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("lbl").alias("l_d")),
            "dst",
        )
        .where(F.col("l_s") == F.col("l_d"))
        .groupBy(F.col("l_s").alias("lbl"))
        .agg(F.sum("w").cast("bigint").alias("w_in"))
    )
    st = (
        deg.join(labels, "node")
        .groupBy("lbl")
        .agg(F.sum("k").cast("bigint").alias("s"))
    )
    qa = (
        st.join(win, "lbl", "left")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("mm2") * 2 * F.coalesce("w_in", F.lit(0))
                - F.col("s") * F.col("s")
            )
            .cast("bigint")
            .alias("q_num_after")
        )
    )
    qb = deg.agg(
        (-F.sum(F.col("k") * F.col("k"))).cast("bigint").alias("q_num_before")
    )
    mv = best.agg(
        F.sum((F.col("b.g") > 0).cast("bigint"))
        .cast("bigint")
        .alias("n_moved"),
        F.count("*").cast("bigint").alias("n_nodes"),
    )
    nc = labels.agg(
        F.countDistinct("lbl").cast("bigint").alias("n_communities")
    )
    return (
        tot.crossJoin(qb)
        .crossJoin(qa)
        .crossJoin(nc)
        .crossJoin(mv)
        .select(
            "mm2",
            (F.col("mm2") * F.col("mm2")).cast("bigint").alias("q_den"),
            "q_num_before",
            "q_num_after",
            "n_communities",
            "n_moved",
            "n_nodes",
            (F.col("q_num_after") > F.col("q_num_before"))
            .cast("bigint")
            .alias("improved"),
        )
    )


@register(
    "ext_suffix_array_lcp",
    survey_id="EXT-SUFFIX-ARRAY",
    category="llm-dedup",
    oracle="""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ')[1:48] AS t
  FROM documents
),
suf AS (
  SELECT doc_id, UNNEST(generate_series(1, len(t))) AS pos, t
  FROM tk WHERE len(t) >= 1
),
ordered AS (
  SELECT doc_id, pos, t[pos:] AS s,
         array_to_string(t[pos:], ' ') AS skey
  FROM suf
),
adj AS (
  SELECT doc_id, pos, s,
         lead(doc_id) OVER w AS other_doc,
         lead(pos) OVER w AS other_pos,
         lead(s) OVER w AS s2
  FROM ordered
  WINDOW w AS (ORDER BY skey, doc_id, pos)
),
lcps AS (
  SELECT doc_id, pos, other_doc, other_pos,
         CAST(COALESCE(
           NULLIF(list_position(
             list_transform(generate_series(1, LEAST(len(s), len(s2))),
                            i -> s[i] = s2[i]),
             false), 0),
           LEAST(len(s), len(s2)) + 1) - 1 AS BIGINT) AS lcp,
         s
  FROM adj
  WHERE other_doc IS NOT NULL AND other_doc <> doc_id
)
SELECT doc_id, pos, other_doc, other_pos, lcp,
       substr(md5(array_to_string(s[1:lcp], ' ')), 1, 16) AS span_h
FROM lcps
ORDER BY lcp DESC, doc_id, pos, other_doc, other_pos
LIMIT 30
""",
)
def ext_suffix_array_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus suffix array over CAP-48 suffixes, then the longest
    cross-document repeated token spans off its LCP structure — the
    real suffix-array half of Lee et al.'s ExactSubstr dedup
    ("Deduplicating Training Data Makes Language Models Better",
    2022), where ext_substring_span_dedup is the fixed-gram-width
    relaxation. Suffixes are capped at 48 tokens (the cap bounds
    comparison depth; dedup spans of interest are far shorter).

    Algorithm (r11 — single-round fixed-width packing; replaces the
    r7 prefix-multiplying densify loop): because the comparison depth
    is CAPPED, the whole 48-token suffix packs into a FIXED vector of
    ceil(48 / tpl) bigints in MIXED RADIX base B = n_vocab + 1 (tpl =
    the largest t with B^t <= 2^62 tokens per long), using the dense
    vocab ranks (assigned row-locally from one broadcast dictionary
    row; 0-sentinel pads past-end so a prefix sorts before its
    extensions). Vector lexicographic order == token-sequence order,
    so ONE exchange — partition by the first-token rank (bucket = k0
    DIV B^(tpl-1), coarse-monotone), sort by (k0..k_{L-1}, doc_id,
    pos) — yields suffix-order ADJACENCY via lead() in the same
    window; the <= n_vocab bucket-boundary pairs stitch from a
    map-side-combined min_by/max_by frame. No doubling rounds, no
    per-round distinct/densify/re-collect, no s_idx self-join: the
    r10 ladder measured the loop's shuffle at 28x for 10x docs
    because rank width grows with n, degrading the pack factor m = 62
    DIV bits(max_rank) toward 2 (more rounds, wider rows — a real log
    factor plus a regime step). The fixed-width layout's one shuffle
    is n_suffixes rows of L+2 integers, LINEAR in corpus tokens with
    a data-independent constant: width depends only on VOCAB size
    (log-cube-root growth: 4 longs at 5k docs, 5 at 50k), never on
    the suffix count.

    Adjacent suffixes from DIFFERENT docs then yield LCP by direct
    token-array comparison — token arrays attach at the very end via
    two keyed joins against the per-doc token table, and the top-30
    cross-doc repeats are the audit output. The DuckDB oracle knows
    nothing of the packing: it sorts full suffix STRINGS (space-
    joined; every corpus codepoint is > 32, so string order == token-
    sequence order) — an independent re-derivation, so a hash match
    validates the entire construction.

    Scale: one explode (48 structs per doc, map-local), one bucketed
    window exchange (the only wide shuffle), one tiny boundary agg —
    no stage quadratic in anything, no single-partition sort over
    data-sized rows, no driver-side loop. Beyond 2^31 vocab ranks per
    shard the pack would overflow int64 — at that size the corpus
    shards first (the ExactSubstr practice), keeping every table
    shard-local."""
    from nibbler_spark.queries._helpers import two_phase_rank

    d = load_table(spark, sf_dir, "documents")
    tk = (
        # single-file corpus -> one input split: widen before the
        # 48x suffix expansion and the per-doc rank maps so every
        # downstream map stage uses the cluster (the k05/i42 lesson)
        pin(d.select("doc_id", "text")
        .transform(spread)
        .select(
            "doc_id", F.slice(F.split("text", " "), 1, 48).alias("t")
        )
        .where(F.size("t") >= 1))
    )
    ex0 = tk.select(
        "doc_id",
        F.posexplode("t").alias("pos0", "tok"),
    )

    # rank_1: dense rank of each token (bucket by first char --
    # monotone in binary string order for this >=0x20 corpus). The
    # vocab rank table is a token DICTIONARY — broadcast it as one map
    # row and assign initial rank arrays ROW-LOCALLY (zero shuffle; a
    # 100 TB corpus with a broadcast-hostile vocab would fall back to
    # a keyed explode/join/re-collect).
    vocab = ex0.select(F.col("tok").alias("v")).distinct()
    vr = two_phase_rank(
        vocab, F.ascii(F.substring("v", 1, 1)), [F.col("v")], "r"
    )
    vmap_row = F.broadcast(
        vr.agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct("v", F.col("r").cast("bigint").alias("r"))
                )
            ).alias("vmap")
        )
    )
    arr = pin(
        tk.crossJoin(vmap_row)
        .select(
            "doc_id",
            F.transform(
                "t", lambda tok: F.try_element_at(F.col("vmap"), tok)
            ).alias("ranks"),
        )
        # materialize once: the pack explode feeds BOTH the window
        # exchange and the boundary min_by/max_by aggregate
    )

    # fixed-width pack: tpl vocab ranks per long, L longs cover the
    # whole cap-48 suffix. Data-derived via one bounded driver read
    # (the BPE-argmax pattern).
    n_vocab = vocab.count()  # dense vocab ranks are 1..n_vocab
    assert n_vocab < 2**31, "shard the corpus: > 2^31 vocab ranks"
    # MIXED-RADIX pack, base B = n_vocab + 1 (digits 0..n_vocab, 0 =
    # past-end sentinel): positional base-B order == tuple order, and
    # the capacity check is exact — B^tpl <= 2^62 — instead of the
    # power-of-2 w_bits rounding (a 65-word vocab packs 10 tokens per
    # long, not 8: log2(66) bits per token, not 7).
    B = int(n_vocab) + 1
    tpl = 2
    while B ** (tpl + 1) <= 2**62:
        tpl += 1
    L = (48 + tpl - 1) // tpl

    def pack_long(i, j):
        # long j of the suffix starting at 1-based token i: tokens
        # i + j*tpl .. i + j*tpl + tpl - 1, high-to-low; past-end ->
        # NULL -> 0 sentinel (ANSI element_at throws OOB)
        return sum(
            (
                F.coalesce(
                    F.try_element_at(
                        F.col("ranks"), i + F.lit(j * tpl + u)
                    ),
                    F.lit(0).cast("bigint"),
                )
                * F.lit(B ** (tpl - 1 - u)).cast("bigint")
                for u in range(1, tpl)
            ),
            start=F.coalesce(
                F.try_element_at(F.col("ranks"), i + F.lit(j * tpl)),
                F.lit(0).cast("bigint"),
            )
            * F.lit(B ** (tpl - 1)).cast("bigint"),
        ).alias(f"k{j}")

    suf = (
        arr.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    seq1(F.size("ranks")),
                    lambda i: F.struct(
                        *[pack_long(i, j) for j in range(L)]
                    ),
                )
            ).alias("pos0", "k"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            *[F.col(f"k.k{j}").alias(f"k{j}") for j in range(L)],
        )
    )

    # Suffix-order ADJACENCY without a global index: partition by the
    # first token's rank (bucket = k0 DIV B^(tpl-1), coarse-monotone,
    # <= n_vocab partitions), sort by the full key inside the bucket,
    # and take lead() IN THE SAME WINDOW — the one wide exchange does
    # both the ordering and the pairing, eliminating the r10 layout's
    # s_idx self-join (two more n-row exchanges). Bucket-boundary
    # pairs (last suffix of bucket b, first of the next) come from a
    # map-side-combined min_by/max_by aggregate — a dictionary-sized
    # frame stitched with a lead over <= n_vocab rows.
    from pyspark.sql import Window

    bucket = F.expr(f"k0 DIV {B ** (tpl - 1)}")
    key_cols = [
        *[F.col(f"k{j}") for j in range(L)],
        F.col("doc_id"),
        F.col("pos"),
    ]
    w_suf = Window.partitionBy(bucket).orderBy(*key_cols)
    inner = (
        suf.select(
            "doc_id",
            "pos",
            F.lead("doc_id").over(w_suf).alias("other_doc"),
            F.lead("pos").over(w_suf).alias("other_pos"),
        )
        .where(F.col("other_doc").isNotNull())
    )
    key_struct = F.struct(*key_cols)
    ends = suf.groupBy(bucket.alias("b")).agg(
        F.min_by(F.struct("doc_id", "pos"), key_struct).alias("first"),
        F.max_by(F.struct("doc_id", "pos"), key_struct).alias("last"),
    )
    w_b = Window.orderBy("b")  # <= n_vocab rows: single-task is fine
    stitch = (
        ends.withColumn("nf", F.lead("first").over(w_b))
        .where(F.col("nf").isNotNull())
        .select(
            F.col("last.doc_id").alias("doc_id"),
            F.col("last.pos").alias("pos"),
            F.col("nf.doc_id").alias("other_doc"),
            F.col("nf.pos").alias("other_pos"),
        )
    )
    adj = (
        inner.unionByName(stitch)
        .where(F.col("other_doc") != F.col("doc_id"))
    )
    adj = (
        adj.join(tk, "doc_id")
        .withColumn("s", F.expr("slice(t, pos, 48)"))
        .drop("t")
        .join(
            tk.select(
                F.col("doc_id").alias("other_doc"),
                F.col("t").alias("t2"),
            ),
            "other_doc",
        )
        .withColumn("s2", F.expr("slice(t2, other_pos, 48)"))
        .drop("t2")
    )
    least_len = F.least(F.size("s"), F.size("s2"))
    eqs = F.zip_with(
        F.slice("s", 1, 48), F.slice("s2", 1, 48), lambda x, y: x == y
    )
    first_neq = F.array_position(
        F.slice(eqs, F.lit(1), least_len), F.lit(False)
    )
    lcp = F.when(first_neq == 0, least_len).otherwise(
        first_neq - 1
    ).cast("bigint")
    # top-30 FIRST (TakeOrdered on the narrow row + its s array), THEN
    # the span digest — md5 over up-to-48-token joins runs 30 times,
    # not once per adjacent suffix pair
    return (
        adj.select(
            "doc_id",
            "pos",
            "other_doc",
            "other_pos",
            lcp.alias("lcp"),
            F.slice("s", F.lit(1), lcp).alias("_span"),
        )
        .orderBy(
            F.col("lcp").desc(), "doc_id", "pos", "other_doc", "other_pos"
        )
        .limit(30)
        .select(
            "doc_id",
            "pos",
            "other_doc",
            "other_pos",
            "lcp",
            F.substring(
                F.md5(F.array_join("_span", " ")), 1, 16
            ).alias("span_h"),
        )
    )


@register(
    "ext_bwt_compressibility",
    survey_id="EXT-BWT",
    category="llm-dedup",
    oracle="""
WITH tk AS (
  SELECT doc_id, lang, string_split(text, ' ')[1:32] AS t
  FROM documents
),
rot AS (
  SELECT doc_id, lang, len(t) AS n,
         list_sort(list_transform(generate_series(1, len(t)),
           i -> array_to_string(list_concat(t[i:], t[1:i-1]), ' ')
                || CHR(31) || CAST(i AS VARCHAR))) AS rots,
         t
  FROM tk WHERE len(t) >= 2
),
bwt AS (
  SELECT doc_id, lang, n,
         list_transform(rots, r ->
           t[((CAST(string_split(r, CHR(31))[2] AS BIGINT) + n - 2) % n)
             + 1]) AS lastcol
  FROM rot
),
runs AS (
  SELECT doc_id, lang, n,
         CAST(1 + COALESCE(list_sum(list_transform(
           generate_series(2, len(lastcol)),
           i -> CASE WHEN lastcol[i] <> lastcol[i-1] THEN 1 ELSE 0 END)),
           0) AS BIGINT) AS n_runs
  FROM bwt
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(n_runs) AS BIGINT) AS total_runs,
       CAST(SUM(n_runs) * 1000000 // SUM(n) AS BIGINT) AS r_over_n_micro,
       CAST(MIN(n_runs * 1000000 // n) AS BIGINT) AS min_doc_micro,
       CAST(MAX(n_runs * 1000000 // n) AS BIGINT) AS max_doc_micro
FROM runs GROUP BY lang
ORDER BY lang
""",
)
def ext_bwt_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows-Wheeler compressibility fingerprint per language — r/n,
    the BWT run count over sequence length, the repetitiveness measure
    underlying the r-index literature and a sharper signal than
    gzip-ratio heuristics for TEMPLATED text: repeated contexts sort
    adjacent rotations together, so boilerplate collapses BWT runs
    long before surface dedup fires. Each document's BWT is computed
    ROW-LOCALLY over its first 32 tokens: build the n cyclic
    rotations (joined with a sub-space separator and the rotation
    index appended — every corpus codepoint is > 32, so string sort ==
    token-sequence rotation sort, the ext_suffix_array_lcp argument),
    array_sort them inside the row, read the last column, count runs.
    No UDF, no explode, no shuffle: the entire transform is one
    whole-stage-codegen expression chain, O(32^2 log 32) per doc.

    Everything emitted is an exact BIGINT micro-ratio. The oracle
    replays the identical rotation sort in DuckDB list functions —
    and the pure-Python reference test replays it independently.

    Scale shape: scan -> row-local arrays -> 5-row aggregate. The
    ideal 100 TB operator: zero exchanges before the final tiny
    groupBy."""
    sep = chr(31)
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        "lang",
        F.slice(F.split("text", " "), 1, 32).alias("t"),
    ).where(F.size("t") >= 2)
    n = F.size("t")
    rots = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                F.array_join(
                    F.concat(
                        F.slice(F.col("t"), i, 32),
                        F.slice(F.col("t"), 1, i - 1),
                    ),
                    " ",
                ),
                F.lit(sep),
                i.cast("string"),
            ),
        )
    )
    rot_df = tk.select("doc_id", "lang", n.alias("n"), rots.alias("rots"), "t")
    lastcol = F.transform(
        F.col("rots"),
        lambda r: F.element_at(
            F.col("t"),
            (
                (
                    F.split_part(r, F.lit(sep), F.lit(2)).cast("bigint")
                    + F.col("n")
                    - 2
                )
                % F.col("n")
            ).cast("int")
            + 1,
        ),
    )
    bwt = rot_df.select("doc_id", "lang", "n", lastcol.alias("lastcol"))
    n_runs = (
        F.lit(1).cast("bigint")
        + F.coalesce(
            F.aggregate(
                F.sequence(F.lit(2), F.size("lastcol")),
                F.lit(0).cast("bigint"),
                lambda acc, i: acc
                + F.when(
                    F.element_at(F.col("lastcol"), i.cast("int"))
                    != F.element_at(F.col("lastcol"), (i - 1).cast("int")),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
        )
    )
    runs = bwt.select("lang", "n", n_runs.alias("n_runs"))
    return (
        runs.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum("n_runs").cast("bigint").alias("total_runs"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_runs",
            F.expr("total_runs * 1000000 DIV total_tokens")
            .cast("bigint")
            .alias("r_over_n_micro"),
            F.lit(None).alias("_drop"),
        )
        .drop("_drop")
        .join(
            runs.groupBy("lang").agg(
                F.min(F.expr("n_runs * 1000000 DIV n"))
                .cast("bigint")
                .alias("min_doc_micro"),
                F.max(F.expr("n_runs * 1000000 DIV n"))
                .cast("bigint")
                .alias("max_doc_micro"),
            ),
            "lang",
        )
        .orderBy("lang")
    )


_LSH_SWEEP_CONFIGS = [(2, 6), (3, 4), (4, 3), (6, 2)]  # b x r = 12
_LSH_SWEEP_TAU = 0.5


def _lsh_sweep_theory() -> dict[tuple[int, int], int]:
    """floor((1 - (1 - tau^r)^b) * 1e6) as EXACT rationals: tau = 1/2
    makes every term dyadic, so the collision probability of the
    S-curve at the threshold is computed without floats."""
    from fractions import Fraction

    out = {}
    for b, r in _LSH_SWEEP_CONFIGS:
        p = 1 - (1 - Fraction(1, 2**r)) ** b
        out[(b, r)] = int(p * 10**6)
    return out


def _lsh_sweep_oracle() -> str:
    """Code-generated oracle: the portable-MinHash signature table once,
    then one banding + candidate CTE chain per (bands, rows) config,
    each joined against the SAME exact-Jaccard truth set."""
    theory = _lsh_sweep_theory()
    parts = [
        f"""t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, GREATEST(len(s) - 2, 0)),
           i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS ts
  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
),
hashed AS (
  SELECT doc_id, g.seed,
         CAST(('0x' || substr(md5(g.seed || ':' || tok), 1, 12)) AS BIGINT)
           AS h
  FROM (SELECT doc_id, UNNEST(ts) AS tok FROM t)
  CROSS JOIN generate_series(0, {_PMH_SEEDS - 1}) AS g(seed)
),
mins AS (
  SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY doc_id, seed
),
g2 AS (
  SELECT doc_id, sh FROM (SELECT doc_id, UNNEST(ts) AS sh FROM t)
  WHERE sh NOT IN (
    SELECT sh FROM (SELECT doc_id, UNNEST(ts) AS sh FROM t)
    GROUP BY sh HAVING COUNT(*) > 1000)
),
sizes AS (SELECT doc_id, len(ts) AS n FROM t),
common AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS nc
  FROM g2 a JOIN g2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT da, db FROM common
  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
  WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= {_LSH_SWEEP_TAU}
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM truth)"""
    ]
    rows = []
    for i, (b, r) in enumerate(_LSH_SWEEP_CONFIGS):
        parts.append(
            f"""bands{i} AS (
  SELECT doc_id, seed // {r} AS band_id,
         md5(string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)) AS bkey
  FROM mins GROUP BY doc_id, seed // {r}
),
cand{i} AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands{i} a JOIN bands{i} b
    ON a.band_id = b.band_id AND a.bkey = b.bkey
   AND a.doc_id < b.doc_id
),
nc{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM cand{i}),
nh{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
          FROM cand{i} JOIN truth
            ON truth.da = cand{i}.da AND truth.db = cand{i}.db)"""
        )
        rows.append(
            f"SELECT CAST({b} AS BIGINT) AS bands,"
            f" CAST({r} AS BIGINT) AS rows_per_band,"
            f" nc{i}.c AS n_candidates, nt.c AS n_true, nh{i}.c AS n_hit,"
            f" CAST(nh{i}.c * 1000000 // GREATEST(nt.c, 1) AS BIGINT)"
            f"   AS recall_micro,"
            f" CAST(nh{i}.c * 1000000 // GREATEST(nc{i}.c, 1) AS BIGINT)"
            f"   AS precision_micro,"
            f" CAST({theory[(b, r)]} AS BIGINT) AS theory_at_tau_micro"
            f" FROM nc{i} CROSS JOIN nh{i} CROSS JOIN nt"
        )
    union = " UNION ALL ".join(rows)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT * FROM ({union}) ORDER BY bands"
    )


@register(
    "ext_lsh_parameter_sweep",
    survey_id="EXT-LSH-SWEEP",
    category="llm-dedup",
    oracle=_lsh_sweep_oracle(),
)
def ext_lsh_parameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH PARAMETER TUNING TABLE — the design sweep every dedup
    deployment runs before committing to a banding scheme: the SAME 12
    portable minhashes sliced as (bands x rows) in {{2x6, 3x4, 4x3,
    6x2}}, each configuration's candidate volume, measured recall and
    precision against the EXACT Jaccard >= 0.5 truth set (inverted
    index with the k04 df-cap relief valve), and the theoretical
    S-curve collision probability at the threshold — with tau = 1/2
    the theory column 1-(1-tau^r)^b is DYADIC, computed as an exact
    Fraction, so even the 'analytic' column hash-matches. Few bands of
    many rows = high precision / low recall; many bands of few rows =
    the reverse; this table is where the crossover is read off.

    Scale shape: ONE signature computation (row-local array_min per
    seed — no per-seed shuffle), then per config an equi-join on
    (band_id, md5-folded band key) whose output is the candidate set
    the config WOULD produce — the quantity being measured, reported
    as counts, never materialized beyond the count. The truth set is
    computed once through exact_jaccard_pairs (df-capped inverted
    index) and shared by all four configs."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", pmh_shingles(F.col("text")).alias("ts"))
    t = pin(t)

    def mh(seed: int):
        return F.array_min(
            F.transform(
                F.col("ts"),
                lambda tok: F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{seed}:"), tok)), 1, 12
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        )

    # Docs with an EMPTY shingle set (under 3 tokens) have NULL minhashes;
    # concat_ws would skip the NULLs and fold every such doc onto md5(''),
    # equi-joining all short docs into spurious candidates. The oracle's
    # mins CTE (UNNEST) simply produces no rows for them, so drop them
    # here before building signatures — they can never be candidates.
    sig = pin(
        t.filter(F.size("ts") > 0)
        .select(
            "doc_id",
            F.array(*[mh(s) for s in range(_PMH_SEEDS)]).alias("mhs"),
        )
    )
    truth = pin(exact_jaccard_pairs(t, _LSH_SWEEP_TAU, 1000))
    nt = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    theory = _lsh_sweep_theory()
    out = None
    for b, r in _LSH_SWEEP_CONFIGS:
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band_id"),
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    *[
                                        F.element_at(
                                            "mhs", band * r + j + 1
                                        )
                                        for j in range(r)
                                    ],
                                )
                            ).alias("bkey"),
                        )
                        for band in range(b)
                    ]
                )
            ).alias("bs"),
        ).select("doc_id", "bs.band_id", "bs.bkey")
        cand = pin(
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("da"),
                F.col("b.doc_id").alias("db"),
            )
            .distinct()
        )
        nc = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
        nh = cand.join(
            truth,
            (F.col("da") == F.col("doc_a")) & (F.col("db") == F.col("doc_b")),
            "left_semi",
        ).agg(F.count("*").cast("bigint").alias("n_hit"))
        row = (
            nc.crossJoin(F.broadcast(nt))
            .crossJoin(F.broadcast(nh))
            .select(
                F.lit(b).cast("bigint").alias("bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                "n_candidates",
                "n_true",
                "n_hit",
                F.expr("CAST(n_hit * 1000000 DIV GREATEST(n_true, 1)"
                       " AS BIGINT)").alias("recall_micro"),
                F.expr(
                    "CAST(n_hit * 1000000 DIV GREATEST(n_candidates, 1)"
                    " AS BIGINT)"
                ).alias("precision_micro"),
                F.lit(theory[(b, r)])
                .cast("bigint")
                .alias("theory_at_tau_micro"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("bands")

@register(
    "ext_cdc_chunk_dedup",
    survey_id="EXT-CDC-CHUNK",
    category="llm-dedup",
    oracle="""
WITH pos AS MATERIALIZED (
  SELECT doc_id, lang, text, len(text) AS n, g.i,
         CASE WHEN g.i >= 8 THEN
           CAST(('0x' || substr(md5(substr(text, CAST(g.i - 7 AS INT), 8)),
                               1, 12)) AS BIGINT)
         END AS w
  FROM documents,
       LATERAL (SELECT UNNEST(generate_series(1, len(text))) AS i) g
),
bnd AS MATERIALIZED (
  SELECT doc_id, lang, text, i
  FROM pos
  WHERE (i >= 8 AND w % 64 = 0) OR i = n
),
chunks AS MATERIALIZED (
  SELECT doc_id, lang,
         COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
           AS s,
         i AS e,
         md5(substr(text,
                    CAST(COALESCE(LAG(i) OVER (PARTITION BY doc_id
                                               ORDER BY i), 0) + 1
                         AS INT),
                    CAST(i - COALESCE(LAG(i) OVER (PARTITION BY doc_id
                                                   ORDER BY i), 0)
                         AS INT))) AS h
  FROM bnd
),
per AS MATERIALIZED (
  SELECT lang, h, CAST(COUNT(*) AS BIGINT) AS dup,
         CAST(MIN(e - s + 1) AS BIGINT) AS clen
  FROM chunks GROUP BY lang, h
)
SELECT lang,
       CAST(SUM(dup) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(dup * clen) AS BIGINT) AS total_chars,
       CAST(SUM(clen) AS BIGINT) AS distinct_chars,
       CAST((SUM(dup * clen) - SUM(clen)) * 1000000 // SUM(dup * clen)
            AS BIGINT) AS dedup_ratio_micro,
       CAST(MAX(dup) AS BIGINT) AS max_dup
FROM per GROUP BY lang ORDER BY lang
""",
)
def ext_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup (the LBFS/restic/borg storage
    family — dedup at the BLOB level, where the repo's shingle/MinHash/
    span operators dedup at the token level): every position whose
    8-char window fingerprint (md5, 48-bit) is ≡ 0 mod 64 is a chunk
    boundary (expected chunk ~64 chars; document end always closes the
    last chunk), so chunk boundaries are defined by CONTENT — an
    insertion shifts only the chunks it touches, never the whole
    stream, which is the property that makes this the storage-dedup
    standard.  Chunks hash by md5; per language the query reports
    chunk counts, distinct-chunk bytes, the dedup ratio (bytes saved
    by storing each distinct chunk once), and the hottest chunk's
    duplication count.

    Exactness: integer window fingerprints, LAG-based chunk spans with
    doc-partitioned windows, and md5 chunk ids — every column integer
    or hash.

    Scale shape: the position explode is corpus-char-scale (the same
    cost the winnowing/fingerprint family pays — one pass, row-local
    fingerprints); chunk assembly is a LAG window PARTITIONED BY
    doc_id; the dedup aggregate shuffles (lang, chunk-hash) pairs —
    chunk-scale, ~1/64th of the corpus rows."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    pos = d.select(
        "doc_id",
        "lang",
        "text",
        n.alias("n"),
        F.explode(F.sequence(F.lit(1), n)).alias("i"),
    )
    w = F.when(
        F.col("i") >= 8,
        F.conv(
            F.substring(
                F.md5(
                    F.expr("substr(text, CAST(i - 7 AS INT), 8)")
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    # r9 advisory fix: the boundary rows cross the doc_id window
    # exchange as bare (doc_id, lang, i) — NOT carrying `text`, which
    # would ship the whole document once per boundary (~L/64 times,
    # ≈160x byte amplification for a 10 KB doc). The text crosses the
    # wire exactly once per doc via the span→documents join below, and
    # the substr runs post-join in the same stage.
    bnd = pos.select("doc_id", "lang", "i", w.alias("w")).where(
        ((F.col("i") >= 8) & (F.col("w") % 64 == 0))
        | (F.col("i") == F.col("n"))
    )
    from pyspark.sql import Window

    w_doc = Window.partitionBy("doc_id").orderBy("i")
    spans = bnd.select(
        "doc_id",
        "lang",
        (F.coalesce(F.lag("i").over(w_doc), F.lit(0)) + 1).alias("s"),
        F.col("i").alias("e"),
    )
    chunks = spans.join(d.select("doc_id", "text"), "doc_id").select(
        "lang",
        (F.col("e") - F.col("s") + 1).alias("clen"),
        F.md5(
            F.expr(
                "substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT))"
            )
        ).alias("h"),
    )
    per = chunks.groupBy("lang", "h").agg(
        F.count("*").cast("bigint").alias("dup"),
        F.min("clen").cast("bigint").alias("clen"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("dup").cast("bigint").alias("n_chunks"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum(F.col("dup") * F.col("clen"))
            .cast("bigint")
            .alias("total_chars"),
            F.sum("clen").cast("bigint").alias("distinct_chars"),
            F.expr(
                "CAST((sum(dup * clen) - sum(clen)) * 1000000"
                " DIV sum(dup * clen) AS BIGINT)"
            ).alias("dedup_ratio_micro"),
            F.max("dup").cast("bigint").alias("max_dup"),
        )
        .orderBy("lang")
    )


# --- r10: Unicode-normalization dedup (r9 verdict #7) -----------------
# A DECLARED-SUBSET NFKC fold as a baked literal map (the SRP-planes
# pattern): fullwidth ASCII (letters/digits/punct + ideographic space)
# via 1:1 translate, Latin ligatures + superscript/circled digits via
# replace chains. Both engines apply the identical chain, so the fold
# is engine-exact by construction.
_UF_FW_SRC = "".join(chr(0xFF01 + i) for i in range(0x5E)) + "　"
_UF_FW_DST = "".join(chr(0x21 + i) for i in range(0x5E)) + " "
# longest-first so 'ffi'/'ffl' never half-fold through 'ff'
_UF_LIGS = [
    ("ﬃ", "ffi"),
    ("ﬄ", "ffl"),
    ("ﬀ", "ff"),
    ("ﬁ", "fi"),
    ("ﬂ", "fl"),
    ("ﬆ", "st"),
]
_UF_SUP = [
    ("⁰", "0"), ("¹", "1"), ("²", "2"), ("³", "3"),
    ("⁴", "4"), ("⁵", "5"), ("⁶", "6"), ("⁷", "7"),
    ("⁸", "8"), ("⁹", "9"),
]
_UF_CIRCLED = [(chr(0x2460 + i), str(i + 1)) for i in range(9)]


def _uf_fold_spark(col):
    out = F.translate(
        col,
        _UF_FW_SRC + "".join(s for s, _ in _UF_SUP + _UF_CIRCLED),
        _UF_FW_DST + "".join(d for _, d in _UF_SUP + _UF_CIRCLED),
    )
    for src, dst in _UF_LIGS:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return out


def _uf_fold_sql(expr: str) -> str:
    def q(s: str) -> str:
        return s.replace("'", "''")

    out = (
        f"translate({expr}, "
        f"'{q(_UF_FW_SRC + ''.join(s for s, _ in _UF_SUP + _UF_CIRCLED))}', "
        f"'{q(_UF_FW_DST + ''.join(d for _, d in _UF_SUP + _UF_CIRCLED))}')"
    )
    for src, dst in _UF_LIGS:
        out = f"replace({out}, '{q(src)}', '{q(dst)}')"
    return out


def _uf_plant_spark(col):
    """Forward homoglyph map for the planted twins: ligate 'st'/'fi'
    first (on ASCII), then fullwidth-shift all lowercase letters."""
    out = F.replace(col, F.lit("st"), F.lit("ﬆ"))
    out = F.replace(out, F.lit("fi"), F.lit("ﬁ"))
    return F.translate(
        out,
        "abcdefghijklmnopqrstuvwxyz",
        "".join(chr(0xFF41 + i) for i in range(26)),
    )


def _uf_plant_sql(expr: str) -> str:
    fw_lower = "".join(chr(0xFF41 + i) for i in range(26))
    return (
        f"translate(replace(replace({expr}, 'st', 'ﬆ'), "
        f"'fi', 'ﬁ'), 'abcdefghijklmnopqrstuvwxyz', '{fw_lower}')"
    )


@register(
    "ext_unicode_fold_dedup",
    survey_id="EXT-UNICODE-FOLD",
    category="llm-dedup",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, {_uf_plant_sql("text")} AS text
  FROM documents WHERE doc_id % 11 = 0
),
folded AS (
  SELECT doc_id, md5({_uf_fold_sql("text")}) AS canon_key FROM corpus
)
SELECT canon_key,
       ARG_MIN(doc_id, doc_id) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN doc_id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_planted
FROM folded GROUP BY canon_key
HAVING COUNT(*) > 1
ORDER BY canon_key
""",
)
def ext_unicode_fold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE-NORMALIZATION dedup (r9 verdict #7 — the gap between
    k02's whitespace/case fold and ext_semantic_dedup): a declared-
    subset NFKC fold — fullwidth ASCII block U+FF01–FF5E + ideographic
    space to ASCII via one 1:1 translate, Latin ligatures
    (ﬀ ﬁ ﬂ ﬃ ﬄ ﬆ, longest-first) and superscript/circled digits via
    replace chains, all baked literal maps — applied ROW-LOCAL in the
    scan stage, then the k01 arg_min hash-group dedup on the folded
    md5. Homoglyph twins are PLANTED in-query (every 11th doc gets a
    +10M-id twin with 'st'/'fi' ligated and lowercase shifted to
    fullwidth), so every planted group must collapse: n_planted ≥ 1
    with the keeper being the original ASCII doc. Real pipelines fold
    NFKC + confusables before hashing (Unicode TR#15/TR#39); the
    declared literal subset keeps both engines bit-identical without a
    Unicode library.

    Scale: the fold is a per-row expression chain (whole-stage
    codegen, no UDF); the only shuffle is the hash-group on the folded
    128-bit key — skew-free by construction, same plan family as K1."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.where(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            _uf_plant_spark(F.col("text")).alias("text"),
        )
    )
    folded = corpus.select(
        "doc_id", F.md5(_uf_fold_spark(F.col("text"))).alias("canon_key")
    )
    return (
        folded.groupBy("canon_key")
        .agg(
            F.min_by("doc_id", "doc_id").alias("keeper_doc_id"),
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(
                F.when(F.col("doc_id") >= 10_000_000, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_planted"),
        )
        .where(F.col("n_members") > 1)
        .orderBy("canon_key")
    )


_CIC_ORACLE = f"""
WITH src AS (
  SELECT doc_id, text,
         doc_id % 3 < 2 AS in_e1,
         doc_id % 6 = 0 AS revised,
         doc_id % 3 = 2 AS new2
  FROM documents
),
vers AS MATERIALIZED (
  SELECT doc_id, 1 AS epoch, text FROM src WHERE in_e1
  UNION ALL
  SELECT doc_id, 2, text || ' compaction revision marker'
  FROM src WHERE revised
  UNION ALL
  SELECT doc_id, 2, text FROM src WHERE new2
),
t AS MATERIALIZED (
  SELECT doc_id, epoch,
         list_distinct(list_transform(
           generate_series(1, GREATEST(len(s) - 2, 0)),
           i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS ts
  FROM (SELECT doc_id, epoch, string_split(text, ' ') AS s FROM vers)
),
hashed AS (
  SELECT doc_id, epoch, g.seed,
         CAST(('0x' || substr(md5(g.seed || ':' || tok), 1, 12)) AS BIGINT)
           AS h
  FROM (SELECT doc_id, epoch, UNNEST(ts) AS tok FROM t)
  CROSS JOIN generate_series(0, {_PMH_SEEDS - 1}) AS g(seed)
),
mins AS (
  SELECT doc_id, epoch, seed, MIN(h) AS mh
  FROM hashed GROUP BY doc_id, epoch, seed
),
entries AS MATERIALIZED (
  SELECT doc_id, epoch, seed // {_PMH_BAND} AS band_id,
         MIN(CASE WHEN seed % {_PMH_BAND} = 0 THEN mh END) AS v1,
         MIN(CASE WHEN seed % {_PMH_BAND} = 1 THEN mh END) AS v2
  FROM mins GROUP BY doc_id, epoch, seed // {_PMH_BAND}
),
latest AS MATERIALIZED (
  SELECT doc_id, MAX(epoch) AS le FROM entries GROUP BY doc_id
),
compacted AS MATERIALIZED (
  SELECT e.doc_id, e.band_id, e.v1, e.v2
  FROM entries e JOIN latest l
    ON e.doc_id = l.doc_id AND e.epoch = l.le
),
fresh AS MATERIALIZED (
  SELECT t.doc_id, e2.band_id, e2.v1, e2.v2
  FROM t JOIN latest l ON t.doc_id = l.doc_id AND t.epoch = l.le
  JOIN entries e2 ON e2.doc_id = t.doc_id AND e2.epoch = t.epoch
),
cp AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM compacted a JOIN compacted b
    ON a.band_id = b.band_id AND a.v1 = b.v1 AND a.v2 = b.v2
   AND a.doc_id < b.doc_id
),
fp AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM fresh a JOIN fresh b
    ON a.band_id = b.band_id AND a.v1 = b.v1 AND a.v2 = b.v2
   AND a.doc_id < b.doc_id
),
diffs AS (
  SELECT
    (SELECT COUNT(*) FROM (SELECT da, db FROM cp EXCEPT
                           SELECT da, db FROM fp))
    + (SELECT COUNT(*) FROM (SELECT da, db FROM fp EXCEPT
                             SELECT da, db FROM cp)) AS n_diff
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM entries) AS n_entries_before,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM compacted) AS n_entries_after,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM entries)
    - (SELECT CAST(COUNT(*) AS BIGINT) FROM compacted) AS n_dropped,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM
     (SELECT DISTINCT band_id, v1, v2 FROM entries)) AS n_buckets_before,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM
     (SELECT DISTINCT band_id, v1, v2 FROM compacted)) AS n_buckets_after,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cp) AS n_pairs_compacted,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_pairs_fresh,
  (SELECT n_diff FROM diffs) = 0 AS pairs_equal
"""


@register(
    "ext_dedup_index_compaction",
    survey_id="EXT-DEDUP-COMPACT",
    category="llm-dedup",
    oracle=_CIC_ORACLE,
)
def ext_dedup_index_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-EPOCH DEDUP-INDEX COMPACTION — the maintenance step a
    persistent near-dup index needs once ingestion spans epochs
    (i42/k16 keep per-run state; production keeps ONE index across
    runs and re-ingests revised documents): epoch 1 indexes docs with
    doc_id %% 3 < 2; epoch 2 adds the new docs (doc_id %% 3 = 2) AND
    re-ingests revisions (doc_id %% 6 = 0, three tokens appended), so
    the accumulated index holds SUPERSEDED entries under stale band
    keys. Compaction keeps each doc's latest-epoch entries only, and
    the declared invariant is VERIFIED, not assumed: candidate pairs
    from the compacted index must equal those from an index built
    from scratch on the latest version of every document (symmetric
    set difference counted to zero). Output: entry/bucket counts
    before and after, dropped-entry garbage volume, and the pair-set
    equality bit.

    Exactness: the portable-MinHash md5 banding (_PMH machinery, the
    k05/i42 oracle pattern) is bit-identical in both engines, so the
    whole record hash-matches.

    Scale shape: banding is ROW-LOCAL (pmh_band_structs — no shuffle
    until the counts); supersede resolution is a map-side-combinable
    max(epoch) + a keyed semi-join; the pair checks are band-key
    equi-joins (never all-pairs); EXCEPT runs on pair-id rows."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev_text = F.concat(
        F.col("text"), F.lit(" compaction revision marker")
    )
    vers = pin(
        d.where(F.col("doc_id") % 3 < 2)
        .select("doc_id", F.lit(1).alias("epoch"), "text")
        .unionByName(
            d.where(F.col("doc_id") % 6 == 0).select(
                "doc_id", F.lit(2).alias("epoch"), rev_text.alias("text")
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 3 == 2).select(
                "doc_id", F.lit(2).alias("epoch"), "text"
            )
        )
        # materialize the SHINGLE ARRAYS once: pmh_band_structs uses
        # its input expression 12 times (one array_min per seed), so
        # an inline pmh_shingles(text) would rebuild the shingle array
        # 12x per row on every consumer (measured: the ladder's sf1
        # rung crawled at ~2 cores for 45 min before this fix)
        .select(
            "doc_id", "epoch", pmh_shingles(F.col("text")).alias("ts")
        )
        .transform(spread)
    )
    entries = pin(
        vers.select(
            "doc_id",
            "epoch",
            F.explode(pmh_band_structs(F.col("ts"))).alias("bs"),
        )
        .select(
            "doc_id",
            "epoch",
            F.col("bs.band_id").alias("band_id"),
            F.col("bs.v1").alias("v1"),
            F.col("bs.v2").alias("v2"),
        )
    )
    # latest derives FROM entries: rename its key so the semi-style
    # join does not trip derived-dataframe attribute ambiguity
    latest = (
        entries.groupBy("doc_id")
        .agg(F.max("epoch").alias("le"))
        .select(F.col("doc_id").alias("ld"), "le")
    )
    compacted = entries.join(
        latest,
        (F.col("doc_id") == F.col("ld")) & (F.col("epoch") == F.col("le")),
    ).select("doc_id", "band_id", "v1", "v2")
    fresh = compacted  # structurally identical build path would hide a
    # bug; recompute the fresh side from the TEXT of the latest
    # versions instead:
    fresh = (
        vers.join(
            latest,
            (vers["doc_id"] == F.col("ld"))
            & (vers["epoch"] == F.col("le")),
        )
        .select(vers["doc_id"], "ts")
        .select(
            "doc_id",
            F.explode(pmh_band_structs(F.col("ts"))).alias("bs"),
        )
        .select(
            "doc_id",
            F.col("bs.band_id").alias("band_id"),
            F.col("bs.v1").alias("v1"),
            F.col("bs.v2").alias("v2"),
        )
    )

    def pairs(bands: DataFrame) -> DataFrame:
        return (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.v1") == F.col("b.v1"))
                & (F.col("a.v2") == F.col("b.v2"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("da"),
                F.col("b.doc_id").alias("db"),
            )
            .distinct()
        )

    compacted = pin(compacted)
    cp = pin(pairs(compacted))
    fp = pin(pairs(fresh))
    # (r11 note: a single full-outer-join symmetric-difference pass was
    # measured ~0.4 s SLOWER than the two exceptAll counts here — the
    # checkpointed inputs are tiny, so two small jobs beat one wider
    # shuffle; kept as-is.)
    n_diff = cp.exceptAll(fp).count() + fp.exceptAll(cp).count()
    stats = entries.agg(
        F.count("*").cast("bigint").alias("n_entries_before"),
        F.countDistinct("band_id", "v1", "v2")
        .cast("bigint")
        .alias("n_buckets_before"),
    )
    cstats = compacted.agg(
        F.count("*").cast("bigint").alias("n_entries_after"),
        F.countDistinct("band_id", "v1", "v2")
        .cast("bigint")
        .alias("n_buckets_after"),
    )
    pc = cp.agg(F.count("*").cast("bigint").alias("n_pairs_compacted"))
    pf = fp.agg(F.count("*").cast("bigint").alias("n_pairs_fresh"))
    return (
        stats.crossJoin(F.broadcast(cstats))
        .crossJoin(F.broadcast(pc))
        .crossJoin(F.broadcast(pf))
        .select(
            "n_entries_before",
            "n_entries_after",
            (F.col("n_entries_before") - F.col("n_entries_after")).alias(
                "n_dropped"
            ),
            "n_buckets_before",
            "n_buckets_after",
            "n_pairs_compacted",
            "n_pairs_fresh",
            F.lit(n_diff == 0).alias("pairs_equal"),
        )
    )


def _pmh_dup_graph_labels(spark, sf_dir, extra_cols):
    """Shared verified-MinHash dup graph + 3 synchronous min-label
    rounds (ext_dedup_cluster_canonical / ext_dedup_survivorship_audit).

    Returns ``(d, labels)``: ``d`` is the checkpointed per-doc frame
    (doc_id, *extra_cols, ts shingles, bands), ``labels`` the node →
    min-label frame after 3 rounds over the exact-Jaccard-verified
    (5*common >= 3*union) pair graph.

    r11 perf shape (guide §2.3/§2.4): the 12-seed md5 band structs are
    computed ONCE and materialized under the same localCheckpoint as
    the shingle arrays — the old shape derived them from ``ts`` on both
    sides of the candidate self-join, paying the minhash twice; the
    verify joins are projected to (doc_id, ts) so bands/metadata don't
    ride the exchanges; the symmetrized edge frame is a cheap map over
    the checkpointed e0 instead of a second eager materialization."""
    # repartition to the session's core count BEFORE the banding
    # projection: documents ships as one parquet split locally, and the
    # 12-seed md5 minhash is the dominant row-local CPU (measured 11.3 s
    # single-task vs ~1 s spread at sf0.1). defaultParallelism keeps it
    # scale- and core-count-adaptive (the driver benches at two core
    # counts); at real scale the scan already has many splits and one
    # narrow pre-expansion round-robin pass is noise.
    d = pin(
        load_table(spark, sf_dir, "documents")
        .transform(spread)
        .select(
            "doc_id",
            *extra_cols,
            pmh_shingles(F.col("text")).alias("ts"),
        )
        .withColumn("bands", pmh_band_structs(F.col("ts")))
    )
    bands = d.select(
        "doc_id",
        F.explode("bands").alias("bs"),
    ).select(
        "doc_id",
        F.col("bs.band_id").alias("band_id"),
        F.col("bs.v1").alias("v1"),
        F.col("bs.v2").alias("v2"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    common = F.size(F.array_intersect(F.col("ta.ts"), F.col("tb.ts")))
    union = F.size(F.col("ta.ts")) + F.size(F.col("tb.ts")) - common
    dv = d.select("doc_id", "ts")
    e0 = pin(
        cand.join(dv.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(dv.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
        .where(5 * common >= 3 * union)
        .select("doc_a", "doc_b")
    )
    edges = e0.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        e0.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(3):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("nl").alias("nm"))
        )
        labels = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"),
                F.coalesce(F.col("nm"), F.col("label")),
            ).alias("label"),
        )
        # r11 perf (guide §5): no per-round localCheckpoint — the loop
        # is bounded at 3 rounds, each label frame feeds exactly one
        # consumer (the next round), and edges is already checkpointed,
        # so one lazy DAG evaluates every round once where the eager
        # cut paid a materialization job per round.
    return d, labels


_CANON_ORACLE = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, GREATEST(len(s) - 2, 0)),
           i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS ts
  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
),
hashed AS (
  SELECT doc_id, g.seed,
         CAST(('0x' || substr(md5(g.seed || ':' || tok), 1, 12)) AS BIGINT)
           AS h
  FROM (SELECT doc_id, UNNEST(ts) AS tok FROM t)
  CROSS JOIN generate_series(0, {_PMH_SEEDS - 1}) AS g(seed)
),
mins AS (
  SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {_PMH_BAND} AS band_id,
         MIN(CASE WHEN seed % {_PMH_BAND} = 0 THEN mh END) AS v1,
         MIN(CASE WHEN seed % {_PMH_BAND} = 1 THEN mh END) AS v2
  FROM mins GROUP BY doc_id, seed // {_PMH_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.v1 = b.v1 AND a.v2 = b.v2
   AND a.doc_id < b.doc_id
),
e0 AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(ta.ts, tb.ts)) AS c,
           len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))
             AS u
    FROM cand JOIN t ta ON cand.doc_a = ta.doc_id
              JOIN t tb ON cand.doc_b = tb.doc_id
  ) WHERE 5 * c >= 3 * u
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM e0
          UNION ALL SELECT doc_b, doc_a FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
l1 AS (
  SELECT l0.node,
         LEAST(l0.label, COALESCE(MIN(l.label), l0.label)) AS label
  FROM l0 LEFT JOIN edges e ON e.src = l0.node
          LEFT JOIN l0 l ON l.node = e.dst
  GROUP BY l0.node, l0.label
),
l2 AS (
  SELECT l1.node,
         LEAST(l1.label, COALESCE(MIN(l.label), l1.label)) AS label
  FROM l1 LEFT JOIN edges e ON e.src = l1.node
          LEFT JOIN l1 l ON l.node = e.dst
  GROUP BY l1.node, l1.label
),
l3 AS (
  SELECT l2.node,
         LEAST(l2.label, COALESCE(MIN(l.label), l2.label)) AS label
  FROM l2 LEFT JOIN edges e ON e.src = l2.node
          LEFT JOIN l2 l ON l.node = e.dst
  GROUP BY l2.node, l2.label
),
mem AS (
  SELECT l3.node, l3.label, d.n_chars
  FROM l3 JOIN documents d ON d.doc_id = l3.node
),
clus AS (
  SELECT label AS cluster_label,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(MAX(ROW(n_chars, -node)) AS ROW(a BIGINT, b BIGINT)) AS k
  FROM mem GROUP BY label
)
SELECT cluster_label,
       n_members,
       CAST(-k.b AS BIGINT) AS canonical_doc,
       CAST(k.a AS BIGINT) AS canonical_chars,
       CAST(n_members - 1 AS BIGINT) AS dropped_docs,
       CAST(total_chars - k.a AS BIGINT) AS dropped_chars
FROM clus
ORDER BY n_members DESC, cluster_label
LIMIT 20
"""


@register(
    "ext_dedup_cluster_canonical",
    survey_id="EXT-DEDUP-CANONICAL",
    category="llm-dedup",
    oracle=_CANON_ORACLE,
)
def ext_dedup_cluster_canonical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CANONICAL SELECTION over near-dup clusters — the decision step
    AFTER detection (k05/ext_minhash_lsh_portable tell you which docs
    collide; a pipeline must then pick WHICH COPY TO KEEP): verified
    MinHash pairs (portable md5 banding, exact integer Jaccard
    5*common >= 3*union i.e. J >= 0.6) form the dup graph; 3
    synchronous min-label rounds (the house bounded-propagation
    semantics) group them into clusters; each cluster keeps its
    longest member (ties to the smaller doc_id) and the rest are the
    dedup dividend. Output: the 20 largest clusters with canonical
    doc, kept and dropped character volumes.

    Exactness: md5 banding and integer Jaccard make the graph
    hash-identical in both engines; min-label rounds are LEAST folds;
    the canonical argmax is max(struct(n_chars, -doc_id)).

    Scale shape: banding row-local, candidate join band-keyed, verify
    only on candidates, each propagation round one edge-keyed join +
    combinable MIN — never all-pairs, no corpus-sized window."""
    d, labels = _pmh_dup_graph_labels(spark, sf_dir, ("n_chars",))
    mem = labels.join(
        d.select("doc_id", "n_chars"),
        labels["node"] == F.col("doc_id"),
    ).select("node", "label", "n_chars")
    return (
        mem.groupBy(F.col("label").alias("cluster_label"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.max(
                F.struct(
                    F.col("n_chars").alias("a"),
                    (-F.col("node")).alias("b"),
                )
            ).alias("k"),
        )
        .select(
            "cluster_label",
            "n_members",
            (-F.col("k.b")).cast("bigint").alias("canonical_doc"),
            F.col("k.a").cast("bigint").alias("canonical_chars"),
            (F.col("n_members") - 1).cast("bigint").alias("dropped_docs"),
            (F.col("total_chars") - F.col("k.a"))
            .cast("bigint")
            .alias("dropped_chars"),
        )
        .orderBy(F.col("n_members").desc(), "cluster_label")
        .limit(20)
    )


_SURV_ORACLE = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, GREATEST(len(s) - 2, 0)),
           i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS ts
  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
),
hashed AS (
  SELECT doc_id, g.seed,
         CAST(('0x' || substr(md5(g.seed || ':' || tok), 1, 12)) AS BIGINT)
           AS h
  FROM (SELECT doc_id, UNNEST(ts) AS tok FROM t)
  CROSS JOIN generate_series(0, {_PMH_SEEDS - 1}) AS g(seed)
),
mins AS (
  SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {_PMH_BAND} AS band_id,
         MIN(CASE WHEN seed % {_PMH_BAND} = 0 THEN mh END) AS v1,
         MIN(CASE WHEN seed % {_PMH_BAND} = 1 THEN mh END) AS v2
  FROM mins GROUP BY doc_id, seed // {_PMH_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.v1 = b.v1 AND a.v2 = b.v2
   AND a.doc_id < b.doc_id
),
e0 AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(ta.ts, tb.ts)) AS c,
           len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))
             AS u
    FROM cand JOIN t ta ON cand.doc_a = ta.doc_id
              JOIN t tb ON cand.doc_b = tb.doc_id
  ) WHERE 5 * c >= 3 * u
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM e0
          UNION ALL SELECT doc_b, doc_a FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
l1 AS (
  SELECT l0.node,
         LEAST(l0.label, COALESCE(MIN(l.label), l0.label)) AS label
  FROM l0 LEFT JOIN edges e ON e.src = l0.node
          LEFT JOIN l0 l ON l.node = e.dst
  GROUP BY l0.node, l0.label
),
l2 AS (
  SELECT l1.node,
         LEAST(l1.label, COALESCE(MIN(l.label), l1.label)) AS label
  FROM l1 LEFT JOIN edges e ON e.src = l1.node
          LEFT JOIN l1 l ON l.node = e.dst
  GROUP BY l1.node, l1.label
),
l3 AS (
  SELECT l2.node,
         LEAST(l2.label, COALESCE(MIN(l.label), l2.label)) AS label
  FROM l2 LEFT JOIN edges e ON e.src = l2.node
          LEFT JOIN l2 l ON l.node = e.dst
  GROUP BY l2.node, l2.label
),
canon AS (
  SELECT label,
         CAST(MAX(ROW(d.n_chars, -l3.node))
              AS ROW(a BIGINT, b BIGINT)) AS k
  FROM l3 JOIN documents d ON d.doc_id = l3.node
  GROUP BY label
),
cls AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         CASE WHEN l3.node IS NULL THEN 'untouched'
              WHEN d.doc_id = -c.k.b THEN 'kept'
              ELSE 'dropped' END AS fate
  FROM documents d
  LEFT JOIN l3 ON l3.node = d.doc_id
  LEFT JOIN canon c ON c.label = l3.label
)
SELECT lang,
       CAST(SUM(CASE WHEN fate = 'untouched' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_untouched,
       CAST(SUM(CASE WHEN fate = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN fate = 'dropped' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN fate = 'dropped' THEN n_chars ELSE 0 END)
            AS BIGINT) AS dropped_chars,
       CAST(SUM(CASE WHEN fate <> 'dropped' THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS survival_micro
FROM cls GROUP BY lang ORDER BY lang
"""


@register(
    "ext_dedup_survivorship_audit",
    survey_id="EXT-DEDUP-SURVIVORSHIP",
    category="llm-dedup",
    oracle=_SURV_ORACLE,
)
def ext_dedup_survivorship_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEDUP SURVIVORSHIP AUDIT — the bias check a curation pipeline
    owes its users after canonical dedup (did near-dup removal
    disproportionately delete one language/domain?): the
    ext_dedup_cluster_canonical decision (MinHash pair graph, 3
    min-label rounds, keep the longest member) is replayed, every
    document classified kept / dropped / untouched, and the per-
    language survival card reported (counts, dropped character
    volume, exact survival rate in millionths). A skewed
    survival_micro across languages is the classic silent-curation
    failure this row exists to surface.

    Exactness: identical md5 graph machinery as the canonical
    operator; classification is a pair of keyed left joins; rates are
    integer DIV millionths.

    Scale shape: adds to the canonical pipeline only one
    documents-sized left join against the labeled-node table and a
    lang-sized combinable aggregate."""
    d, labels = _pmh_dup_graph_labels(spark, sf_dir, ("lang", "n_chars"))
    canon = (
        labels.join(
            d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
        )
        .groupBy("label")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars").alias("a"), (-F.col("node")).alias("b")
                )
            ).alias("k")
        )
        .select("label", (-F.col("k.b")).alias("keep_doc"))
    )
    cls = (
        d.select("doc_id", "lang", "n_chars")
        .join(
            labels.select(F.col("node").alias("doc_id"), "label"),
            "doc_id",
            "left",
        )
        .join(canon, "label", "left")
        .select(
            "lang",
            "n_chars",
            F.when(F.col("label").isNull(), F.lit("untouched"))
            .when(F.col("doc_id") == F.col("keep_doc"), F.lit("kept"))
            .otherwise(F.lit("dropped"))
            .alias("fate"),
        )
    )
    return (
        cls.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("fate") == "untouched", 1).otherwise(0))
            .cast("bigint")
            .alias("n_untouched"),
            F.sum(F.when(F.col("fate") == "kept", 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("fate") == "dropped", 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(
                F.when(F.col("fate") == "dropped", F.col("n_chars"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("dropped_chars"),
            F.expr(
                "CAST(SUM(CASE WHEN fate <> 'dropped' THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("survival_micro"),
        )
        .orderBy("lang")
    )


def _mpp_est_micro(r: int, seeds: int = _PMH_SEEDS, j: float = 0.6) -> int:
    """Analytic LSH S-curve hit probability at jaccard ``j`` for bands
    of ``r`` rows: 1 - (1 - j^r)^(seeds//r), floored to millionths.
    Computed HERE and injected into both engines as the same integer
    literal — pow() is transcendental enough to differ by ulps between
    libm and the JVM, so neither engine evaluates it."""
    return int((1.0 - (1.0 - j**r) ** (seeds // r)) * 1_000_000)


_MPP_ORACLE = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, GREATEST(len(s) - 2, 0)),
           i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])) AS ts
  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
),
hashed AS (
  SELECT doc_id, g.seed,
         CAST(('0x' || substr(md5(g.seed || ':' || tok), 1, 12)) AS BIGINT)
           AS h
  FROM (SELECT doc_id, UNNEST(ts) AS tok FROM t)
  CROSS JOIN generate_series(0, {_PMH_SEEDS - 1}) AS g(seed)
),
mins AS MATERIALIZED (
  SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY doc_id, seed
),
keys AS MATERIALIZED (
  SELECT r.r, doc_id, seed // r.r AS band_id,
         string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed) AS bkey
  FROM mins CROSS JOIN (SELECT UNNEST([1, 2, 3, 4]) AS r) r
  WHERE seed < (({_PMH_SEEDS} // r.r) * r.r)
  GROUP BY r.r, doc_id, seed // r.r
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.r, a.doc_id AS da, b.doc_id AS db
  FROM keys a JOIN keys b
    ON a.r = b.r AND a.band_id = b.band_id AND a.bkey = b.bkey
   AND a.doc_id < b.doc_id
),
ver1 AS MATERIALIZED (
  SELECT da, db FROM (
    SELECT da, db,
           len(list_intersect(ta.ts, tb.ts)) AS c,
           len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))
             AS u
    FROM (SELECT da, db FROM cand WHERE r = 1) c1
    JOIN t ta ON c1.da = ta.doc_id
    JOIN t tb ON c1.db = tb.doc_id
  ) WHERE 5 * c >= 3 * u
),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM ver1)
SELECT c.r AS r_rows,
       CAST({_PMH_SEEDS} // c.r AS BIGINT) AS n_bands,
       CAST(CASE c.r WHEN 1 THEN {_mpp_est_micro(1)}
                     WHEN 2 THEN {_mpp_est_micro(2)}
                     WHEN 3 THEN {_mpp_est_micro(3)}
                     ELSE {_mpp_est_micro(4)} END AS BIGINT)
         AS est_recall_micro,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN v.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_verified,
       CAST(SUM(CASE WHEN v.da IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // MAX(n1.nv) AS BIGINT) AS recall_micro
FROM cand c
LEFT JOIN ver1 v ON v.da = c.da AND v.db = c.db
CROSS JOIN n1
GROUP BY c.r
ORDER BY c.r
"""


@register(
    "ext_minhash_param_planner",
    survey_id="EXT-MINHASH-PLANNER",
    category="llm-dedup",
    oracle=_MPP_ORACLE,
)
def ext_minhash_param_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MINHASH-LSH PARAMETER PLANNER — the tuning card a pipeline
    consults before committing 100 TB to one (bands, rows) choice:
    from ONE 12-seed signature table, band the corpus at rows-per-band
    r = 1, 2, 3, 4 (12/6/4/3 bands), measure each banding's candidate
    volume and its RECALL against the verified J >= 0.6 pair set of
    the finest banding (r = 1 candidates are a superset of every
    coarser banding's — a pair sharing an r-row band shares each of
    its 1-row bands — so the reference covers all measured rows), and
    set the analytic S-curve estimate 1-(1-0.6^r)^(12/r) beside the
    measurement. The est-vs-measured gap is the fixture's Jaccard
    spectrum talking — exactly what the planner exists to reveal.

    Exactness: md5 signatures; band keys are ':'-joined min strings in
    seed order; recall is integer millionths against an exact integer
    Jaccard verify; S-curve constants are Python-computed literals
    injected into BOTH engines (pow differs by ulps between libm and
    the JVM, so neither engine evaluates it).

    Scale shape: signatures once (one fan-out shuffle), each banding a
    band-key equi-join over 3-12 skinny rows per doc, verification
    only on the r=1 candidate set, coarser rows check membership via a
    pair-keyed left join — never all-pairs."""
    # repartition first: the single local parquet split would run the
    # shingle transform AND the exploded per-(doc, seed, tok) md5 stage
    # below on one task (see the pmh helper's measured 11.3 s).
    d = pin(
        load_table(spark, sf_dir, "documents")
        .transform(spread)
        .select("doc_id", pmh_shingles(F.col("text")).alias("ts"))
    )
    # r11 perf (guide §2.3/§2.4): the per-seed minimums are ROW-LOCAL
    # (array_min over the shingle array per seed — the pmh_band_structs
    # recipe), so the old exploded (doc, seed, tok) md5 stage and its
    # 12M-row shuffle + two nested groupBys are gone; per-config band
    # keys are sliced out of the signature array in the same projection.
    # Identical arithmetic: min over tok of md5("{seed}:{tok}")[:12] as
    # bigint, band key = ':'-joined mins in seed order.
    def mh(seed: int):
        return F.array_min(
            F.transform(
                F.col("ts"),
                lambda tok: F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{seed}:"), tok)), 1, 12
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        )

    # Docs with an empty shingle set had no exploded rows (no minimum)
    # in the old shape — exclude them identically.
    sig = pin(
        d.where(F.size("ts") > 0)
        .select(
            "doc_id",
            F.array(*[mh(s) for s in range(_PMH_SEEDS)]).alias("mhs"),
        )
    )
    cands = []
    for r in (1, 2, 3, 4):
        nb = _PMH_SEEDS // r
        band_structs = F.transform(
            F.sequence(F.lit(0), F.lit(nb - 1)),
            lambda b: F.struct(
                b.alias("band_id"),
                F.array_join(
                    F.transform(
                        F.slice(F.col("mhs"), b * r + 1, r),
                        lambda x: x.cast("string"),
                    ),
                    ":",
                ).alias("bkey"),
            ),
        )
        keys = sig.select(
            "doc_id", F.explode(band_structs).alias("bs")
        ).select(
            "doc_id",
            F.col("bs.band_id").alias("band_id"),
            F.col("bs.bkey").alias("bkey"),
        )
        cands.append(
            keys.alias("a")
            .join(
                keys.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.lit(r).alias("r"),
                F.col("a.doc_id").alias("da"),
                F.col("b.doc_id").alias("db"),
            )
            .distinct()
        )
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    cand = pin(cand)
    common = F.size(F.array_intersect(F.col("ta.ts"), F.col("tb.ts")))
    union = F.size(F.col("ta.ts")) + F.size(F.col("tb.ts")) - common
    ver1 = pin(
        cand.where(F.col("r") == 1)
        .join(d.alias("ta"), F.col("da") == F.col("ta.doc_id"))
        .join(d.alias("tb"), F.col("db") == F.col("tb.doc_id"))
        .where(5 * common >= 3 * union)
        .select("da", "db")
    )
    n1 = F.broadcast(ver1.agg(F.count("*").cast("bigint").alias("nv")))
    est = F.when(F.col("r_rows") == 1, F.lit(_mpp_est_micro(1)))
    for r in (2, 3, 4):
        est = est.when(F.col("r_rows") == r, F.lit(_mpp_est_micro(r)))
    return (
        cand.join(
            ver1.select(
                F.col("da").alias("vda"), F.col("db").alias("vdb")
            ),
            (F.col("da") == F.col("vda")) & (F.col("db") == F.col("vdb")),
            "left",
        )
        .crossJoin(n1)
        .groupBy(F.col("r").alias("r_rows"))
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("vda").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_verified"),
            F.expr(
                "CAST(SUM(CASE WHEN vda IS NOT NULL THEN 1 ELSE 0 END)"
                " * 1000000 DIV MAX(nv) AS BIGINT)"
            ).alias("recall_micro"),
        )
        .select(
            "r_rows",
            F.expr(f"CAST({_PMH_SEEDS} DIV r_rows AS BIGINT)").alias(
                "n_bands"
            ),
            est.cast("bigint").alias("est_recall_micro"),
            "n_candidates",
            "n_verified",
            "recall_micro",
        )
        .orderBy("r_rows")
    )
