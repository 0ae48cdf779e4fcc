"""Hash-exact classical-ML training operators (EXT — SURVEY §2.3 scale
rule; the reference has no relational surface).

Four ML primitives a training-data platform runs in-engine rather than
exporting to a modeling stack: a decision-stump (one-level CART) fit, a
multinomial Naive Bayes classifier, equi-depth feature bucketing, and
token↔label mutual information for feature selection. Each is written in
the determinism discipline (NOTES.md playbook): all statistics reduce to
INTEGER counts first (exact at any partitioning), impurity/probability
arithmetic is a fixed IEEE-double expression tree over those integers
(deterministic — only *order-dependent sums* and *transcendentals* vary
between engines), and every ln() is evaluated on integers then floored
to a 1e-9 grid and summed as BIGINT so the scores are bit-exact.

Scale shape (shared by all four): one keyed aggregation from the fact
table down to a counts table that is tiny (|distinct feature values| ×
|classes|), then all model math happens on the tiny table with windows /
broadcast joins. Nothing here ever shuffles model math over fact rows —
the 100 TB cost is exactly one map-side-combinable groupBy per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nibbler_spark.queries import pin, register
from nibbler_spark.queries._helpers import dsum, spread, sql_dsum
from nibbler_spark.sources import load_table


def _gridln(c: Column) -> Column:
    """floor(ln(x) * 1e9) as BIGINT — the portable log: ln() of an
    integer-valued double differs between libm and the JVM by ulps, but
    flooring to a 1e-9 grid absorbs that (boundary flips need the true
    value within ~1e-16 of a grid line — negligible for the small set of
    distinct integer arguments these queries evaluate)."""
    return F.floor(F.log(c) * F.lit(1000000000.0)).cast("bigint")


_SQL_GRIDLN = "CAST(FLOOR(LN({x}) * 1e9) AS BIGINT)"


@register(
    "ext_decision_stump",
    survey_id="EXT-STUMP",
    category="ml-exact",
    oracle="""
WITH rows_f AS (
  SELECT CAST(l_quantity AS INTEGER) AS qty,
         CAST(ROUND(l_discount * 100) AS INTEGER) AS disc_cents,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
),
hist AS (
  SELECT 'qty' AS feature, qty AS v,
         COUNT(*) AS n, SUM(pos) AS npos
  FROM rows_f GROUP BY qty
  UNION ALL
  SELECT 'disc_cents' AS feature, disc_cents AS v,
         COUNT(*) AS n, SUM(pos) AS npos
  FROM rows_f GROUP BY disc_cents
),
cum AS (
  SELECT feature, v,
         CAST(SUM(n) OVER w AS BIGINT) AS nl,
         CAST(SUM(npos) OVER w AS BIGINT) AS pl,
         CAST(SUM(n) OVER f AS BIGINT) AS nt,
         CAST(SUM(npos) OVER f AS BIGINT) AS pt,
         MAX(v) OVER f AS vmax
  FROM hist
  WINDOW w AS (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         f AS (PARTITION BY feature)
),
split AS (
  SELECT feature, v AS threshold, nl, nt - nl AS nr,
         (CAST(nl AS DOUBLE)
            - (CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
               + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE))
              / CAST(nl AS DOUBLE)
          + CAST(nt - nl AS DOUBLE)
            - (CAST(pt - pl AS DOUBLE) * CAST(pt - pl AS DOUBLE)
               + CAST((nt - nl) - (pt - pl) AS DOUBLE)
                 * CAST((nt - nl) - (pt - pl) AS DOUBLE))
              / CAST(nt - nl AS DOUBLE))
         / CAST(nt AS DOUBLE) AS gini,
         CASE WHEN 2 * pl >= nl THEN 'R' ELSE 'other' END AS left_label,
         CASE WHEN 2 * (pt - pl) >= (nt - nl) THEN 'R' ELSE 'other' END
           AS right_label
  FROM cum WHERE v < vmax
)
SELECT feature, threshold, gini, nl AS n_left, nr AS n_right,
       left_label, right_label
FROM split ORDER BY gini, feature, threshold LIMIT 1
""",
)
def ext_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level CART fit (decision stump) predicting returns
    (l_returnflag = 'R') from quantity and discount: the exact
    weighted-Gini-minimizing (feature, threshold) split. The classic
    distributed tree algorithm: ONE map-side-combinable groupBy builds a
    per-feature-value class histogram (≤ ~60 rows total), cumulative
    sums over the histogram give every candidate split's left/right
    class counts, and the Gini of each split is a fixed double
    expression over those integers — bit-identical across engines with
    no rounding, because IEEE +,-,*,/ on identical operands are
    deterministic (only transcendentals and reduction order aren't).
    At 100 TB this is exactly how Spark MLlib's tree fit works
    (candidate-bin statistics, not per-row sorting): the fact scan is
    the only big stage, the split search runs on kilobytes."""
    li = load_table(spark, sf_dir, "lineitem")
    rows_f = li.select(
        F.col("l_quantity").cast("int").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("int").alias("disc_cents"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    hists = []
    for feat in ("qty", "disc_cents"):
        hists.append(
            rows_f.groupBy(F.col(feat).alias("v"))
            .agg(F.count("*").alias("n"), F.sum("pos").alias("npos"))
            .select(F.lit(feat).alias("feature"), "v", "n", "npos")
        )
    hist = hists[0].unionAll(hists[1])
    w = (
        Window.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f_all = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "v",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("npos").over(w).cast("bigint").alias("pl"),
        F.sum("n").over(f_all).cast("bigint").alias("nt"),
        F.sum("npos").over(f_all).cast("bigint").alias("pt"),
        F.max("v").over(f_all).alias("vmax"),
    ).where(F.col("v") < F.col("vmax"))
    nl_d = F.col("nl").cast("double")
    pl_d = F.col("pl").cast("double")
    ql_d = (F.col("nl") - F.col("pl")).cast("double")
    nr_d = (F.col("nt") - F.col("nl")).cast("double")
    pr_d = (F.col("pt") - F.col("pl")).cast("double")
    qr_d = ((F.col("nt") - F.col("nl")) - (F.col("pt") - F.col("pl"))).cast(
        "double"
    )
    gini = (
        nl_d
        - (pl_d * pl_d + ql_d * ql_d) / nl_d
        + nr_d
        - (pr_d * pr_d + qr_d * qr_d) / nr_d
    ) / F.col("nt").cast("double")
    return (
        cum.select(
            "feature",
            F.col("v").alias("threshold"),
            gini.alias("gini"),
            F.col("nl").alias("n_left"),
            (F.col("nt") - F.col("nl")).alias("n_right"),
            F.when(2 * F.col("pl") >= F.col("nl"), "R")
            .otherwise("other")
            .alias("left_label"),
            F.when(
                2 * (F.col("pt") - F.col("pl"))
                >= (F.col("nt") - F.col("nl")),
                "R",
            )
            .otherwise("other")
            .alias("right_label"),
        )
        .orderBy("gini", "feature", "threshold")
        .limit(1)
    )


_NB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
  FROM documents
),
tokc AS (
  SELECT lang AS l, w, COUNT(*) AS c FROM toks GROUP BY lang, w
),
nl AS (
  SELECT l, CAST(SUM(c) AS BIGINT) AS n_l FROM tokc GROUP BY l
),
vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
dl AS (SELECT lang AS l, COUNT(*) AS d_l FROM documents GROUP BY lang),
dtot AS (SELECT COUNT(*) AS d FROM documents),
m AS (
  SELECT doc_id, lang AS actual, w, COUNT(*) AS mw
  FROM toks GROUP BY doc_id, lang, w
),
docsum AS (
  SELECT doc_id, actual, CAST(SUM(mw) AS BIGINT) AS t_doc
  FROM m GROUP BY doc_id, actual
),
terms AS (
  SELECT m.doc_id, tokc.l,
         CAST(SUM(m.mw * {_SQL_GRIDLN.format(x='tokc.c + 1')}) AS BIGINT)
           AS term_sum
  FROM m JOIN tokc ON m.w = tokc.w
  GROUP BY m.doc_id, tokc.l
),
scored AS (
  SELECT ds.doc_id, ds.actual, nl.l,
         ({_SQL_GRIDLN.format(x='dl.d_l')}
          - {_SQL_GRIDLN.format(x='dtot.d')}
          + COALESCE(t.term_sum, 0)
          - ds.t_doc * {_SQL_GRIDLN.format(x='nl.n_l + vocab.v')})
           AS score_e9
  FROM docsum ds
  CROSS JOIN nl
  CROSS JOIN vocab
  CROSS JOIN dtot
  JOIN dl ON dl.l = nl.l
  LEFT JOIN terms t ON t.doc_id = ds.doc_id AND t.l = nl.l
),
pred AS (
  SELECT doc_id, actual, l AS pred_lang,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score_e9 DESC, l ASC) AS rk
  FROM scored
)
SELECT actual AS actual_lang, pred_lang, COUNT(*) AS n_docs
FROM pred WHERE rk = 1
GROUP BY actual, pred_lang
ORDER BY actual_lang, pred_lang
"""


@register(
    "ext_naive_bayes",
    survey_id="EXT-NBAYES",
    category="ml-exact",
    oracle=_NB_ORACLE,
)
def ext_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and
    evaluated in-engine on the documents table (training-set confusion
    matrix — the standard in-pipeline smoke evaluation). Laplace-1
    smoothing; score(doc, l) = ln P(l) + Σ_w m_w·ln((c_wl+1)/(N_l+V)).
    Determinism: every ln() argument is an INTEGER (count+1, class token
    totals, doc counts), evaluated once per distinct integer and floored
    to a 1e-9 grid (bigint), so per-doc scores are exact BIGINT sums —
    no order-dependent double accumulation anywhere. Unseen (w,l) pairs
    contribute ln(0+1)=0, so the per-class term sum needs only an INNER
    join against the observed count table (no |classes|× fanout of the
    token stream); the |classes| fanout happens on the per-doc summary.
    Scale: token counts are one map-side-combinable groupBy; the scoring
    join shuffles on the token key; priors/class totals broadcast.
    argmax via a doc_id-partitioned row_number (score desc, lang asc)."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    tokc = toks.groupBy(F.col("lang").alias("l"), "w").agg(
        F.count("*").alias("c")
    )
    n_l = tokc.groupBy("l").agg(F.sum("c").cast("bigint").alias("n_l"))
    vocab = toks.agg(F.countDistinct("w").alias("v"))
    d_l = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.col("lang").alias("l"))
        .agg(F.count("*").alias("d_l"))
    )
    dtot = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("d")
    )
    m = toks.groupBy("doc_id", F.col("lang").alias("actual"), "w").agg(
        F.count("*").alias("mw")
    )
    docsum = m.groupBy("doc_id", "actual").agg(
        F.sum("mw").cast("bigint").alias("t_doc")
    )
    terms = (
        m.join(tokc, "w")
        .groupBy("doc_id", "l")
        .agg(
            F.sum(F.col("mw") * _gridln(F.col("c") + 1))
            .cast("bigint")
            .alias("term_sum")
        )
    )
    class_const = (
        n_l.join(d_l, "l")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dtot))
        .select(
            "l",
            (
                _gridln(F.col("d_l"))
                - _gridln(F.col("d"))
            ).alias("prior_g"),
            _gridln(F.col("n_l") + F.col("v")).alias("denom_g"),
        )
    )
    scored = (
        docsum.crossJoin(F.broadcast(class_const))
        .join(terms, ["doc_id", "l"], "left")
        .select(
            "doc_id",
            "actual",
            "l",
            (
                F.col("prior_g")
                + F.coalesce(F.col("term_sum"), F.lit(0))
                - F.col("t_doc") * F.col("denom_g")
            ).alias("score_e9"),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("score_e9").desc(), F.col("l").asc()
    )
    pred = scored.withColumn("rk", F.row_number().over(w_doc)).where(
        F.col("rk") == 1
    )
    return (
        pred.groupBy(
            F.col("actual").alias("actual_lang"),
            F.col("l").alias("pred_lang"),
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    )


@register(
    "ext_equidepth_bucketing",
    survey_id="EXT-EQUIDEPTH",
    category="ml-exact",
    oracle=f"""
WITH cuts AS (
  SELECT quantile_cont(o_totalprice,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
  FROM orders
),
b AS (
  SELECT CAST(
           (CASE WHEN o_totalprice > q[1] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[2] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[3] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[4] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[5] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[6] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[7] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[8] THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice > q[9] THEN 1 ELSE 0 END)
         AS INTEGER) AS bucket,
         o_totalprice
  FROM orders CROSS JOIN cuts
)
SELECT bucket, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       {sql_dsum('o_totalprice')} AS total
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def ext_equidepth_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) feature discretization of o_totalprice — the
    quantile-binning step of feature pipelines (Spark MLlib
    QuantileDiscretizer semantics, exact cuts). Cut points come from the
    exact interpolated percentile (both engines interpolate linearly on
    identical doubles — d17 precedent); each row's bucket is the count
    of cuts strictly below it, written as a fixed 9-term expression so
    the comparison set is identical in both engines. Scale: the cuts
    are one aggregate (at 100 TB swap in approx_percentile and the
    same plan holds — the discretization join is a 1-row broadcast
    either way); bucket assignment is row-local; the profile is one
    map-side-combinable groupBy on a 10-value key."""
    o = load_table(spark, sf_dir, "orders")
    cuts = o.agg(
        F.percentile(
            "o_totalprice",
            F.array(*[F.lit(x / 10.0) for x in range(1, 10)]),
        ).alias("q")
    )
    bucket = sum(
        F.when(F.col("o_totalprice") > F.col("q")[i], 1).otherwise(0)
        for i in range(9)
    ).cast("int")
    b = o.crossJoin(F.broadcast(cuts)).select(
        bucket.alias("bucket"), "o_totalprice"
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy("bucket")
    )


@register(
    "ext_mutual_information",
    survey_id="EXT-MI",
    category="ml-exact",
    oracle="""
WITH pres AS (
  SELECT DISTINCT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
  FROM documents
),
df AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n1
  FROM pres GROUP BY w
  HAVING COUNT(*) BETWEEN 10 AND 200
),
dl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_l
       FROM documents GROUP BY lang),
dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
cells AS (
  SELECT p.w, p.lang, CAST(COUNT(*) AS BIGINT) AS n11,
         ANY_VALUE(df.n1) AS n1
  FROM pres p JOIN df ON p.w = df.w
  GROUP BY p.w, p.lang
),
mi AS (
  SELECT c.w, c.lang,
         CASE WHEN c.n11 = 0 THEN 0.0 ELSE
           (CAST(c.n11 AS DOUBLE) / n)
           * LN(CAST(n AS DOUBLE) * c.n11
                / (CAST(c.n1 AS DOUBLE) * dl.d_l)) END
       + CASE WHEN c.n1 - c.n11 = 0 THEN 0.0 ELSE
           (CAST(c.n1 - c.n11 AS DOUBLE) / n)
           * LN(CAST(n AS DOUBLE) * (c.n1 - c.n11)
                / (CAST(c.n1 AS DOUBLE) * (n - dl.d_l))) END
       + CASE WHEN dl.d_l - c.n11 = 0 THEN 0.0 ELSE
           (CAST(dl.d_l - c.n11 AS DOUBLE) / n)
           * LN(CAST(n AS DOUBLE) * (dl.d_l - c.n11)
                / (CAST(n - c.n1 AS DOUBLE) * dl.d_l)) END
       + CASE WHEN (n - c.n1) - (dl.d_l - c.n11) = 0 THEN 0.0 ELSE
           (CAST((n - c.n1) - (dl.d_l - c.n11) AS DOUBLE) / n)
           * LN(CAST(n AS DOUBLE) * ((n - c.n1) - (dl.d_l - c.n11))
                / (CAST(n - c.n1 AS DOUBLE) * (n - dl.d_l))) END
         AS mi_raw
  FROM cells c JOIN dl ON c.lang = dl.lang CROSS JOIN dtot
)
SELECT lang, w AS token, ROUND(mi_raw, 6) + 0 AS mi
FROM mi
ORDER BY ROUND(mi_raw, 6) DESC, lang, token
LIMIT 20
""",
)
def ext_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-complete mutual information I(token-presence; lang) for
    feature selection — the top-20 most lang-informative mid-frequency
    tokens (document frequency 10..200). The 2×2 presence table per
    (token, lang) comes from integer counts only (n11 observed; the
    other three cells derived from df, class doc counts, and N), the MI
    sum is a fixed 4-term expression with 0·ln0 = 0 guards, and the
    transcendental ln is absorbed by rounding the FINAL value to 1e-6
    (playbook rule 3) — ranking uses the rounded value with (lang,
    token) tie-breaks so ulp drift cannot reorder. Scale: presence is
    a distinct over (doc, token) — map-side combinable; every later
    join is on the token key or broadcast (class counts, N); top-20 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    df_t = (
        pres.groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n1"))
        .where(F.col("n1").between(10, 200))
    )
    d_l = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("d_l")
    )
    dtot = docs.agg(F.count("*").cast("bigint").alias("n"))
    cells = (
        pres.join(df_t, "w")
        .groupBy("w", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n11"),
            F.any_value("n1").alias("n1"),
        )
    )
    n = F.col("n").cast("double")
    n11 = F.col("n11").cast("double")
    n1 = F.col("n1").cast("double")
    dl = F.col("d_l").cast("double")

    def term(num: Column, lognum: Column, logden: Column) -> Column:
        return F.when(num == 0, F.lit(0.0)).otherwise(
            (num / n) * F.log(lognum / logden)
        )

    mi_raw = (
        term(n11, n * n11, n1 * dl)
        + term(n1 - n11, n * (n1 - n11), n1 * (n - dl))
        + term(dl - n11, n * (dl - n11), (n - n1) * dl)
        + term(
            (n - n1) - (dl - n11),
            n * ((n - n1) - (dl - n11)),
            (n - n1) * (n - dl),
        )
    )
    mi = (
        cells.join(F.broadcast(d_l), "lang")
        .crossJoin(F.broadcast(dtot))
        .select("lang", "w", mi_raw.alias("mi_raw"))
    )
    return (
        mi.select(
            "lang",
            F.col("w").alias("token"),
            (F.round("mi_raw", 6) + F.lit(0.0)).alias("mi"),
        )
        .orderBy(F.col("mi").desc(), "lang", "token")
        .limit(20)
    )


# Poisson(1) inverse-CDF thresholds on the 48-bit hash grid:
# T[k] = floor(P(X <= k) * 2^48); a uniform u in [0, 2^48) maps to the
# weight w = #{k : u >= T[k]} (so w = 0 with prob ~e^-1, etc., max 8).
_POIS_T = [
    103548857136060, 207097714272121, 258872142840152, 276130285696162,
    280444821410164, 281307728552965, 281451546410098, 281472091818260,
]


@register(
    "ext_poisson_bootstrap_ci",
    survey_id="EXT-BOOTSTRAP",
    category="ml-exact",
    mode="bounded",
    oracle=f"""
WITH reps AS (SELECT UNNEST(generate_series(0, 31)) AS rep),
w AS (
  SELECT r.rep,
         CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':'
                              || CAST(r.rep AS VARCHAR)), 1, 12))
              AS BIGINT) AS u
  FROM orders o CROSS JOIN reps r
),
wt AS (
  SELECT rep, cents,
         CASE WHEN u < {_POIS_T[0]} THEN 0
              WHEN u < {_POIS_T[1]} THEN 1
              WHEN u < {_POIS_T[2]} THEN 2
              WHEN u < {_POIS_T[3]} THEN 3
              WHEN u < {_POIS_T[4]} THEN 4
              WHEN u < {_POIS_T[5]} THEN 5
              WHEN u < {_POIS_T[6]} THEN 6
              WHEN u < {_POIS_T[7]} THEN 7
              ELSE 8 END AS wgt
  FROM w
),
rm AS (
  SELECT rep, CAST(SUM(wgt * cents) AS BIGINT) AS swc,
         CAST(SUM(wgt) AS BIGINT) AS sw
  FROM wt GROUP BY rep
),
means AS (
  SELECT rep, CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) AS m FROM rm
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS r FROM means
),
pt AS (
  SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) AS pm
  FROM orders
)
SELECT CAST(32 AS BIGINT) AS n_replicates,
       pt.pm AS point_mean_cents,
       lo.m AS ci_lo_cents,
       hi.m AS ci_hi_cents,
       pt.pm >= lo.m AND pt.pm <= hi.m AS point_in_ci
FROM pt,
     (SELECT m FROM ranked WHERE r = 2) lo,
     (SELECT m FROM ranked WHERE r = 31) hi
""",
)
def ext_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval — THE distributed
    bootstrap (Chamandy et al., Google 2012): instead of resampling n
    rows with replacement (impossible to coordinate across
    partitions), every row independently draws a Poisson(1) weight
    per replicate, turning each of the 32 bootstrap replicates into
    one weighted aggregate that needs no global coordination at all.
    The Poisson draw here is DETERMINISTIC and engine-portable: u =
    md5-derived 48-bit integer per (row, replicate), mapped through
    the Poisson(1) inverse CDF as PRE-COMPUTED INTEGER thresholds on
    the 2^48 grid — so there is no float math anywhere before each
    replicate's single bigint/bigint division, and the oracle
    reproduces every replicate mean bit-for-bit (hash-checked), not
    just the interval. The 95%-ish CI is the 2nd/31st of the 32
    ranked replicate means (rep-tie-broken); the declared bound is
    that the full-sample mean lies inside it. Scale: one map-side
    projection expands 32 weights per row; everything downstream is a
    32-cell keyed aggregate — no resampled copies of the data ever
    materialize."""
    # spread(): the 32-way replicate expansion computes an md5 per
    # (row, rep) — off the 1-split local scan that all runs in one
    # task; the per-rep aggregate is map-side combinable so the added
    # exchange moves raw orders rows once (no-op at real scale).
    o = spread(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    w = o.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"),
    ).select(
        "rep",
        "cents",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    wgt = F.lit(8)
    for k in range(7, -1, -1):
        wgt = F.when(F.col("u") < _POIS_T[k], F.lit(k)).otherwise(wgt)
    rm = (
        w.select("rep", "cents", wgt.alias("wgt"))
        .groupBy("rep")
        .agg(
            F.sum(F.col("wgt") * F.col("cents"))
            .cast("bigint")
            .alias("swc"),
            F.sum("wgt").cast("bigint").alias("sw"),
        )
    )
    means = rm.select(
        "rep", (F.col("swc").cast("double") / F.col("sw").cast("double"))
        .alias("m")
    )
    # 32 replicate means: a driver-side sort of a 32-row result
    vals = sorted((r["m"], r["rep"]) for r in means.collect())
    lo, hi = vals[1][0], vals[30][0]
    pt = o.agg(
        (F.sum("cents").cast("double") / F.count("*")).alias("pm")
    ).first()["pm"]
    return spark.createDataFrame(
        [(32, pt, lo, hi, bool(lo <= pt <= hi))],
        "n_replicates bigint, point_mean_cents double, "
        "ci_lo_cents double, ci_hi_cents double, point_in_ci boolean",
    )


@register(
    "ext_ks_two_sample",
    survey_id="EXT-KSTEST",
    category="ml-exact",
    oracle="""
WITH t AS (
  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS g2
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
n AS (SELECT CAST(SUM(g1) AS BIGINT) AS n1, CAST(SUM(g2) AS BIGINT) AS n2
      FROM t),
v AS (
  SELECT cents, CAST(SUM(g1) AS BIGINT) AS a, CAST(SUM(g2) AS BIGINT) AS b
  FROM t GROUP BY cents
),
c AS (
  SELECT cents,
         SUM(a) OVER (ORDER BY cents) AS c1,
         SUM(b) OVER (ORDER BY cents) AS c2
  FROM v
),
d AS (
  SELECT CAST(MAX(ABS(c1 * n.n2 - c2 * n.n1)) AS BIGINT) AS d_num
  FROM c, n
)
SELECT n.n1, n.n2, d.d_num,
       CAST(d.d_num AS DOUBLE) / CAST(n.n1 * n.n2 AS DOUBLE) AS d_stat,
       CAST(d.d_num AS DOUBLE) / CAST(n.n1 * n.n2 AS DOUBLE)
         > 1.358e0 * sqrt(CAST(n.n1 + n.n2 AS DOUBLE)
                          / CAST(n.n1 * n.n2 AS DOUBLE)) AS reject_h0
FROM n, d
""",
)
def ext_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test, INTEGER-EXACT: D =
    max|F1(v) − F2(v)| is computed as max|c1·n2 − c2·n1| over the
    pooled distinct values (the cross-multiplied form keeps the whole
    statistic in BIGINT — no float ECDFs to drift), comparing the
    price distributions of URGENT vs LOW orders. The cumulative
    counts use the repo's bucketed two-phase prefix-sum (per-bucket
    totals → broadcast offsets → bucket-partitioned window), so no
    unpartitioned window touches the full distinct-value table — the
    same pattern that carries EXT-SKYLINE/two_phase_rank at 100 TB.
    Decision at α=0.05 via the asymptotic critical value 1.358·
    √((n1+n2)/(n1·n2)) (IEEE sqrt is correctly rounded, so the
    boolean is engine-stable). The oracle uses one global window —
    the reference formulation the distributed plan must equal."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    t = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g1"),
        F.when(F.col("o_orderpriority") == "5-LOW", 1)
        .otherwise(0)
        .alias("g2"),
    )
    n = t.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum("g2").cast("bigint").alias("n2"),
    )
    v = t.groupBy("cents").agg(
        F.sum("g1").cast("bigint").alias("a"),
        F.sum("g2").cast("bigint").alias("b"),
    )
    # two-phase prefix sum: bucket by value range, tiny offset table
    v = v.withColumn("bkt", F.expr("cents div 1000000"))
    btot = (
        v.groupBy("bkt")
        .agg(
            F.sum("a").alias("ba"),
            F.sum("b").alias("bb"),
        )
    )
    wb = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )  # offsets table is O(price range / 1e6) rows — tiny by construction
    offs = btot.select(
        "bkt",
        F.coalesce(F.sum("ba").over(wb), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("bb").over(wb), F.lit(0)).alias("ob"),
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = v.join(F.broadcast(offs), "bkt").select(
        "cents",
        (F.col("oa") + F.sum("a").over(win)).alias("c1"),
        (F.col("ob") + F.sum("b").over(win)).alias("c2"),
    )
    d = (
        c.crossJoin(F.broadcast(n))
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            )
            .cast("bigint")
            .alias("d_num")
        )
    )
    d_stat = F.col("d_num").cast("double") / (
        F.col("n1") * F.col("n2")
    ).cast("double")
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1") * F.col("n2")).cast("double")
    )
    return (
        n.crossJoin(F.broadcast(d))
        .select(
            "n1",
            "n2",
            "d_num",
            d_stat.alias("d_stat"),
            (d_stat > crit).alias("reject_h0"),
        )
    )


_RR_FLIP_T = 1 << 46  # p = 1/4 on the 48-bit hash grid


@register(
    "ext_randomized_response",
    survey_id="EXT-LDP-RR",
    category="ml-exact",
    mode="bounded",
    oracle=f"""
WITH t AS (
  SELECT o_orderpriority AS pri,
         o_totalprice > 150000e0 AS truth,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
              AS BIGINT) < {_RR_FLIP_T} AS flip
  FROM orders
),
g AS (
  SELECT pri,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
           AS true_yes,
         CAST(SUM(CASE WHEN truth <> flip THEN 1 ELSE 0 END) AS BIGINT)
           AS reported_yes
  FROM t GROUP BY pri
)
SELECT pri, n, reported_yes, true_yes,
       4 * reported_yes - n AS est_yes_x2,
       ABS(4 * reported_yes - n - 2 * true_yes)
         < 6e0 * sqrt(0.75e0 * CAST(n AS DOUBLE)) + 2e0 AS within_bound
FROM g ORDER BY pri
""",
)
def ext_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local differential privacy via randomized response (Warner
    1965; the RAPPOR primitive): each order's private bit ("is this a
    high-value order?") is reported TRUTHFULLY with probability 3/4
    and FLIPPED with probability 1/4 — the analyst sees only noisy
    bits (ε = ln 3 per report), yet the population share debiases
    exactly: E[reported] = (1−p)·π + p·(1−π), so est = (reported −
    n·p)/(1−2p), carried here as the integer 4·reported − n (= 2×
    the estimate — no division, no float until the bound check). The
    flip coin is the md5-48 hash against an integer threshold, so the
    whole mechanism is deterministic and engine-replicated: the
    oracle reproduces every noisy count bit-for-bit, and the declared
    bound is the 3σ envelope of the mechanism's true variance
    n·p(1−p)/(1−2p)², evaluated per priority class. Scale: one
    map-side projection + one keyed aggregate; the privacy transform
    never leaves the row it protects."""
    o = load_table(spark, sf_dir, "orders")
    flip = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12),
            16,
            10,
        ).cast("bigint")
        < F.lit(_RR_FLIP_T)
    )
    t = o.select(
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_totalprice") > F.lit(150000.0)).alias("truth"),
        flip.alias("flip"),
    )
    g = t.groupBy("pri").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0))
        .cast("bigint")
        .alias("true_yes"),
        F.sum(F.when(F.col("truth") != F.col("flip"), 1).otherwise(0))
        .cast("bigint")
        .alias("reported_yes"),
    )
    est2 = 4 * F.col("reported_yes") - F.col("n")
    return g.select(
        "pri",
        "n",
        "reported_yes",
        "true_yes",
        est2.alias("est_yes_x2"),
        (
            F.abs(est2 - 2 * F.col("true_yes")).cast("double")
            < F.lit(6.0) * F.sqrt(F.lit(0.75) * F.col("n").cast("double"))
            + F.lit(2.0)
        ).alias("within_bound"),
    ).orderBy("pri")


@register(
    "ext_psi_drift",
    survey_id="EXT-PSI",
    category="ml-exact",
    oracle="""
WITH t AS (
  SELECT LEAST(CAST(FLOOR(value / 50e0) AS BIGINT), 9) AS bucket,
         CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END AS in_a
  FROM events
),
n AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
             CAST(SUM(1 - in_a) AS BIGINT) AS n2 FROM t),
spine AS (SELECT UNNEST(range(10)) AS bucket),
b AS (
  SELECT s.bucket,
         COALESCE(CAST(SUM(t.in_a) AS BIGINT), 0) + 1 AS a1,
         COALESCE(CAST(SUM(1 - t.in_a) AS BIGINT), 0) + 1 AS a2
  FROM spine s LEFT JOIN t ON t.bucket = s.bucket
  GROUP BY s.bucket
),
terms AS (
  SELECT b.bucket, b.a1 - 1 AS n1_b, b.a2 - 1 AS n2_b,
         CAST(FLOOR(
           (CAST(b.a2 AS DOUBLE) / CAST(n.n2 + 10 AS DOUBLE)
            - CAST(b.a1 AS DOUBLE) / CAST(n.n1 + 10 AS DOUBLE))
           * ln((CAST(b.a2 AS DOUBLE) * CAST(n.n1 + 10 AS DOUBLE))
                / (CAST(b.a1 AS DOUBLE) * CAST(n.n2 + 10 AS DOUBLE)))
           * 1e9) AS BIGINT) AS term_q
  FROM b, n
),
tot AS (SELECT CAST(SUM(term_q) AS BIGINT) AS psi_q FROM terms)
SELECT t.bucket, t.n1_b, t.n2_b, t.term_q,
       CAST(tot.psi_q AS DOUBLE) / 1e9 AS psi_total,
       tot.psi_q > 100000000 AS drift_detected
FROM terms t, tot ORDER BY t.bucket
""",
)
def ext_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index — the drift monitor every deployed
    model's feature pipeline runs between a reference window and the
    current one: events are split into first-half vs second-half of
    the month, the value column is binned into 10 fixed-width buckets
    (Laplace +1 smoothing keeps empty buckets finite, the production
    convention), and PSI = Σ (p2−p1)·ln(p2/p1). The transcendental
    rides the gridded-ln recipe: every per-bucket term is floored to
    a 1e-9 grid BEFORE the sum, so the total is an exact BIGINT
    addition (float summation order can never flip the drift verdict)
    and the whole report hash-matches. The 0.1 decision threshold is
    the standard industry cut, compared in integer grid units.
    Scale: one map-side bucket projection + one 10-cell aggregate per
    period; the spine join is broadcast."""
    t = load_table(spark, sf_dir, "events").select(
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("bigint"), F.lit(9)
        ).alias("bucket"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("in_a"),
    )
    n = t.agg(
        F.sum("in_a").cast("bigint").alias("n1"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("n2"),
    )
    spine = spark.range(10).select(F.col("id").alias("bucket"))
    b = (
        spine.join(t, "bucket", "left")
        .groupBy("bucket")
        .agg(
            (F.coalesce(F.sum("in_a"), F.lit(0)).cast("bigint") + 1)
            .alias("a1"),
            (
                F.coalesce(F.sum(1 - F.col("in_a")), F.lit(0)).cast(
                    "bigint"
                )
                + 1
            ).alias("a2"),
        )
    )
    terms = b.crossJoin(F.broadcast(n)).select(
        "bucket",
        (F.col("a1") - 1).alias("n1_b"),
        (F.col("a2") - 1).alias("n2_b"),
        F.floor(
            (
                F.col("a2").cast("double")
                / (F.col("n2") + 10).cast("double")
                - F.col("a1").cast("double")
                / (F.col("n1") + 10).cast("double")
            )
            * F.log(
                (F.col("a2").cast("double") * (F.col("n1") + 10).cast("double"))
                / (F.col("a1").cast("double") * (F.col("n2") + 10).cast("double"))
            )
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("term_q"),
    )
    tot = terms.agg(F.sum("term_q").cast("bigint").alias("psi_q"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n1_b",
            "n2_b",
            "term_q",
            (F.col("psi_q").cast("double") / F.lit(1e9)).alias("psi_total"),
            (F.col("psi_q") > 100_000_000).alias("drift_detected"),
        )
        .orderBy("bucket")
    )


@register(
    "ext_conformal_prediction",
    survey_id="EXT-CONFORMAL",
    category="ml-exact",
    mode="bounded",
    oracle="""
WITH t AS (
  SELECT o_orderpriority AS pri,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
              AS BIGINT) % 4 AS split
  FROM orders
),
model AS (
  SELECT pri, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred
  FROM t WHERE split IN (0, 1) GROUP BY pri
),
cal AS (
  SELECT ABS(t.cents - m.pred) AS resid
  FROM t JOIN model m USING (pri) WHERE t.split = 2
),
nc AS (SELECT COUNT(*) AS n FROM cal),
k AS (SELECT CAST((9 * (n + 1) + 9) // 10 AS BIGINT) AS k FROM nc),
qhat AS (
  SELECT MAX(resid) AS q FROM (
    SELECT resid FROM cal ORDER BY resid LIMIT (SELECT k FROM k)
  )
),
test AS (
  SELECT ABS(t.cents - m.pred) <= q.q AS covered
  FROM t JOIN model m USING (pri), qhat q WHERE t.split = 3
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM test
)
SELECT nc.n AS n_cal, k.k AS k_rank, qhat.q AS q_hat_cents,
       agg.n_test, agg.n_covered,
       CAST(agg.n_covered AS DOUBLE) / CAST(agg.n_test AS DOUBLE)
         AS coverage,
       CAST(agg.n_covered AS DOUBLE) / CAST(agg.n_test AS DOUBLE)
         >= 0.9e0 - 2e0 / sqrt(CAST(agg.n_test AS DOUBLE)) AS coverage_ok
FROM nc, k, qhat, agg
""",
)
def ext_conformal_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction (Vovk; the distribution-free
    uncertainty wrapper production ML actually deploys): the corpus
    hash-splits into train/calibration/test, a per-priority mean
    model fits on train (integer floor-division — exact), the
    calibration set's ⌈0.9·(n+1)⌉-th smallest absolute residual
    becomes the interval half-width q̂ (a distributed ORDER BY +
    LIMIT k — TakeOrderedAndProject, never a full sort), and the
    guarantee under test is that prediction intervals ±q̂ cover at
    least 90% of held-out points (finite-sample slack 2/√n declared
    for the fixed split). Everything before the final coverage
    division is BIGINT — the order statistic, residuals and counts
    hash-match the oracle exactly; the conformal guarantee is checked
    as data, not assumed. Scale: model and q̂ are tiny aggregates;
    the scoring pass is one broadcast join per split."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(F.col("o_orderkey").cast("string")), 1, 12
                ),
                16,
                10,
            ).cast("bigint")
            % 4
        ).alias("split"),
    )
    model = (
        t.where(F.col("split").isin(0, 1))
        .groupBy("pri")
        .agg(
            F.expr("sum(cents) div count(*)").cast("bigint").alias("pred")
        )
    )
    cal = (
        t.where(F.col("split") == 2)
        .join(F.broadcast(model), "pri")
        .select(F.abs(F.col("cents") - F.col("pred")).alias("resid"))
    )
    n_cal = cal.count()
    k = -(-9 * (n_cal + 1) // 10)  # ceil(0.9 * (n_cal + 1)) exactly
    q_hat = (
        cal.orderBy("resid").limit(k).agg(F.max("resid")).first()[0]
    )
    test = (
        t.where(F.col("split") == 3)
        .join(F.broadcast(model), "pri")
        .select(
            (F.abs(F.col("cents") - F.col("pred")) <= F.lit(q_hat)).alias(
                "covered"
            )
        )
    )
    agg = test.agg(
        F.count("*").cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("covered"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
    ).first()
    n_test, n_covered = int(agg["n_test"]), int(agg["n_covered"])
    coverage = n_covered / n_test
    ok = coverage >= 0.9 - 2.0 / (n_test ** 0.5)
    return spark.createDataFrame(
        [(n_cal, k, q_hat, n_test, n_covered, coverage, bool(ok))],
        "n_cal bigint, k_rank bigint, q_hat_cents bigint, n_test bigint, "
        "n_covered bigint, coverage double, coverage_ok boolean",
    )


# SPRT design constants on the 1e6 grid: H0 p=0.02 vs H1 p=0.08,
# alpha = beta = 0.05. t1 = floor(ln(p1/p0)*1e6) for a conversion,
# t0 = floor(ln((1-p1)/(1-p0))*1e6) for a non-conversion,
# A = floor(ln((1-beta)/alpha)*1e6) (accept H1), B = -A (accept H0).
_SPRT_T1, _SPRT_T0, _SPRT_A = 1386294, -63179, 2944438


@register(
    "ext_sprt_sequential_test",
    survey_id="EXT-SPRT",
    category="ml-exact",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > 250e0
                  THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY user_id
),
walk AS (
  SELECT user_id, x,
         ROW_NUMBER() OVER (ORDER BY user_id) AS rn,
         SUM(CASE WHEN x = 1 THEN {_SPRT_T1}
                  ELSE {_SPRT_T0} END)
           OVER (ORDER BY user_id) AS llr_q
  FROM u
),
crossing AS (
  SELECT MIN(rn) AS stop_rn FROM walk
  WHERE llr_q >= {_SPRT_A} OR llr_q <= -{_SPRT_A}
),
verdict AS (
  SELECT w.rn AS stop_rn, w.llr_q,
         CASE WHEN w.llr_q >= {_SPRT_A} THEN 'accept_h1'
              ELSE 'accept_h0' END AS decision
  FROM walk w JOIN crossing c ON w.rn = c.stop_rn
),
fallback AS (
  SELECT MAX(rn) AS stop_rn, MAX(llr_q) AS final_llr,
         CAST(SUM(x) AS BIGINT) AS conversions
  FROM walk
)
SELECT COALESCE(v.decision, 'continue') AS decision,
       CAST(COALESCE(v.stop_rn, f.stop_rn) AS BIGINT) AS n_observed,
       CAST(COALESCE(v.llr_q,
              (SELECT llr_q FROM walk ORDER BY rn DESC LIMIT 1))
            AS BIGINT) AS llr_q_at_stop,
       f.conversions AS total_conversions,
       CAST(f.stop_rn AS BIGINT) AS n_available
FROM fallback f LEFT JOIN verdict v ON TRUE
""",
)
def ext_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test — the always-valid
    alternative to the fixed-horizon z-test (EXT-ABTEST) that lets an
    experimenter PEEK after every observation: users arrive in id
    order, each contributes a log-likelihood-ratio increment for
    H1: p=0.08 vs H0: p=0.02 (constants pre-gridded to 1e6 integers,
    so the entire LLR walk is exact BIGINT arithmetic), and the test
    stops at the FIRST crossing of ±ln((1−β)/α) — or reports
    'continue' when the stream ends inside the corridor (which the
    smallest scale factor genuinely does; the decision column is
    data, not an assertion). The cumulative walk + first-crossing
    lookup rides the bucketed two-phase prefix-sum (per-bucket
    totals -> broadcast offsets -> bucket-partitioned windows — the
    EXT-KSTEST discipline; no unpartitioned window anywhere). The
    oracle replays the identical walk with one global window."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 250.0),
                    1,
                ).otherwise(0)
            ).alias("x")
        )
    )
    # two-phase walk (the EXT-KSTEST pattern): per-bucket totals ->
    # broadcast offsets -> bucket-partitioned window. No unpartitioned
    # window ever touches the per-user table.
    term = F.when(F.col("x") == 1, F.lit(_SPRT_T1)).otherwise(
        F.lit(_SPRT_T0)
    )
    t = u.select(
        "user_id", "x", F.expr("user_id div 100").alias("bkt"),
        term.alias("t"),
    )
    btot = t.groupBy("bkt").agg(
        F.count("*").alias("bn"), F.sum("t").alias("bs")
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.select(
        "bkt",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("orn"),
        F.coalesce(F.sum("bs").over(wb), F.lit(0)).alias("ollr"),
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = pin(
        t.join(F.broadcast(offs), "bkt")
        .select(
            "user_id",
            "x",
            (F.col("orn") + F.row_number().over(
                Window.partitionBy("bkt").orderBy("user_id")
            )).alias("rn"),
            (F.col("ollr") + F.sum("t").over(win)).alias("llr_q"),
        )
    )
    crossed = (
        walk.where(
            (F.col("llr_q") >= _SPRT_A) | (F.col("llr_q") <= -_SPRT_A)
        )
        .orderBy("rn")
        .limit(1)
        .collect()
    )
    tail = walk.orderBy(F.col("rn").desc()).limit(1).collect()[0]
    total_conv = walk.agg(F.sum("x").cast("bigint")).collect()[0][0]
    if crossed:
        row = crossed[0]
        decision = (
            "accept_h1" if row["llr_q"] >= _SPRT_A else "accept_h0"
        )
        stop_rn, llr = row["rn"], row["llr_q"]
    else:
        decision, stop_rn, llr = "continue", tail["rn"], tail["llr_q"]
    return spark.createDataFrame(
        [(decision, stop_rn, llr, total_conv, tail["rn"])],
        "decision string, n_observed bigint, llr_q_at_stop bigint, "
        "total_conversions bigint, n_available bigint",
    )


@register(
    "ext_mann_whitney_u",
    survey_id="EXT-STAT-MWU",
    category="ml-exact",
    oracle="""
WITH t AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1,
         CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS g2
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
),
n AS (SELECT SUM(g1) AS n1, SUM(g2) AS n2 FROM t),
v AS (
  SELECT v, SUM(g1) AS a, SUM(g2) AS b, COUNT(*) AS nv
  FROM t GROUP BY v
),
c AS (
  SELECT v, a, b, nv,
         COALESCE(SUM(nv) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM v
),
r AS (
  SELECT SUM(a * (2 * cum + nv + 1)) AS two_r1,
         SUM(nv * nv * nv - nv) AS tie_term
  FROM c
)
SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
       CAST(r.two_r1 AS BIGINT) AS two_r1,
       CAST(r.two_r1 - n.n1 * (n.n1 + 1) AS BIGINT) AS two_u1,
       CAST(2 * n.n1 * n.n2 - (r.two_r1 - n.n1 * (n.n1 + 1))
            AS BIGINT) AS two_u2,
       ROUND(
         (CAST(r.two_r1 - n.n1 * (n.n1 + 1) AS DOUBLE) / 2e0
            - CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE) / 2e0)
         / sqrt(
             CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE) / 12e0
             * (CAST(n.n1 + n.n2 + 1 AS DOUBLE)
                - CAST(r.tie_term AS DOUBLE)
                  / (CAST(n.n1 + n.n2 AS DOUBLE)
                     * CAST(n.n1 + n.n2 - 1 AS DOUBLE)))
           ), 6) AS z_approx
FROM n, r
""",
)
def ext_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test, INTEGER-EXACT — the
    nonparametric two-sample location test a metrics platform runs when
    distributions are skewed and t-tests lie. Compares l_quantity
    between returned ('R') and accepted ('A') lineitems. The classic
    formulation ranks ALL n rows (an unpartitioned sort at 100 TB);
    this plan never ranks a row: quantities collapse to a ≤50-row
    (value, count_1, count_2) table via one map-side-combinable
    groupBy, and DOUBLED midranks (2·midrank = 2·cum_before + n_v + 1
    — integers, no .5 ties) come from a prefix sum over that tiny
    table (the unpartitioned window rides ~50 rows — the documented
    tiny-aggregate exception). 2R1, 2U1, 2U2 are exact BIGINTs with
    the invariant 2U1 + 2U2 = 2·n1·n2; the tie-corrected normal
    approximation z is one fixed IEEE expression over those integers
    (correctly-rounded sqrt/div ⇒ engine-identical), rounded to 1e-6.
    The oracle mirrors every step with one global window."""
    t = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "A")
    ).select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g1"),
        F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("g2"),
    )
    n = t.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum("g2").cast("bigint").alias("n2"),
    )
    v = t.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("a"),
        F.sum("g2").cast("bigint").alias("b"),
        F.count("*").cast("bigint").alias("nv"),
    )
    # ≤ 50 distinct quantities: the prefix window is a tiny aggregate
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = v.select(
        "a",
        "nv",
        F.coalesce(F.sum("nv").over(wv), F.lit(0)).alias("cum"),
    )
    r = c.agg(
        F.sum(F.col("a") * (2 * F.col("cum") + F.col("nv") + 1))
        .cast("bigint")
        .alias("two_r1"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv"))
        .cast("bigint")
        .alias("tie_term"),
    )
    j = n.crossJoin(F.broadcast(r))
    two_u1 = F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)
    nn1 = F.col("n1").cast("double")
    nn2 = F.col("n2").cast("double")
    ntot = (F.col("n1") + F.col("n2")).cast("double")
    z = (
        two_u1.cast("double") / F.lit(2.0) - nn1 * nn2 / F.lit(2.0)
    ) / F.sqrt(
        nn1
        * nn2
        / F.lit(12.0)
        * (
            (F.col("n1") + F.col("n2") + 1).cast("double")
            - F.col("tie_term").cast("double")
            / (ntot * (F.col("n1") + F.col("n2") - 1).cast("double"))
        )
    )
    return j.select(
        "n1",
        "n2",
        "two_r1",
        two_u1.cast("bigint").alias("two_u1"),
        (2 * F.col("n1") * F.col("n2") - two_u1)
        .cast("bigint")
        .alias("two_u2"),
        F.round(z, 6).alias("z_approx"),
    )


@register(
    "ext_calibration_ece",
    survey_id="EXT-ML-ECE",
    category="ml-exact",
    oracle="""
WITH t AS (
  SELECT CASE WHEN o_totalprice > 150000e0 THEN 1 ELSE 0 END AS y,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
              AS BIGINT) % 500000
           + CASE WHEN o_totalprice > 150000e0
                  THEN 400000 ELSE 100000 END AS p_scaled
  FROM orders
)
SELECT CAST(p_scaled // 100000 AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(p_scaled) AS BIGINT) AS sum_p_scaled,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(ABS(SUM(p_scaled) - 1000000 * SUM(y)) AS BIGINT)
         AS gap_scaled
FROM t GROUP BY 1 ORDER BY bin
""",
)
def ext_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration audit (reliability table / expected calibration
    error) — the eval-side counterpart of EXT-ML-AUC: scores live on an
    integer 1e-6 grid (md5-derived, shifted by the true label so the
    model is informative but miscalibrated), bucketed into 10
    equal-width confidence bins; each bin reports its exact integer
    confidence mass, positive count, and |sum(p) − n_pos| gap — the
    numerator of the bin's ECE term (ECE = Σ gap / (1e6·N), a division
    the consumer does on exact integers). One map-side-combinable
    groupBy over the fact table into a 10-row result: the same
    counts-first scale shape as every operator in this module."""
    t = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0).alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12),
                16,
                10,
            ).cast("bigint")
            % 500000
            + F.when(F.col("o_totalprice") > 150000.0, 400000).otherwise(
                100000
            )
        ).alias("p_scaled"),
    )
    return (
        t.groupBy(F.expr("p_scaled div 100000").cast("int").alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("p_scaled").cast("bigint").alias("sum_p_scaled"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.abs(
                F.sum("p_scaled") - F.lit(1000000) * F.sum("y")
            )
            .cast("bigint")
            .alias("gap_scaled"),
        )
        .orderBy("bin")
    )


_GBDT_ORACLE = """
WITH rows_f AS (
  SELECT CAST(l_quantity AS INT) AS qty,
         CAST(round(l_discount * 100) AS INT) AS disc_cents,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
h1 AS (
  SELECT qty AS v, COUNT(*) AS n, SUM(y) AS p
  FROM rows_f GROUP BY qty
),
c1 AS (
  SELECT v,
         SUM(n) OVER (ORDER BY v) AS nl,
         SUM(p) OVER (ORDER BY v) AS pl,
         SUM(n) OVER () AS nt, SUM(p) OVER () AS pt,
         MAX(v) OVER () AS vmax
  FROM h1
),
s1 AS (
  SELECT v, nl, pl, nt - nl AS nr, pt - pl AS pr,
         CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)
         + CAST(pt - pl AS DOUBLE) * CAST(pt - pl AS DOUBLE)
           / CAST(nt - nl AS DOUBLE) AS score
  FROM c1 WHERE v < vmax
),
b1 AS (SELECT * FROM s1 ORDER BY score DESC, v LIMIT 1),
resid AS (
  SELECT r.disc_cents,
         CASE WHEN r.qty <= b1.v
              THEN r.y * b1.nl * b1.nr - b1.pl * b1.nr
              ELSE r.y * b1.nr * b1.nl - b1.pr * b1.nl
         END AS rs
  FROM rows_f r, b1
),
h2 AS (
  SELECT disc_cents AS v, COUNT(*) AS n, SUM(rs) AS t
  FROM resid GROUP BY disc_cents
),
c2 AS (
  SELECT v,
         SUM(n) OVER (ORDER BY v) AS nl,
         SUM(t) OVER (ORDER BY v) AS tl,
         SUM(n) OVER () AS nt, SUM(t) OVER () AS tt,
         MAX(v) OVER () AS vmax
  FROM h2
),
s2 AS (
  SELECT v, nl, nt - nl AS nr, tl, tt - tl AS tr,
         CAST(tl AS DOUBLE) * CAST(tl AS DOUBLE) / CAST(nl AS DOUBLE)
         + CAST(tt - tl AS DOUBLE) * CAST(tt - tl AS DOUBLE)
           / CAST(nt - nl AS DOUBLE) AS score2
  FROM c2 WHERE v < vmax
),
b2 AS (SELECT * FROM s2 ORDER BY score2 DESC, v LIMIT 1)
SELECT CAST(b1.v AS INT) AS qty_threshold,
       CAST(b1.nl AS BIGINT) AS n_left, CAST(b1.pl AS BIGINT) AS pos_left,
       CAST(b1.nr AS BIGINT) AS n_right, CAST(b1.pr AS BIGINT) AS pos_right,
       b1.score AS score1,
       CAST(b2.v AS INT) AS disc_threshold,
       CAST(b2.nl AS BIGINT) AS n2_left,
       CAST(b2.tl AS BIGINT) AS resid_sum_left,
       CAST(b2.tr AS BIGINT) AS resid_sum_right,
       b2.score2 AS score2
FROM b1, b2
"""


@register(
    "ext_gbdt_round",
    survey_id="EXT-ML-GBDT",
    category="ml-exact",
    oracle=_GBDT_ORACLE,
)
def ext_gbdt_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full GRADIENT-BOOSTING round on top of a fitted stump (L2
    loss): stage 1 fits the SSE-optimal quantity stump to the binary
    return label (maximizing S_l²/n_l + S_r²/n_r — algebraically the
    variance-reduction argmax); stage 2 computes per-row RESIDUALS
    against the stage-1 leaf means and fits the discount stump to
    them — the boosting inner loop. Exactness: leaf means are
    rationals P_l/n_l, so residuals are scaled by the common
    denominator n_l·n_r into exact BIGINTs (y·n_leaf·n_other −
    P_leaf·n_other); all split statistics are integer sums whose
    magnitudes stay below 2^53, so the double score expressions are
    evaluated on exactly-representable operands — bit-identical in
    both engines, no rounding anywhere. Scale shape: two map-side-
    combinable histograms (≤50-row and ≤11-row), split search on
    kilobytes, the stage-1 winner joins back as a broadcast 1-row
    plan — the distributed XGBoost recipe (histogram aggregation,
    never per-row sorting) with zero collects."""
    li = load_table(spark, sf_dir, "lineitem")
    rows_f = li.select(
        F.col("l_quantity").cast("int").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("int").alias("disc_cents"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    h1 = rows_f.groupBy(F.col("qty").alias("v")).agg(
        F.count("*").alias("n"), F.sum("y").alias("p")
    )
    # ≤ 50 distinct quantities: tiny-aggregate windows
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c1 = h1.select(
        "v",
        F.sum("n").over(wv).cast("bigint").alias("nl"),
        F.sum("p").over(wv).cast("bigint").alias("pl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("p").over(wall).cast("bigint").alias("pt"),
        F.max("v").over(wall).alias("vmax"),
    ).where(F.col("v") < F.col("vmax"))
    score1 = F.col("pl").cast("double") * F.col("pl").cast("double") / F.col(
        "nl"
    ).cast("double") + (F.col("pt") - F.col("pl")).cast("double") * (
        F.col("pt") - F.col("pl")
    ).cast("double") / (F.col("nt") - F.col("nl")).cast("double")
    b1 = (
        c1.select(
            "v",
            "nl",
            "pl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            (F.col("pt") - F.col("pl")).alias("pr"),
            score1.alias("score"),
        )
        .orderBy(F.desc("score"), "v")
        .limit(1)
    )
    resid = rows_f.crossJoin(F.broadcast(b1)).select(
        "disc_cents",
        F.when(
            F.col("qty") <= F.col("v"),
            F.col("y") * F.col("nl") * F.col("nr")
            - F.col("pl") * F.col("nr"),
        )
        .otherwise(
            F.col("y") * F.col("nr") * F.col("nl")
            - F.col("pr") * F.col("nl")
        )
        .alias("rs"),
    )
    h2 = resid.groupBy(F.col("disc_cents").alias("v")).agg(
        F.count("*").alias("n"), F.sum("rs").alias("t")
    )
    c2 = h2.select(
        "v",
        F.sum("n").over(wv).cast("bigint").alias("nl"),
        F.sum("t").over(wv).cast("bigint").alias("tl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("t").over(wall).cast("bigint").alias("tt"),
        F.max("v").over(wall).alias("vmax"),
    ).where(F.col("v") < F.col("vmax"))
    score2 = F.col("tl").cast("double") * F.col("tl").cast("double") / F.col(
        "nl"
    ).cast("double") + (F.col("tt") - F.col("tl")).cast("double") * (
        F.col("tt") - F.col("tl")
    ).cast("double") / (F.col("nt") - F.col("nl")).cast("double")
    b2 = (
        c2.select(
            F.col("v").alias("v2"),
            F.col("nl").alias("n2l"),
            F.col("tl"),
            (F.col("tt") - F.col("tl")).alias("tr"),
            score2.alias("score2"),
        )
        .orderBy(F.desc("score2"), "v2")
        .limit(1)
    )
    return b1.crossJoin(F.broadcast(b2)).select(
        F.col("v").cast("int").alias("qty_threshold"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        F.col("nr").alias("n_right"),
        F.col("pr").alias("pos_right"),
        F.col("score").alias("score1"),
        F.col("v2").cast("int").alias("disc_threshold"),
        F.col("n2l").alias("n2_left"),
        F.col("tl").alias("resid_sum_left"),
        F.col("tr").alias("resid_sum_right"),
        "score2",
    )


_DP_ORACLE = """
WITH counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
),
noise AS (
  SELECT event_type, n,
         CAST(('0x' || substr(md5('dp:' || event_type), 1, 12))
              AS BIGINT) AS u
  FROM counts
),
terms AS (
  SELECT event_type, n,
         CASE WHEN u >= 140737488355328 THEN 1 ELSE -1 END AS sgn,
         GREATEST(ABS(2 * u - 281474976710656), 1) AS v
  FROM noise
),
lap AS (
  SELECT event_type, n, sgn,
         CAST(FLOOR(ln(281474976710656e0) * 1e6) AS BIGINT)
           - CAST(FLOOR(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS g
  FROM terms
)
SELECT event_type, n,
       CAST(sgn * ((2000000 * g) // 1000000000000) AS BIGINT)
         AS noise_int,
       CAST(n + sgn * ((2000000 * g) // 1000000000000) AS BIGINT)
         AS noisy_n
FROM lap ORDER BY event_type
"""


@register(
    "ext_dp_laplace_histogram",
    survey_id="EXT-DP-LAPLACE",
    category="ml-exact",
    oracle=_DP_ORACLE,
)
def ext_dp_laplace_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTRAL differential privacy — the trusted-curator counterpart of
    EXT-LDP-RR's local mechanism: per-group counts released with
    Laplace(b = 2 = Δ/ε at ε = 0.5) noise, the noise drawn by inverse
    CDF from an md5-derived uniform on the 2^48 grid (x = −b·sign(u−½)
    ·ln(1−2|u−½|)). Engine-exactness: the uniform is an exact integer,
    the ln terms ride the 1e-6 floor grid, and the final noise is one
    integer expression — so both engines simulate the IDENTICAL
    mechanism draw and the release hash-matches (a seeded mechanism
    SIMULATION, which is how DP pipelines are unit-tested; production
    swaps the md5 seed for a real entropy source, changing nothing
    structural). |noise| ≤ b·ln(2^47) ≈ 65 bounds the utility loss.
    One map-side-combinable groupBy; the mechanism runs on the 5-row
    histogram."""
    t = load_table(spark, sf_dir, "events")
    counts = t.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    half = 140737488355328  # 2^47
    full = 281474976710656  # 2^48
    sgn = F.when(u >= half, F.lit(1)).otherwise(F.lit(-1))
    v = F.greatest(F.abs(2 * u - F.lit(full)), F.lit(1))
    g = (
        F.floor(F.log(F.lit(float(full))) * F.lit(1e6)).cast("bigint")
        - F.floor(F.log(v.cast("double")) * F.lit(1e6)).cast("bigint")
    )
    out = counts.select(
        "event_type",
        "n",
        sgn.alias("sgn"),
        g.alias("g"),
    ).select(
        "event_type",
        "n",
        (F.col("sgn") * F.expr("(2000000 * g) div 1000000000000"))
        .cast("bigint")
        .alias("noise_int"),
    )
    return out.select(
        "event_type",
        "n",
        "noise_int",
        (F.col("n") + F.col("noise_int")).cast("bigint").alias("noisy_n"),
    ).orderBy("event_type")


_ISO_ORACLE = """
WITH pts AS (
  SELECT CAST(round(l_discount * 100) AS INT) AS x,
         COUNT(*) AS n, SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS s
  FROM lineitem GROUP BY 1
),
ord AS (
  SELECT x, n, s,
         SUM(n) OVER (ORDER BY x) AS cn,
         SUM(s) OVER (ORDER BY x) AS cs
  FROM pts
),
pre AS (
  SELECT x, n, s, cn, cs,
         cn - n AS pn, cs - s AS ps
  FROM ord
),
triple AS (
  SELECT i.x AS xi,
         j.x AS xj, k.x AS xk,
         CAST(k.cs - j.ps AS DOUBLE) / CAST(k.cn - j.pn AS DOUBLE)
           AS seg_mean
  FROM pre i JOIN pre j ON j.x <= i.x JOIN pre k ON k.x >= i.x
),
inner_min AS (
  SELECT xi, xj, MIN(seg_mean) AS m FROM triple GROUP BY xi, xj
)
SELECT p.x AS disc_cents,
       CAST(p.n AS BIGINT) AS n,
       CAST(p.s AS BIGINT) AS n_returned,
       ROUND(MAX(im.m), 6) AS fitted_rate
FROM pre p JOIN inner_min im ON im.xi = p.x
GROUP BY p.x, p.n, p.s
ORDER BY disc_cents
"""


@register(
    "ext_isotonic_regression",
    survey_id="EXT-ML-ISOTONIC",
    category="ml-exact",
    oracle=_ISO_ORACLE,
)
def ext_isotonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION (pool-adjacent-violators) — the standard
    monotone calibrator — computed NOT by the sequential PAV sweep
    (hostile to both engines' exactness and to distribution) but by
    the exact MINIMAX IDENTITY: fitted(i) = max_{j≤i} min_{k≥i}
    mean(y[j..k]), evaluated over the ≤11-point discount grid with
    weighted segment means from prefix sums. The fact table collapses
    to 11 (x, count, positives) rows in one map-side-combinable
    groupBy; the triple enumeration (≤ 11³ combinations) runs on
    kilobytes, every segment mean is one IEEE division of exact
    integers, and the max-min lattice is order-free — bit-identical in
    both engines, rounded at 1e-6 for the output contract. The fitted
    curve is the provably optimal monotone fit of return rate vs
    discount. At 100 TB: same story as every operator here — the only
    big stage is the counts groupBy."""
    pts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.round(F.col("l_discount") * 100).cast("int").alias("x")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("s"),
        )
    )
    # ≤ 11 distinct discounts: tiny-aggregate windows
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    pre = pin(pts.select(
        "x",
        "n",
        "s",
        (F.sum("n").over(w) - F.col("n")).alias("pn"),
        (F.sum("s").over(w) - F.col("s")).alias("ps"),
        F.sum("n").over(w).alias("cn"),
        F.sum("s").over(w).alias("cs"),
    ))
    i = pre.select(F.col("x").alias("xi"), "n", "s")
    j = pre.select(F.col("x").alias("xj"), F.col("pn").alias("jpn"), F.col("ps").alias("jps"))
    k = pre.select(F.col("x").alias("xk"), F.col("cn").alias("kcn"), F.col("cs").alias("kcs"))
    triple = (
        i.join(j, F.col("xj") <= F.col("xi"))
        .join(k, F.col("xk") >= F.col("xi"))
        .select(
            "xi",
            "xj",
            "n",
            "s",
            (
                (F.col("kcs") - F.col("jps")).cast("double")
                / (F.col("kcn") - F.col("jpn")).cast("double")
            ).alias("seg_mean"),
        )
    )
    inner_min = triple.groupBy("xi", "xj", "n", "s").agg(
        F.min("seg_mean").alias("m")
    )
    return (
        inner_min.groupBy("xi", "n", "s")
        .agg(F.round(F.max("m"), 6).alias("fitted_rate"))
        .select(
            F.col("xi").alias("disc_cents"),
            F.col("n").cast("bigint").alias("n"),
            F.col("s").cast("bigint").alias("n_returned"),
            "fitted_rate",
        )
        .orderBy("disc_cents")
    )


_ALS_ORACLE = """
WITH inter AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey % 3 = 0
),
q AS (
  SELECT i,
         (i * 2654435761) % 1000 AS q0m,
         (i * 40503) % 1000 AS q1m
  FROM (SELECT DISTINCT i FROM inter)
),
ne AS (
  SELECT inter.u,
         SUM(q.q0m * q.q0m) AS a, SUM(q.q0m * q.q1m) AS b,
         SUM(q.q1m * q.q1m) AS d,
         SUM(q.q0m) * 1000 AS b0, SUM(q.q1m) * 1000 AS b1,
         COUNT(*) AS n_items
  FROM inter JOIN q ON q.i = inter.i
  GROUP BY inter.u
),
solved AS (
  SELECT u, n_items,
         CAST(a + 100000 AS DOUBLE) AS aa, CAST(b AS DOUBLE) AS bb,
         CAST(d + 100000 AS DOUBLE) AS dd,
         CAST(b0 AS DOUBLE) AS v0, CAST(b1 AS DOUBLE) AS v1
  FROM ne
)
SELECT CAST(u AS BIGINT) AS user_id, CAST(n_items AS BIGINT) AS n_items,
       ROUND((dd * v0 - bb * v1) / (aa * dd - bb * bb), 6) AS p0,
       ROUND((aa * v1 - bb * v0) / (aa * dd - bb * bb), 6) AS p1
FROM solved WHERE u % 199 = 0
ORDER BY user_id
"""


@register(
    "ext_als_round",
    survey_id="EXT-ML-ALS",
    category="ml-exact",
    oracle=_ALS_ORACLE,
)
def ext_als_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALTERNATING-LEAST-SQUARES round (rank 2, ridge λ) — the
    matrix-factorization training step behind collaborative filtering,
    made hash-exact: item factors initialize on an INTEGER MILLI grid
    (q ∈ {0..999}/1000 from a multiplicative hash), so every user's
    normal equations Σ qqᵀ + λI and Σ q·r accumulate as EXACT BIGINTs
    (products of millis are exact micro-units — no float sum order
    anywhere), and the closed-form 2×2 solve (adjugate over
    determinant) is one fixed double expression per user, rounded at
    1e-6. This is the distributed ALS shape verbatim: item factors
    join interactions (broadcast-sized here; block-partitioned at
    scale), the ONLY big shuffle is the per-user groupBy of 5 integer
    sufficient statistics, and the solve runs rowwise on the
    aggregate. λ = 0.1 in milli² units (100000)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 3 == 0
    ).select("l_orderkey", "l_partkey")
    inter = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .distinct()
    )
    q0m = (F.col("i") * 2654435761) % 1000
    q1m = (F.col("i") * 40503) % 1000
    ne = (
        inter.select("u", q0m.alias("q0m"), q1m.alias("q1m"))
        .groupBy("u")
        .agg(
            F.sum(F.col("q0m") * F.col("q0m")).alias("a"),
            F.sum(F.col("q0m") * F.col("q1m")).alias("b"),
            F.sum(F.col("q1m") * F.col("q1m")).alias("d"),
            (F.sum("q0m") * 1000).alias("b0"),
            (F.sum("q1m") * 1000).alias("b1"),
            F.count("*").alias("n_items"),
        )
    )
    aa = (F.col("a") + 100000).cast("double")
    bb = F.col("b").cast("double")
    dd = (F.col("d") + 100000).cast("double")
    v0 = F.col("b0").cast("double")
    v1 = F.col("b1").cast("double")
    det = aa * dd - bb * bb
    return (
        ne.where(F.col("u") % 199 == 0)
        .select(
            F.col("u").cast("bigint").alias("user_id"),
            F.col("n_items").cast("bigint").alias("n_items"),
            F.round((dd * v0 - bb * v1) / det, 6).alias("p0"),
            F.round((aa * v1 - bb * v0) / det, 6).alias("p1"),
        )
        .orderBy("user_id")
    )


_LIFT_ORACLE = """
WITH scored AS (
  SELECT CASE WHEN o_totalprice > 150000e0 THEN 1 ELSE 0 END AS y,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
              AS BIGINT) % 500000
           + CASE WHEN o_totalprice > 150000e0
                  THEN 400000 ELSE 100000 END AS p_scaled,
         o_orderkey
  FROM orders
),
n AS (SELECT COUNT(*) AS nt, SUM(y) AS pt FROM scored),
ranked AS (
  SELECT y,
         NTILE(10) OVER (ORDER BY p_scaled DESC, o_orderkey) AS decile
  FROM scored
),
d AS (
  SELECT decile, COUNT(*) AS n, SUM(y) AS pos
  FROM ranked GROUP BY decile
),
c AS (
  SELECT decile, n, pos,
         SUM(n) OVER (ORDER BY decile) AS cn,
         SUM(pos) OVER (ORDER BY decile) AS cpos
  FROM d
)
SELECT CAST(decile AS INT) AS decile,
       CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
       ROUND(CAST(cpos AS DOUBLE) / nt.pt, 6) AS cum_gain,
       ROUND((CAST(cpos AS DOUBLE) / nt.pt)
             / (CAST(cn AS DOUBLE) / nt.nt), 6) AS cum_lift
FROM c, n nt ORDER BY decile
"""


@register(
    "ext_lift_gain_curves",
    survey_id="EXT-ML-LIFT",
    category="ml-exact",
    oracle=_LIFT_ORACLE,
)
def ext_lift_gain_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative GAINS and LIFT by score decile — the campaign-
    targeting evaluation artifact (how much of the positives do the
    top-k% scored rows capture, and at what multiple of random):
    scores on the integer 1e-6 grid (same informative-but-
    miscalibrated construction as EXT-ML-ECE), deciles via NTILE over
    the UNIQUE (score, orderkey) order — tie-broken so decile
    membership is engine-stable — then cumulative positive counts as
    exact integers; gain and lift divide exact counts, rounded 1e-6.
    Note the NTILE window: decile assignment is a global sort at this
    formulation's heart, acceptable because the output contract is
    decile-granular — at 100 TB the same curve computes from the
    equidepth-cut + broadcast pattern (EXT-BUCKET-EQ) without the
    global window; this query pins the semantics."""
    t = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0).alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12),
                16,
                10,
            ).cast("bigint")
            % 500000
            + F.when(F.col("o_totalprice") > 150000.0, 400000).otherwise(
                100000
            )
        ).alias("p_scaled"),
        "o_orderkey",
    )
    n = t.agg(
        F.count("*").alias("nt"), F.sum("y").alias("pt")
    )
    w = Window.orderBy(F.desc("p_scaled"), F.col("o_orderkey"))
    ranked = t.select("y", F.ntile(10).over(w).alias("decile"))
    d = ranked.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = d.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("pos").over(wc).alias("cpos"),
    )
    return (
        c.crossJoin(F.broadcast(n))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n").cast("bigint").alias("n"),
            F.col("pos").cast("bigint").alias("pos"),
            F.round(
                F.col("cpos").cast("double") / F.col("pt"), 6
            ).alias("cum_gain"),
            F.round(
                (F.col("cpos").cast("double") / F.col("pt"))
                / (F.col("cn").cast("double") / F.col("nt")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


_WOE_ORACLE = """
WITH t AS (
  SELECT CAST(l_quantity AS INT) AS bin_x,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
  FROM lineitem
),
b AS (
  SELECT bin_x // 10 AS bin, COUNT(*) AS n,
         SUM(bad) AS nbad, COUNT(*) - SUM(bad) AS ngood
  FROM t GROUP BY 1
),
tot AS (SELECT SUM(nbad) AS tb, SUM(ngood) AS tg FROM b),
woe AS (
  SELECT bin, n, nbad, ngood,
         CAST(FLOOR((ln(CAST(ngood AS DOUBLE) / tg)
                     - ln(CAST(nbad AS DOUBLE) / tb)) * 1e9) AS BIGINT)
           AS woe_scaled
  FROM b, tot WHERE nbad > 0 AND ngood > 0
)
SELECT CAST(bin AS INT) AS bin,
       CAST(n AS BIGINT) AS n,
       CAST(nbad AS BIGINT) AS n_bad,
       woe_scaled,
       CAST(SUM((ngood * tot.tb - nbad * tot.tg) * woe_scaled)
            OVER () // (tot.tg * tot.tb) AS BIGINT) AS iv_scaled
FROM woe, tot ORDER BY bin
"""


@register(
    "ext_woe_binning",
    survey_id="EXT-ML-WOE",
    category="ml-exact",
    oracle=_WOE_ORACLE,
)
def ext_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE binning + INFORMATION VALUE — credit-scoring
    feature engineering (the interpretable cousin of target encoding):
    quantity bins of width 10 get WOE = ln(good%/bad%) on the 1e-9
    floor grid (exact BIGINTs — the gridded-ln playbook), and the
    feature's IV sums (good% − bad%)·WOE across bins — here as one
    fixed expression over the ≤6-row bin table, emitted scaled. Bins
    with zero goods or bads are excluded (WOE undefined; production
    systems merge them — the exclusion is the declared rule). One
    map-side-combinable groupBy; everything else is kilobytes."""
    t = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS INT) div 10").alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    b = t.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("bad").alias("nbad"),
        (F.count("*") - F.sum("bad")).alias("ngood"),
    )
    tot = b.agg(
        F.sum("nbad").alias("tb"), F.sum("ngood").alias("tg")
    )
    woe = (
        b.crossJoin(F.broadcast(tot))
        .where((F.col("nbad") > 0) & (F.col("ngood") > 0))
        .select(
            "bin",
            "n",
            "nbad",
            "ngood",
            "tb",
            "tg",
            F.floor(
                (
                    F.log(F.col("ngood").cast("double") / F.col("tg"))
                    - F.log(F.col("nbad").cast("double") / F.col("tb"))
                )
                * F.lit(1e9)
            )
            .cast("bigint")
            .alias("woe_scaled"),
        )
    )
    return woe.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("bigint").alias("n"),
        F.col("nbad").cast("bigint").alias("n_bad"),
        "woe_scaled",
        F.expr(
            "CAST(SUM((ngood * tb - nbad * tg) * woe_scaled) "
            "OVER () div (tg * tb) AS BIGINT)"
        ).alias("iv_scaled"),
    ).orderBy("bin")


_HT_ORACLE = """
WITH t AS (
  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
               1, 12)) AS BIGINT) % 16 = 0 AS sampled
  FROM orders
),
truth AS (SELECT SUM(cents) AS total, COUNT(*) AS n FROM t),
est AS (
  SELECT SUM(CASE WHEN sampled THEN cents ELSE 0 END) * 16 AS ht_total,
         SUM(CASE WHEN sampled THEN 1 ELSE 0 END) * 16 AS ht_count
  FROM t
)
SELECT CAST(truth.total AS BIGINT) AS true_total,
       CAST(est.ht_total AS BIGINT) AS ht_total,
       CAST(truth.n AS BIGINT) AS true_count,
       CAST(est.ht_count AS BIGINT) AS ht_count,
       ABS(CAST(est.ht_total - truth.total AS DOUBLE)) / truth.total
         < 0.15 AS within_bound
FROM truth, est
"""


@register(
    "ext_horvitz_thompson",
    survey_id="EXT-HT-EST",
    category="ml-exact",
    mode="bounded",
    oracle=_HT_ORACLE,
)
def ext_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HORVITZ–THOMPSON estimation from a deterministic hash sample —
    the unbiased-total machinery behind every 'estimate from the 1/16
    sample' shortcut: inclusion via md5 (p = 1/16 exactly on the hash
    grid), estimator Σ v/p = 16·Σ_sampled v — ALL INTEGER, so the
    estimate itself hashes; the declared 15% relative-error bound
    holds with huge margin at these sizes (CV ~ √((1−p)/(p·n))). The
    design scales because the sample is a PUSHED-DOWN predicate on the
    hash — the full table is never materialized to sample it."""
    t = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ht:"), F.col("o_orderkey").cast("string")
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % 16
            == 0
        ).alias("sampled"),
    )
    agg = t.agg(
        F.sum("cents").alias("total"),
        F.count("*").alias("n"),
        (F.sum(F.when(F.col("sampled"), F.col("cents")).otherwise(0)) * 16)
        .alias("ht_total"),
        (F.sum(F.when(F.col("sampled"), 1).otherwise(0)) * 16).alias(
            "ht_count"
        ),
    )
    return agg.select(
        F.col("total").cast("bigint").alias("true_total"),
        F.col("ht_total").cast("bigint").alias("ht_total"),
        F.col("n").cast("bigint").alias("true_count"),
        F.col("ht_count").cast("bigint").alias("ht_count"),
        (
            F.abs((F.col("ht_total") - F.col("total")).cast("double"))
            / F.col("total")
            < 0.15
        ).alias("within_bound"),
    )


_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
obs AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
tot AS (SELECT SUM(n) AS nt FROM obs),
exp AS (
  SELECT g.d AS digit,
         CAST(FLOOR((ln(CAST(g.d + 1 AS DOUBLE)) - ln(CAST(g.d AS DOUBLE)))
              / ln(10e0) * 1e9) AS BIGINT) AS p_scaled
  FROM generate_series(1, 9) AS g(d)
)
SELECT e.digit,
       CAST(COALESCE(obs.n, 0) AS BIGINT) AS observed,
       e.p_scaled,
       CAST(FLOOR(CAST(COALESCE(obs.n, 0) AS DOUBLE) / tot.nt * 1e9)
            AS BIGINT) AS obs_frac_scaled
FROM exp e LEFT JOIN obs ON obs.digit = e.digit, tot
ORDER BY e.digit
"""


@register(
    "ext_benford_audit",
    survey_id="EXT-BENFORD",
    category="ml-exact",
    oracle=_BENFORD_ORACLE,
)
def ext_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit — the classic fraud/data-quality
    screen: observed leading-digit frequencies of order totals against
    the log10((d+1)/d) expectation, both rendered on the 1e-9 floor
    grid so the comparison table is exact in both engines (the
    expected probabilities are transcendental — gridded like every ln
    in this repo; the observed fractions divide exact counts). Whether
    the data 'fails Benford' is the analyst's call from the emitted
    table — synthetic uniform prices won't follow it, which is itself
    the point of an audit. One groupBy to 9 rows."""
    d = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= 1
    ).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").alias("nt"))
    exp = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit"),
        F.floor(
            (
                F.log((F.col("id") + 1).cast("double"))
                - F.log(F.col("id").cast("double"))
            )
            / F.log(F.lit(10.0))
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("p_scaled"),
    )
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0))
            .cast("bigint")
            .alias("observed"),
            "p_scaled",
            F.floor(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("nt")
                * F.lit(1e9)
            )
            .cast("bigint")
            .alias("obs_frac_scaled"),
        )
        .orderBy("digit")
    )


@register(
    "ext_batch_perceptron",
    survey_id="EXT-PERCEPTRON",
    category="ml-exact",
    oracle="""
WITH d AS (
  SELECT CAST(n_chars AS BIGINT) AS x1,
         CAST(length(text) - length(replace(text, ' ', '')) + 1
              AS BIGINT) AS x2,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y
  FROM documents
),
r1 AS (
  SELECT CAST(SUM(y) AS BIGINT) AS w0,
         CAST(SUM(y * x1) AS BIGINT) AS w1,
         CAST(SUM(y * x2) AS BIGINT) AS w2,
         CAST(COUNT(*) AS BIGINT) AS n_updates
  FROM d
),
r2 AS (
  SELECT r1.w0 + CAST(SUM(CASE WHEN y * (r1.w0 + r1.w1 * x1 + r1.w2 * x2)
                                    <= 0 THEN y ELSE 0 END) AS BIGINT) AS w0,
         r1.w1 + CAST(SUM(CASE WHEN y * (r1.w0 + r1.w1 * x1 + r1.w2 * x2)
                                    <= 0 THEN y * x1 ELSE 0 END)
                      AS BIGINT) AS w1,
         r1.w2 + CAST(SUM(CASE WHEN y * (r1.w0 + r1.w1 * x1 + r1.w2 * x2)
                                    <= 0 THEN y * x2 ELSE 0 END)
                      AS BIGINT) AS w2,
         CAST(SUM(CASE WHEN y * (r1.w0 + r1.w1 * x1 + r1.w2 * x2) <= 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_updates
  FROM d, r1 GROUP BY r1.w0, r1.w1, r1.w2
),
r3 AS (
  SELECT r2.w0 + CAST(SUM(CASE WHEN y * (r2.w0 + r2.w1 * x1 + r2.w2 * x2)
                                    <= 0 THEN y ELSE 0 END) AS BIGINT) AS w0,
         r2.w1 + CAST(SUM(CASE WHEN y * (r2.w0 + r2.w1 * x1 + r2.w2 * x2)
                                    <= 0 THEN y * x1 ELSE 0 END)
                      AS BIGINT) AS w1,
         r2.w2 + CAST(SUM(CASE WHEN y * (r2.w0 + r2.w1 * x1 + r2.w2 * x2)
                                    <= 0 THEN y * x2 ELSE 0 END)
                      AS BIGINT) AS w2,
         CAST(SUM(CASE WHEN y * (r2.w0 + r2.w1 * x1 + r2.w2 * x2) <= 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_updates
  FROM d, r2 GROUP BY r2.w0, r2.w1, r2.w2
)
SELECT * FROM (
  SELECT 1 AS round, w0, w1, w2, n_updates FROM r1
  UNION ALL SELECT 2, w0, w1, w2, n_updates FROM r2
  UNION ALL SELECT 3, w0, w1, w2, n_updates FROM r3
) ORDER BY round
""",
)
def ext_batch_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch (parallel) perceptron — three unrolled rounds of the
    all-integer update w += sum over misclassified of y*x (the batch
    subgradient form that distributes: unlike the sequential online
    perceptron, each round is ONE map-side-combinable aggregation with
    the current weights broadcast, so the algorithm is embarrassingly
    parallel and the result is independent of partitioning). Features
    are integers (doc length in chars, whitespace token count, bias),
    labels +/-1 on lang='en', weights start at 0 — every margin
    y*(w.x) is exact BIGINT arithmetic, so the weight trajectory and
    per-round update counts hash-match the oracle's unrolled CTE
    ladder with zero rounding anywhere (the determinism discipline's
    ideal case: there IS no float). Round 1 updates on every row
    (margin 0 counts as misclassified, the <= 0 convention). Scale:
    per round, one broadcast of a 3-number weight vector + one
    aggregation over the fact table; rounds are a driver-side loop of
    tiny jobs exactly like ext_logreg_gd/ext_kmeans_lloyd."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("x1"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + 1
        )
        .cast("bigint")
        .alias("x2"),
        F.when(F.col("lang") == "en", 1)
        .otherwise(-1)
        .cast("bigint")
        .alias("y"),
    )
    rows = []
    w0 = w1 = w2 = 0
    for rnd in (1, 2, 3):
        margin = (
            F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
        ) * F.col("y")
        mis = margin <= 0
        upd = d.agg(
            F.sum(F.when(mis, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("dw0"),
            F.sum(F.when(mis, F.col("y") * F.col("x1")).otherwise(0))
            .cast("bigint")
            .alias("dw1"),
            F.sum(F.when(mis, F.col("y") * F.col("x2")).otherwise(0))
            .cast("bigint")
            .alias("dw2"),
            F.sum(F.when(mis, 1).otherwise(0))
            .cast("bigint")
            .alias("n_updates"),
        ).collect()[0]
        w0 += upd["dw0"]
        w1 += upd["dw1"]
        w2 += upd["dw2"]
        rows.append((rnd, w0, w1, w2, upd["n_updates"]))
    return spark.createDataFrame(
        rows,
        "round int, w0 bigint, w1 bigint, w2 bigint, n_updates bigint",
    )


@register(
    "ext_knn_classifier_eval",
    survey_id="EXT-KNN-EVAL",
    category="ml-exact",
    oracle="""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv, label AS true_label
  FROM embeddings WHERE vec_id % 23 = 0
),
scored AS (
  SELECT q.q_id, q.true_label, e.vec_id, e.label,
         CAST(list_sum(list_transform(generate_series(1, 64),
           i -> CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE)
                * CAST(q.qv[i] AS DOUBLE) * 1e10) AS BIGINT))) AS BIGINT)
           AS dot_grid
  FROM q JOIN embeddings e ON e.vec_id <> q.q_id
),
top5 AS (
  SELECT q_id, true_label, label FROM (
    SELECT q_id, true_label, label,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY dot_grid DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk <= 5
),
votes AS (
  SELECT q_id, true_label, label AS cand,
         COUNT(*) AS n_votes
  FROM top5 GROUP BY q_id, true_label, label
),
pred AS (
  SELECT q_id, true_label,
         MIN(cand) FILTER (WHERE rnk = 1) AS pred_label
  FROM (
    SELECT q_id, true_label, cand,
           rank() OVER (PARTITION BY q_id
                        ORDER BY n_votes DESC) AS rnk
    FROM votes
  ) GROUP BY q_id, true_label
)
SELECT true_label, pred_label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY true_label, pred_label
ORDER BY true_label, pred_label
""",
)
def ext_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN classification eval (k=5) over the embedding
    corpus — the standard embedding-quality probe a data platform runs
    before/after retraining: every 23rd vector is a held-out query, its
    5 nearest neighbors (grid-exact integer dot products, self
    excluded) vote, majority label wins with min-label tie-break
    (rank over vote counts + MIN over the rank-1 candidates — both
    engines resolve ties identically because the tie set itself is
    deterministic), and the output is the confusion matrix. On this
    fixture's isotropic embeddings accuracy hovers near chance — the
    matrix being hash-exact is the point (the eval HARNESS is the
    operator; plug in trained embeddings and the same query grades
    them). Scale: the eval subset broadcasts over the corpus fact
    side, per-query top-5 compiles to WindowGroupLimit (per-partition
    partial top-k), vote/argmax ride the 5-rows-per-query table."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 23 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    dot_grid = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("qv"),
            lambda a, b: F.floor(
                a.cast("double") * b.cast("double") * F.lit(1e10)
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            "vec_id",
            "label",
            dot_grid.alias("dot_grid"),
        )
    )
    w_rk = Window.partitionBy("q_id").orderBy(
        F.col("dot_grid").desc(), F.col("vec_id")
    )
    top5 = (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") <= 5)
        .select("q_id", "true_label", "label")
    )
    votes = top5.groupBy("q_id", "true_label", "label").agg(
        F.count("*").alias("n_votes")
    )
    w_v = Window.partitionBy("q_id").orderBy(F.col("n_votes").desc())
    pred = (
        votes.withColumn("rnk", F.rank().over(w_v))
        .groupBy("q_id", "true_label")
        .agg(
            F.min(F.when(F.col("rnk") == 1, F.col("label"))).alias(
                "pred_label"
            )
        )
    )
    return (
        pred.groupBy("true_label", "pred_label")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("true_label", "pred_label")
    )


@register(
    "ext_random_forest_vote",
    survey_id="EXT-RF",
    category="ml-exact",
    oracle="""
WITH rows_f AS (
  SELECT l_orderkey AS okey, l_partkey AS pkey, l_suppkey AS skey,
         l_linenumber AS ln,
         CAST(l_quantity AS INTEGER) AS qty,
         CAST(ROUND(l_discount * 100) AS INTEGER) AS disc,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
),
trees AS (SELECT UNNEST(range(4)) AS t),
bag AS (
  SELECT t.t, r.qty, r.disc, r.pos
  FROM rows_f r CROSS JOIN trees t
  WHERE CAST(('0x' || substr(md5(CONCAT(CAST(t.t AS VARCHAR), ':',
          CAST(r.okey AS VARCHAR), ':', CAST(r.pkey AS VARCHAR), ':',
          CAST(r.skey AS VARCHAR), ':', CAST(r.ln AS VARCHAR))), 1, 12))
        AS BIGINT) % 4 <> 0
),
hist AS (
  SELECT t, CASE WHEN t % 2 = 0 THEN qty ELSE disc END AS v,
         COUNT(*) AS n, SUM(pos) AS npos
  FROM bag GROUP BY 1, 2
),
cum AS (
  SELECT t, v,
         CAST(SUM(n) OVER w AS BIGINT) AS nl,
         CAST(SUM(npos) OVER w AS BIGINT) AS pl,
         CAST(SUM(n) OVER f AS BIGINT) AS nt,
         CAST(SUM(npos) OVER f AS BIGINT) AS pt,
         MAX(v) OVER f AS vmax
  FROM hist
  WINDOW w AS (PARTITION BY t ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         f AS (PARTITION BY t)
),
split AS (
  SELECT t, v AS threshold,
         (CAST(nl AS DOUBLE)
            - (CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
               + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE))
              / CAST(nl AS DOUBLE)
          + CAST(nt - nl AS DOUBLE)
            - (CAST(pt - pl AS DOUBLE) * CAST(pt - pl AS DOUBLE)
               + CAST((nt - nl) - (pt - pl) AS DOUBLE)
                 * CAST((nt - nl) - (pt - pl) AS DOUBLE))
              / CAST(nt - nl AS DOUBLE))
         / CAST(nt AS DOUBLE) AS gini,
         CASE WHEN 2 * pl > nl THEN 1 ELSE 0 END AS left_pred,
         CASE WHEN 2 * (pt - pl) > (nt - nl) THEN 1 ELSE 0 END
           AS right_pred
  FROM cum WHERE v < vmax
),
best AS (
  SELECT t, threshold, gini, left_pred, right_pred FROM (
    SELECT *, row_number() OVER (PARTITION BY t
                                 ORDER BY gini, threshold) AS rk
    FROM split
  ) WHERE rk = 1
),
cells AS (
  SELECT qty, disc, pos, COUNT(*) AS n FROM rows_f GROUP BY 1, 2, 3
),
voted AS (
  SELECT c.qty, c.disc, c.pos, c.n,
         SUM(CASE WHEN (CASE WHEN b.t % 2 = 0 THEN c.qty ELSE c.disc END)
                       <= b.threshold
                  THEN b.left_pred ELSE b.right_pred END) AS votes
  FROM cells c CROSS JOIN best b
  GROUP BY c.qty, c.disc, c.pos, c.n
),
conf AS (
  SELECT CAST(SUM(CASE WHEN pos = 1 AND votes >= 3 THEN n ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pos = 0 AND votes >= 3 THEN n ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN pos = 0 AND votes < 3 THEN n ELSE 0 END)
              AS BIGINT) AS tn,
         CAST(SUM(CASE WHEN pos = 1 AND votes < 3 THEN n ELSE 0 END)
              AS BIGINT) AS fn
  FROM voted
)
SELECT b.t AS tree,
       CASE WHEN b.t % 2 = 0 THEN 'qty' ELSE 'disc' END AS feature,
       CAST(b.threshold AS BIGINT) AS threshold,
       b.gini,
       CAST(b.left_pred AS BIGINT) AS left_pred,
       CAST(b.right_pred AS BIGINT) AS right_pred,
       c.tp, c.fp, c.tn, c.fn
FROM best b CROSS JOIN conf c ORDER BY tree
""",
)
def ext_random_forest_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-forest ensemble (4 bagged stumps + majority vote) — the
    bagging layer over EXT-STUMP, fully distributed and hash-exact:
    each tree draws a deterministic 75% bootstrap-ish bag (portable
    md5 coin keyed on tree x row identity), fits the exact
    Gini-minimizing stump on its assigned feature (trees alternate
    qty / discount — the feature-subset half of the random-forest
    recipe), and the ensemble predicts by strict majority (>= 3 of 4;
    2-2 ties vote negative). All four histograms build in ONE
    map-side-combinable groupBy (the tree id is just another key — a
    4x explode, not 4 scans), the split search runs on the kilobyte
    (tree, value) histogram exactly like MLlib's candidate-bin tree
    fit, and voting collapses to the ~550 distinct (qty, disc) cells
    x 4 broadcast stumps — the fact table is touched twice total at
    any scale. Per-tree split rows carry the shared ensemble
    confusion matrix; Gini doubles are fixed IEEE expressions over
    exact integers (bit-identical across engines, the EXT-STUMP
    discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    rows_f = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").alias("pkey"),
        F.col("l_suppkey").alias("skey"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("int").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("int").alias("disc"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    t_col = F.explode(F.array(*[F.lit(t) for t in range(4)])).alias("t")
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("t"),
                        F.col("okey"),
                        F.col("pkey"),
                        F.col("skey"),
                        F.col("ln"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 4
    )
    bag = (
        rows_f.select("okey", "pkey", "skey", "ln", "qty", "disc", "pos", t_col)
        .where(coin != 0)
        .select(
            "t",
            F.when(F.col("t") % 2 == 0, F.col("qty"))
            .otherwise(F.col("disc"))
            .alias("v"),
            "pos",
        )
    )
    hist = bag.groupBy("t", "v").agg(
        F.count("*").alias("n"), F.sum("pos").alias("npos")
    )
    w = (
        Window.partitionBy("t")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f_all = Window.partitionBy("t")
    cum = hist.select(
        "t",
        "v",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("npos").over(w).cast("bigint").alias("pl"),
        F.sum("n").over(f_all).cast("bigint").alias("nt"),
        F.sum("npos").over(f_all).cast("bigint").alias("pt"),
        F.max("v").over(f_all).alias("vmax"),
    ).where(F.col("v") < F.col("vmax"))
    nl_d = F.col("nl").cast("double")
    pl_d = F.col("pl").cast("double")
    ql_d = (F.col("nl") - F.col("pl")).cast("double")
    nr_d = (F.col("nt") - F.col("nl")).cast("double")
    pr_d = (F.col("pt") - F.col("pl")).cast("double")
    qr_d = ((F.col("nt") - F.col("nl")) - (F.col("pt") - F.col("pl"))).cast(
        "double"
    )
    gini = (
        nl_d
        - (pl_d * pl_d + ql_d * ql_d) / nl_d
        + nr_d
        - (pr_d * pr_d + qr_d * qr_d) / nr_d
    ) / F.col("nt").cast("double")
    split = cum.select(
        "t",
        F.col("v").alias("threshold"),
        gini.alias("gini"),
        F.when(2 * F.col("pl") > F.col("nl"), 1).otherwise(0).alias(
            "left_pred"
        ),
        F.when(
            2 * (F.col("pt") - F.col("pl")) > (F.col("nt") - F.col("nl")), 1
        )
        .otherwise(0)
        .alias("right_pred"),
    )
    w_best = Window.partitionBy("t").orderBy("gini", "threshold")
    best = (
        split.withColumn("rk", F.row_number().over(w_best))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    cells = rows_f.groupBy("qty", "disc", "pos").agg(
        F.count("*").alias("n")
    )
    pred = F.when(
        F.when(F.col("t") % 2 == 0, F.col("qty")).otherwise(F.col("disc"))
        <= F.col("threshold"),
        F.col("left_pred"),
    ).otherwise(F.col("right_pred"))
    voted = (
        cells.crossJoin(F.broadcast(best))
        .groupBy("qty", "disc", "pos", "n")
        .agg(F.sum(pred).alias("votes"))
    )
    conf = voted.agg(
        F.sum(
            F.when((F.col("pos") == 1) & (F.col("votes") >= 3), F.col("n"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.sum(
            F.when((F.col("pos") == 0) & (F.col("votes") >= 3), F.col("n"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.when((F.col("pos") == 0) & (F.col("votes") < 3), F.col("n"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("tn"),
        F.sum(
            F.when((F.col("pos") == 1) & (F.col("votes") < 3), F.col("n"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("fn"),
    )
    return (
        best.crossJoin(F.broadcast(conf))
        .select(
            F.col("t").cast("bigint").alias("tree"),
            F.when(F.col("t") % 2 == 0, "qty")
            .otherwise("disc")
            .alias("feature"),
            F.col("threshold").cast("bigint").alias("threshold"),
            "gini",
            F.col("left_pred").cast("bigint").alias("left_pred"),
            F.col("right_pred").cast("bigint").alias("right_pred"),
            "tp",
            "fp",
            "tn",
            "fn",
        )
        .orderBy("tree")
    )


@register(
    "ext_classification_report",
    survey_id="EXT-CLSREPORT",
    category="ml-exact",
    oracle=f"""
WITH conf AS ({_NB_ORACLE}),
classes AS (
  SELECT DISTINCT actual_lang AS c FROM conf
  UNION SELECT DISTINCT pred_lang FROM conf
),
stats AS (
  SELECT cls.c,
         CAST(COALESCE(SUM(CASE WHEN conf.actual_lang = cls.c
                                 AND conf.pred_lang = cls.c
                                THEN conf.n_docs END), 0) AS BIGINT) AS tp,
         CAST(COALESCE(SUM(CASE WHEN conf.pred_lang = cls.c
                                THEN conf.n_docs END), 0) AS BIGINT)
           AS pred_n,
         CAST(COALESCE(SUM(CASE WHEN conf.actual_lang = cls.c
                                THEN conf.n_docs END), 0) AS BIGINT)
           AS actual_n
  FROM classes cls CROSS JOIN conf
  GROUP BY cls.c
),
tot AS (
  SELECT CAST(SUM(tp) AS BIGINT) AS tp_all,
         CAST(SUM(actual_n) AS BIGINT) AS n_all
  FROM stats
)
SELECT s.c AS class,
       s.tp, s.pred_n - s.tp AS fp, s.actual_n - s.tp AS fn,
       CASE WHEN s.pred_n = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(1000000 * s.tp // s.pred_n AS BIGINT) END
         AS precision_x1e6,
       CASE WHEN s.actual_n = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(1000000 * s.tp // s.actual_n AS BIGINT) END
         AS recall_x1e6,
       CASE WHEN s.pred_n + s.actual_n = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(2000000 * s.tp // (s.pred_n + s.actual_n)
                      AS BIGINT) END AS f1_x1e6,
       CAST(1000000 * t.tp_all // t.n_all AS BIGINT) AS accuracy_x1e6
FROM stats s CROSS JOIN tot t ORDER BY class
""",
)
def ext_classification_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class precision / recall / F1 + micro accuracy from the
    Naive Bayes confusion matrix (EXT-NBAYES reused as the upstream
    stage — the report is the standard sklearn-style
    classification_report, computed with ZERO floats: every metric is
    a rational with a known small denominator, floored onto the 1e6
    grid, and F1 collapses to the exact integer identity
    2*tp // (pred_n + actual_n) — no harmonic-mean division chain.
    Scale: the confusion matrix is |classes|^2 rows; the report is
    arithmetic on that kilobyte table — the expensive part (scoring)
    is EXT-NBAYES's one inner-join aggregate, unchanged.

    r11 A/B (kept as-is): localCheckpointing the confusion matrix
    measured SLOWER (2.45 s → 2.82 s noop at sf0.1): the duplicated NB
    subtrees are independent stages the scheduler runs CONCURRENTLY
    inside one job, while an eager checkpoint serializes
    build-then-consume. Measured and reverted."""
    conf = ext_naive_bayes(spark, sf_dir)
    classes = (
        conf.select(F.col("actual_lang").alias("c"))
        .unionByName(conf.select(F.col("pred_lang").alias("c")))
        .distinct()
    )
    stats = (
        classes.crossJoin(conf)
        .groupBy("c")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("actual_lang") == F.col("c"))
                        & (F.col("pred_lang") == F.col("c")),
                        F.col("n_docs"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("pred_lang") == F.col("c"), F.col("n_docs")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("pred_n"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("actual_lang") == F.col("c"),
                        F.col("n_docs"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("actual_n"),
        )
    )
    tot = stats.agg(
        F.sum("tp").cast("bigint").alias("tp_all"),
        F.sum("actual_n").cast("bigint").alias("n_all"),
    )
    return (
        stats.crossJoin(F.broadcast(tot))
        .select(
            F.col("c").alias("class"),
            "tp",
            (F.col("pred_n") - F.col("tp")).alias("fp"),
            (F.col("actual_n") - F.col("tp")).alias("fn"),
            F.when(F.col("pred_n") == 0, F.lit(0))
            .otherwise(F.expr("1000000 * tp div pred_n"))
            .cast("bigint")
            .alias("precision_x1e6"),
            F.when(F.col("actual_n") == 0, F.lit(0))
            .otherwise(F.expr("1000000 * tp div actual_n"))
            .cast("bigint")
            .alias("recall_x1e6"),
            F.when(F.col("pred_n") + F.col("actual_n") == 0, F.lit(0))
            .otherwise(F.expr("2000000 * tp div (pred_n + actual_n)"))
            .cast("bigint")
            .alias("f1_x1e6"),
            F.expr("1000000 * tp_all div n_all")
            .cast("bigint")
            .alias("accuracy_x1e6"),
        )
        .orderBy("class")
    )


def _nb_fold_sql(fold: int) -> str:
    """One CV fold of the EXT-NBAYES pipeline as SQL: train on
    doc_id % 3 != fold, score the held-out fold."""
    g = _SQL_GRIDLN.format
    return f"""
  WITH toks_tr AS (
    SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
    FROM documents WHERE doc_id % 3 <> {fold}
  ),
  tokc AS (SELECT lang AS l, w, COUNT(*) AS c FROM toks_tr GROUP BY 1, 2),
  nl AS (SELECT l, CAST(SUM(c) AS BIGINT) AS n_l FROM tokc GROUP BY l),
  vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks_tr),
  dl AS (SELECT lang AS l, COUNT(*) AS d_l FROM documents
         WHERE doc_id % 3 <> {fold} GROUP BY lang),
  dtot AS (SELECT COUNT(*) AS d FROM documents WHERE doc_id % 3 <> {fold}),
  m AS (
    SELECT doc_id, lang AS actual, t.w, COUNT(*) AS mw
    FROM documents,
         LATERAL (SELECT UNNEST(string_split(text, ' ')) AS w) t
    WHERE doc_id % 3 = {fold}
    GROUP BY doc_id, lang, t.w
  ),
  docsum AS (
    SELECT doc_id, actual, CAST(SUM(mw) AS BIGINT) AS t_doc
    FROM m GROUP BY doc_id, actual
  ),
  terms AS (
    SELECT m.doc_id, tokc.l,
           CAST(SUM(m.mw * {g(x='tokc.c + 1')}) AS BIGINT) AS term_sum
    FROM m JOIN tokc ON m.w = tokc.w
    GROUP BY m.doc_id, tokc.l
  ),
  scored AS (
    SELECT ds.doc_id, ds.actual, nl.l,
           ({g(x='dl.d_l')} - {g(x='dtot.d')}
            + COALESCE(t.term_sum, 0)
            - ds.t_doc * {g(x='nl.n_l + vocab.v')}) AS score_e9
    FROM docsum ds
    CROSS JOIN nl CROSS JOIN vocab CROSS JOIN dtot
    JOIN dl ON dl.l = nl.l
    LEFT JOIN terms t ON t.doc_id = ds.doc_id AND t.l = nl.l
  ),
  pred AS (
    SELECT doc_id, actual, l AS p,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_e9 DESC, l ASC) AS rk
    FROM scored
  )
  SELECT {fold} AS fold,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN p = actual THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM pred WHERE rk = 1"""


@register(
    "ext_cross_validation",
    survey_id="EXT-CROSSVAL",
    category="ml-exact",
    oracle=f"""
WITH folds AS (
  ({_nb_fold_sql(0)})
  UNION ALL ({_nb_fold_sql(1)})
  UNION ALL ({_nb_fold_sql(2)})
),
cv AS (
  SELECT CAST(SUM(n_correct) AS BIGINT) AS c_all,
         CAST(SUM(n_test) AS BIGINT) AS n_all
  FROM folds
)
SELECT f.fold, f.n_test, f.n_correct,
       CAST(1000000 * f.n_correct // f.n_test AS BIGINT)
         AS fold_accuracy_x1e6,
       CAST(1000000 * cv.c_all // cv.n_all AS BIGINT) AS cv_accuracy_x1e6
FROM folds f CROSS JOIN cv ORDER BY f.fold
""",
)
def ext_cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-fold cross-validation of the Naive Bayes classifier — the
    model-selection harness done RIGHT in-engine: each fold trains on
    2/3 of documents (deterministic doc_id % 3 splits — reproducible
    membership, no RNG) and scores the HELD-OUT third (contrast
    EXT-NBAYES's training-set confusion: this is the honest
    generalization estimate), with the same gridded-ln BIGINT scoring
    so per-fold correct counts and the pooled CV accuracy are
    hash-exact. Per-fold smoothing vocabularies and priors are
    recomputed from that fold's training split only — no leakage
    (unseen test tokens drop out of the inner join, contributing
    ln(1)=0 exactly as in training-time scoring of rare words).
    Scale: 3x the NBAYES plan — each fold is one explode + two keyed
    aggregates + the tiny score join; folds are independent and
    pipeline freely."""
    outs = []
    for fold in range(3):
        d = load_table(spark, sf_dir, "documents")
        train = d.where(F.col("doc_id") % 3 != fold)
        test = d.where(F.col("doc_id") % 3 == fold)
        toks_tr = train.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
        )
        tokc = toks_tr.groupBy(
            F.col("lang").alias("l"), "w"
        ).agg(F.count("*").alias("c"))
        nl = tokc.groupBy("l").agg(F.sum("c").cast("bigint").alias("n_l"))
        vocab = toks_tr.agg(F.countDistinct("w").alias("v"))
        dl = train.groupBy(F.col("lang").alias("l")).agg(
            F.count("*").alias("d_l")
        )
        dtot = train.agg(F.count("*").alias("d"))
        m = (
            test.select(
                "doc_id",
                F.col("lang").alias("actual"),
                F.explode(F.split("text", " ")).alias("w"),
            )
            .groupBy("doc_id", "actual", "w")
            .agg(F.count("*").alias("mw"))
        )
        docsum = m.groupBy("doc_id", "actual").agg(
            F.sum("mw").cast("bigint").alias("t_doc")
        )
        terms = (
            m.join(tokc, "w")
            .groupBy("doc_id", "l")
            .agg(
                F.sum(F.col("mw") * _gridln(F.col("c") + 1))
                .cast("bigint")
                .alias("term_sum")
            )
        )
        scored = (
            docsum.crossJoin(F.broadcast(nl))
            .crossJoin(F.broadcast(vocab))
            .crossJoin(F.broadcast(dtot))
            .join(F.broadcast(dl), "l")
            .join(terms, ["doc_id", "l"], "left")
            .select(
                "doc_id",
                "actual",
                "l",
                (
                    _gridln(F.col("d_l"))
                    - _gridln(F.col("d"))
                    + F.coalesce(F.col("term_sum"), F.lit(0))
                    - F.col("t_doc")
                    * _gridln(F.col("n_l") + F.col("v"))
                ).alias("score_e9"),
            )
        )
        w_rk = Window.partitionBy("doc_id").orderBy(
            F.col("score_e9").desc(), F.col("l").asc()
        )
        pred = (
            scored.withColumn("rk", F.row_number().over(w_rk))
            .where(F.col("rk") == 1)
        )
        outs.append(
            pred.agg(
                F.count("*").cast("bigint").alias("n_test"),
                F.sum(
                    F.when(F.col("l") == F.col("actual"), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_correct"),
            ).select(
                F.lit(fold).alias("fold"), "n_test", "n_correct"
            )
        )
    folds = outs[0].unionByName(outs[1]).unionByName(outs[2])
    cv = folds.agg(
        F.sum("n_correct").cast("bigint").alias("c_all"),
        F.sum("n_test").cast("bigint").alias("n_all"),
    )
    return (
        folds.crossJoin(F.broadcast(cv))
        .select(
            "fold",
            "n_test",
            "n_correct",
            F.expr("1000000 * n_correct div n_test")
            .cast("bigint")
            .alias("fold_accuracy_x1e6"),
            F.expr("1000000 * c_all div n_all")
            .cast("bigint")
            .alias("cv_accuracy_x1e6"),
        )
        .orderBy("fold")
    )


@register(
    "ext_adaboost_two_rounds",
    survey_id="EXT-ADABOOST",
    category="ml-exact",
    oracle="""
WITH rows_f AS (
  SELECT CAST(l_quantity AS INT) AS qty,
         CAST(ROUND(l_discount * 100) AS INT) AS disc_cents,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
),
n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS p FROM rows_f),
long1 AS (
  SELECT 'qty' AS feature, qty AS v, 1 AS w, pos FROM rows_f
  UNION ALL
  SELECT 'disc_cents', disc_cents, 1, pos FROM rows_f
),
cand1 AS (
  SELECT feature, v,
         SUM(SUM(w)) OVER (PARTITION BY feature ORDER BY v) AS nl,
         SUM(SUM(w * pos)) OVER (PARTITION BY feature ORDER BY v) AS pl,
         SUM(SUM(w)) OVER (PARTITION BY feature) AS nt,
         SUM(SUM(w * pos)) OVER (PARTITION BY feature) AS pt
  FROM long1 GROUP BY feature, v
),
best1 AS (
  SELECT feature, v,
         CAST(LEAST((nl - pl) + (pt - pl),
                    pl + ((nt - nl) - (pt - pl))) AS BIGINT) AS err_w,
         CAST(nt AS BIGINT) AS den_w,
         CASE WHEN (nl - pl) + (pt - pl)
                   <= pl + ((nt - nl) - (pt - pl))
              THEN 1 ELSE 0 END AS left_pos
  FROM cand1 WHERE nl < nt
  ORDER BY LEAST((nl - pl) + (pt - pl),
                 pl + ((nt - nl) - (pt - pl))), feature, v
  LIMIT 1
),
tagged AS (
  SELECT r.*,
         CASE WHEN ((b.feature = 'qty' AND r.qty <= b.v)
                    OR (b.feature = 'disc_cents' AND r.disc_cents <= b.v))
              THEN b.left_pos ELSE 1 - b.left_pos END AS h1
  FROM rows_f r CROSS JOIN best1 b
),
m1 AS (SELECT CAST(SUM(CASE WHEN h1 <> pos THEN 1 ELSE 0 END) AS BIGINT)
              AS m, CAST(COUNT(*) AS BIGINT) AS n FROM tagged),
long2 AS (
  SELECT 'qty' AS feature, qty AS v,
         CASE WHEN h1 <> pos THEN (SELECT n - m FROM m1)
              ELSE (SELECT m FROM m1) END AS w, pos
  FROM tagged
  UNION ALL
  SELECT 'disc_cents', disc_cents,
         CASE WHEN h1 <> pos THEN (SELECT n - m FROM m1)
              ELSE (SELECT m FROM m1) END, pos
  FROM tagged
),
cand2 AS (
  SELECT feature, v,
         SUM(SUM(w)) OVER (PARTITION BY feature ORDER BY v) AS nl,
         SUM(SUM(w * pos)) OVER (PARTITION BY feature ORDER BY v) AS pl,
         SUM(SUM(w)) OVER (PARTITION BY feature) AS nt,
         SUM(SUM(w * pos)) OVER (PARTITION BY feature) AS pt
  FROM long2 GROUP BY feature, v
),
best2 AS (
  SELECT feature, v,
         CAST(LEAST((nl - pl) + (pt - pl),
                    pl + ((nt - nl) - (pt - pl))) AS BIGINT) AS err_w,
         CAST(nt AS BIGINT) AS den_w,
         CASE WHEN (nl - pl) + (pt - pl)
                   <= pl + ((nt - nl) - (pt - pl))
              THEN 1 ELSE 0 END AS left_pos
  FROM cand2 WHERE nl < nt
  ORDER BY LEAST((nl - pl) + (pt - pl),
                 pl + ((nt - nl) - (pt - pl))), feature, v
  LIMIT 1
),
alpha AS (
  SELECT CAST(FLOOR(ln(CAST((SELECT n - m FROM m1) AS DOUBLE)
                       / CAST((SELECT m FROM m1) AS DOUBLE)) * 500000e0)
              AS BIGINT) AS a1,
         CAST(FLOOR(ln(CAST(b.den_w - b.err_w AS DOUBLE)
                       / CAST(b.err_w AS DOUBLE)) * 500000e0)
              AS BIGINT) AS a2
  FROM best2 b
),
ens AS (
  SELECT CAST(SUM(CASE WHEN (CASE WHEN t.h1 = 1 THEN 1 ELSE -1 END)
                            * alpha.a1
                          + (CASE WHEN ((b2.feature = 'qty'
                                         AND t.qty <= b2.v)
                                        OR (b2.feature = 'disc_cents'
                                            AND t.disc_cents <= b2.v))
                                  THEN (CASE WHEN b2.left_pos = 1
                                             THEN 1 ELSE -1 END)
                                  ELSE (CASE WHEN b2.left_pos = 1
                                             THEN -1 ELSE 1 END) END)
                            * alpha.a2 > 0
                       THEN (CASE WHEN t.pos = 0 THEN 1 ELSE 0 END)
                       ELSE (CASE WHEN t.pos = 1 THEN 1 ELSE 0 END) END)
              AS BIGINT) AS ens_err
  FROM tagged t CROSS JOIN best2 b2 CROSS JOIN alpha
)
SELECT 1 AS round, b1.feature, CAST(b1.v AS BIGINT) AS threshold,
       b1.left_pos,
       (SELECT m FROM m1) AS err_num, (SELECT n FROM m1) AS err_den,
       alpha.a1 AS alpha_micro, ens.ens_err, (SELECT n FROM m1) AS n
FROM best1 b1 CROSS JOIN alpha CROSS JOIN ens
UNION ALL
SELECT 2, b2.feature, CAST(b2.v AS BIGINT), b2.left_pos,
       b2.err_w, b2.den_w, alpha.a2, ens.ens_err, (SELECT n FROM m1)
FROM best2 b2 CROSS JOIN alpha CROSS JOIN ens
ORDER BY round
""",
)
def ext_adaboost_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of AdaBoost over decision stumps, integer-exact end
    to end — the boosting loop ext_decision_stump / ext_gbdt_round
    stop short of: fit the minimum-WEIGHTED-ERROR stump (not Gini —
    the boosting-native objective, and a pure-integer argmin), then
    reweight with the classic exp(+-alpha) factors expressed as
    INTEGERS: wrong rows get weight (N-m), right rows m (any positive
    scaling of exp(alpha):exp(-alpha) = (N-m):m fits the next stump
    identically), so round 2's weighted histogram, its argmin, and the
    final 2-stump ensemble error are all exact BIGINT arithmetic; only
    the reported alphas touch the ln grid (x 5e5 = the 1/2 factor
    folded in).

    Scale shape: each round is ONE map-side-combinable (feature,
    value) histogram over the fact scan (the MLlib candidate-bin
    design), cumulative sums over the ~60-row histogram, an integer
    argmin; the chosen 1-row split broadcasts back for tagging. Three
    fact passes total (round-1 hist, round-2 hist over tagged rows,
    ensemble eval), each O(rows) with kilobyte reductions."""
    li = load_table(spark, sf_dir, "lineitem")
    rows_f = pin(li.select(
        F.col("l_quantity").cast("int").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("int").alias("disc_cents"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    ))

    def fit_stump(df, wcol):
        longs = []
        for feat in ("qty", "disc_cents"):
            longs.append(
                df.select(
                    F.lit(feat).alias("feature"),
                    F.col(feat).alias("v"),
                    F.col(wcol).alias("w"),
                    "pos",
                )
            )
        lng = longs[0].unionAll(longs[1])
        hist = lng.groupBy("feature", "v").agg(
            F.sum("w").alias("hn"),
            F.sum(F.col("w") * F.col("pos")).alias("hp"),
        )
        wcum = (
            Window.partitionBy("feature")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wall = Window.partitionBy("feature")
        cand = hist.select(
            "feature",
            "v",
            F.sum("hn").over(wcum).cast("bigint").alias("nl"),
            F.sum("hp").over(wcum).cast("bigint").alias("pl"),
            F.sum("hn").over(wall).cast("bigint").alias("nt"),
            F.sum("hp").over(wall).cast("bigint").alias("pt"),
        ).where(F.col("nl") < F.col("nt"))
        err_a = (F.col("nl") - F.col("pl")) + (F.col("pt") - F.col("pl"))
        err_b = F.col("pl") + (
            (F.col("nt") - F.col("nl")) - (F.col("pt") - F.col("pl"))
        )
        scored = cand.select(
            "feature",
            "v",
            F.least(err_a, err_b).cast("bigint").alias("err_w"),
            F.col("nt").alias("den_w"),
            F.when(err_a <= err_b, 1).otherwise(0).alias("left_pos"),
        )
        return pin(
            scored.orderBy("err_w", "feature", "v")
            .limit(1)
        )

    one = rows_f.withColumn("w1", F.lit(1))
    best1 = fit_stump(one, "w1")
    tagged = pin(rows_f.crossJoin(F.broadcast(best1)).select(
        "qty",
        "disc_cents",
        "pos",
        F.when(
            ((F.col("feature") == "qty") & (F.col("qty") <= F.col("v")))
            | (
                (F.col("feature") == "disc_cents")
                & (F.col("disc_cents") <= F.col("v"))
            ),
            F.col("left_pos"),
        )
        .otherwise(1 - F.col("left_pos"))
        .alias("h1"),
    ))
    m1 = pin(tagged.agg(
        F.sum(F.when(F.col("h1") != F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
        F.count("*").cast("bigint").alias("n"),
    ))
    two = tagged.crossJoin(F.broadcast(m1)).withColumn(
        "w2",
        F.when(F.col("h1") != F.col("pos"), F.col("n") - F.col("m"))
        .otherwise(F.col("m")),
    )
    best2 = fit_stump(two, "w2")
    a1 = F.floor(
        F.log(
            (F.col("n") - F.col("m")).cast("double")
            / F.col("m").cast("double")
        )
        * 5e5
    ).cast("bigint")
    a2 = F.floor(
        F.log(
            (F.col("den_w") - F.col("err_w")).cast("double")
            / F.col("err_w").cast("double")
        )
        * 5e5
    ).cast("bigint")
    alpha = pin(
        m1.crossJoin(F.broadcast(best2.select("den_w", "err_w")))
        .select(a1.alias("a1"), a2.alias("a2"))
    )
    b2r = best2.select(
        F.col("feature").alias("f2"),
        F.col("v").alias("v2"),
        F.col("left_pos").alias("lp2"),
    )
    h2 = F.when(
        ((F.col("f2") == "qty") & (F.col("qty") <= F.col("v2")))
        | (
            (F.col("f2") == "disc_cents")
            & (F.col("disc_cents") <= F.col("v2"))
        ),
        F.col("lp2"),
    ).otherwise(1 - F.col("lp2"))
    vote = (2 * F.col("h1") - 1) * F.col("a1") + (2 * h2 - 1) * F.col("a2")
    ens = (
        tagged.crossJoin(F.broadcast(b2r))
        .crossJoin(F.broadcast(alpha))
        .agg(
            F.sum(
                F.when(vote > 0, 1 - F.col("pos")).otherwise(F.col("pos"))
            )
            .cast("bigint")
            .alias("ens_err")
        )
    )
    r1 = (
        best1.crossJoin(F.broadcast(m1))
        .crossJoin(F.broadcast(alpha))
        .crossJoin(F.broadcast(ens))
        .select(
            F.lit(1).alias("round"),
            "feature",
            F.col("v").cast("bigint").alias("threshold"),
            "left_pos",
            F.col("m").alias("err_num"),
            F.col("n").alias("err_den"),
            F.col("a1").alias("alpha_micro"),
            "ens_err",
            "n",
        )
    )
    r2 = (
        best2.crossJoin(F.broadcast(m1))
        .crossJoin(F.broadcast(alpha))
        .crossJoin(F.broadcast(ens))
        .select(
            F.lit(2).alias("round"),
            "feature",
            F.col("v").cast("bigint").alias("threshold"),
            "left_pos",
            F.col("err_w").alias("err_num"),
            F.col("den_w").alias("err_den"),
            F.col("a2").alias("alpha_micro"),
            "ens_err",
            "n",
        )
    )
    return r1.unionByName(r2).orderBy("round")


@register(
    "ext_dp_exponential_mechanism",
    survey_id="EXT-DP-EXPMECH",
    category="ml-exact",
    oracle="""
WITH tf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY token
),
keyed AS (
  SELECT token, c,
         250000 * c
         + CAST(FLOOR(-LN(-LN(
             (CAST(('0x' || substr(md5('em:' || token), 1, 12)) AS BIGINT)
              + 0.5e0) / 281474976710656e0)) * 1000000e0) AS BIGINT)
           AS key
  FROM tf
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, token) AS BIGINT)
         AS rank,
       token, c, key
FROM keyed
ORDER BY key DESC, token
LIMIT 5
""",
)
def ext_dp_exponential_mechanism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPONENTIAL MECHANISM (McSherry & Talwar 2007) for
    differentially-private top-k selection — the DP release primitive
    ext_dp_laplace_histogram's additive noise can't provide (selecting
    an item from an unbounded domain): utility = token count,
    sensitivity 1, epsilon = 0.5, and the k=5 release via GUMBEL
    TOP-K, which is exactly k sequential exponential-mechanism draws
    without replacement (the Gumbel-max identity a third time after
    ext_dsir_gumbel_resample and ext_kmeanspp_seeding — one
    distributed TakeOrdered instead of k sequential passes). Key =
    eps/2 * count + Gumbel lands exactly on the integer lattice:
    250000*c is exact, the Gumbel is the md5-derived 1e-6 grid draw.
    The hash-seeded noise makes the mechanism REPLAYABLE for the
    oracle and tests; a production release would swap in true
    randomness (the privacy accounting is unchanged — noise source is
    orthogonal to the mechanism's structure). The count column rides
    along for verification, not release.

    Scale shape: one map-side-combinable token count, row-local keys,
    one TakeOrdered(5). Nothing else."""
    tf = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("em:"), F.col("token"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(281474976710656.0)
    keyed = tf.select(
        "token",
        "c",
        (
            250000 * F.col("c")
            + F.floor(-F.log(-F.log(u)) * 1e6).cast("bigint")
        ).alias("key"),
    )
    from pyspark.sql import Window

    top = keyed.orderBy(F.col("key").desc(), "token").limit(5)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("key").desc(), "token"))
        .cast("bigint"),
    ).select("rank", "token", "c", "key").orderBy("rank")


@register(
    "ext_neyman_allocation",
    survey_id="EXT-NEYMAN",
    category="ml-exact",
    oracle="""
WITH s AS (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(n_chars) AS BIGINT) AS sm,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sq
  FROM documents GROUP BY lang, source
),
w AS (
  SELECT lang, source, n_rows,
         CAST(n_rows * sq - sm * sm AS BIGINT) AS var_num,
         CAST(FLOOR(SQRT(CAST(n_rows * sq - sm * sm AS DOUBLE)) * 1000e0)
              AS BIGINT) AS w_scaled
  FROM s
),
tot AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS tw FROM w)
SELECT w.lang, w.source, w.n_rows, w.var_num, w.w_scaled,
       CAST(w.w_scaled * 1000000 // tot.tw AS BIGINT) AS share_micro,
       CAST(w.w_scaled * 1000 // tot.tw AS BIGINT) AS alloc_of_1000
FROM w CROSS JOIN tot
ORDER BY lang, source
""",
)
def ext_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN OPTIMAL ALLOCATION (Neyman 1934 — the survey-sampling
    result behind every variance-aware sampling budget): when drawing
    a fixed-budget stratified sample, allocate to stratum h in
    proportion to N_h * S_h (population size x standard deviation).
    Strata are (lang, source); the measured variable is n_chars; the
    output is each stratum's exact weight, micro share, and its
    allocation of a 1000-row budget — the table a curation pipeline
    reads to spend its annotation/inspection budget where the length
    distribution is widest, not just largest.

    Exactness: N_h * S_h = sqrt(N_h * sum(x^2) - (sum x)^2) EXACTLY
    (the N_h cancels), so the allocation weight is one IEEE sqrt of
    an exact BIGINT — correctly rounded and identical across engines —
    floored to a 1e-3 grid; shares and allocations are integer
    floor-divisions of exact BIGINTs.

    Scale shape: one combinable grouped aggregate over the corpus,
    then O(strata) rows; the weight total is a 1-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("sm"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("sq"),
    )
    w = s.select(
        "lang",
        "source",
        "n_rows",
        (F.col("n_rows") * F.col("sq") - F.col("sm") * F.col("sm"))
        .cast("bigint")
        .alias("var_num"),
        F.floor(
            F.sqrt(
                (
                    F.col("n_rows") * F.col("sq")
                    - F.col("sm") * F.col("sm")
                ).cast("double")
            )
            * F.lit(1e3)
        )
        .cast("bigint")
        .alias("w_scaled"),
    )
    tot = w.agg(F.sum("w_scaled").cast("bigint").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_rows",
            "var_num",
            "w_scaled",
            F.expr("w_scaled * 1000000 DIV tw")
            .cast("bigint")
            .alias("share_micro"),
            F.expr("w_scaled * 1000 DIV tw")
            .cast("bigint")
            .alias("alloc_of_1000"),
        )
        .orderBy("lang", "source")
    )


_SH_BUDGETS = [64, 128, 256, 512]  # per-arm sample prefix per round


def _successive_halving_oracle() -> str:
    """Code-generated unrolled oracle: per round, surviving arms are
    scored on their first n_r logged samples (deterministic (ts,
    event_id) prefix), ranked by the exact nano-floored mean with an
    arm tie-break, and the top ceil(k/2) survive."""
    parts = [
        """ranked AS (
  SELECT event_type || ':' || CAST(user_id % 4 AS VARCHAR) AS arm,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, user_id % 4
           ORDER BY ts, event_id) AS rk
  FROM events
),
s0 AS (SELECT DISTINCT arm FROM ranked)"""
    ]
    rows = []
    for i, n in enumerate(_SH_BUDGETS, start=1):
        parts.append(
            f"""a{i} AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_used,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM ranked WHERE rk <= {n}
    AND arm IN (SELECT arm FROM s{i - 1})
  GROUP BY arm
),
r{i} AS (
  SELECT arm, n_used, sum_cents,
         CAST(sum_cents * 1000000000 // n_used AS BIGINT) AS mean_nano,
         ROW_NUMBER() OVER (
           ORDER BY sum_cents * 1000000000 // n_used DESC, arm) AS arank,
         COUNT(*) OVER () AS k
  FROM a{i}
),
s{i} AS (SELECT arm FROM r{i} WHERE arank * 2 <= k + 1)"""
        )
        rows.append(
            f"SELECT CAST({i} AS BIGINT) AS round, arm, n_used,"
            f" sum_cents, mean_nano,"
            f" arank * 2 <= k + 1 AS survived FROM r{i}"
        )
    union = " UNION ALL ".join(rows)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT * FROM ({union}) ORDER BY round, arm"
    )


@register(
    "ext_successive_halving",
    survey_id="EXT-SUCC-HALVING",
    category="ml-exact",
    oracle=_successive_halving_oracle(),
)
def ext_successive_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUCCESSIVE HALVING (Karnin et al. 2013 / Jamieson-Talwalkar —
    the best-arm identification loop inside Hyperband and every
    eval-budget-constrained A/B screen): 20 arms (event_type x user
    segment) are scored on geometrically growing sample budgets —
    round r evaluates each surviving arm on its FIRST n_r logged
    samples (64/128/256/512, a deterministic (ts, event_id) prefix,
    capped by what the arm has) — and the bottom half is eliminated
    each round, spending the eval budget where it discriminates.

    Exactness: rewards are floored cents; means are compared as
    nano-floored exact integers (sum_cents * 1e9 DIV n — never an
    IEEE division) with an arm-name tie-break, so every survivor set
    and the full trajectory are engine-exact. The keep rule
    2*rank <= k+1 is ceil(k/2) for any arm count, so the query stays
    total on fixtures missing arms.

    Scale shape: one per-arm window rank over the events stream
    (fixed arm count; the partition sort spills, never collects),
    then four rounds of bounded aggregates over prefix-filtered rows;
    every round's arm table is O(arms) rows."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.col("user_id") % 4).orderBy(
        "ts", "event_id"
    )
    ranked = pin(e.select(
        F.concat_ws(
            ":", "event_type", (F.col("user_id") % 4).cast("string")
        ).alias("arm"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("rk"),
    ))
    survivors = ranked.select("arm").distinct()
    out = None
    for i, n in enumerate(_SH_BUDGETS, start=1):
        a = (
            ranked.where(F.col("rk") <= n)
            .join(F.broadcast(survivors), "arm", "left_semi")
            .groupBy("arm")
            .agg(
                F.count("*").cast("bigint").alias("n_used"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        r = pin(a.select(
            "arm",
            "n_used",
            "sum_cents",
            F.expr("CAST(sum_cents * 1000000000 DIV n_used AS BIGINT)")
            .alias("mean_nano"),
        ).withColumn(
            "arank",
            F.row_number().over(
                Window.orderBy(F.col("mean_nano").desc(), "arm")
            ),
        ).withColumn("k", F.count("*").over(Window.partitionBy())))
        row = r.select(
            F.lit(i).cast("bigint").alias("round"),
            "arm",
            "n_used",
            "sum_cents",
            "mean_nano",
            (F.col("arank") * 2 <= F.col("k") + 1).alias("survived"),
        )
        out = row if out is None else out.unionByName(row)
        survivors = pin(
            r.where(F.col("arank") * 2 <= F.col("k") + 1)
            .select("arm")
        )
    return out.orderBy("round", "arm")

@register(
    "ext_pass_at_k",
    survey_id="EXT-PASS-AT-K",
    category="ml-exact",
    oracle="""
WITH scored AS MATERIALIZED (
  SELECT lang, source,
         CASE WHEN 1000000 * len(list_distinct(string_split(text, ' ')))
                   // len(string_split(text, ' '))
                   + len(string_split(text, ' ')) >= 700000
              THEN 1 ELSE 0 END AS pass
  FROM documents
),
grp AS MATERIALIZED (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pass) AS BIGINT) AS c
  FROM scored GROUP BY lang, source
),
ks AS (SELECT UNNEST([1, 5, 10]) AS k)
SELECT g.lang, g.source, CAST(ks.k AS BIGINT) AS k, g.n, g.c,
       CAST(FLOOR((1e0 - list_reduce(
              list_prepend(1e0,
                list_transform(generate_series(1, CAST(ks.k AS INT)),
                  i -> CASE WHEN g.n - g.c - (i - 1) < 0 THEN 0e0
                       ELSE CAST(g.n - g.c - (i - 1) AS DOUBLE)
                            / CAST(g.n - (i - 1) AS DOUBLE) END)),
              (a, x) -> a * x)) * 1e6) AS BIGINT) AS pass_at_k_micro
FROM grp g CROSS JOIN ks
WHERE g.n >= ks.k
ORDER BY g.lang, g.source, k
""",
)
def ext_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASS@K, the unbiased Codex estimator (Chen et al. 2021):
    pass@k = 1 - C(n-c, k)/C(n, k) per task group, evaluated here with
    documents as samples grouped by (lang, source) and a deterministic
    integer quality score as the pass predicate — the eval-harness
    aggregation every code/agent benchmark reports.  The binomial
    RATIO is computed as the ordered product of k factors
    (n-c-i)/(n-i), i = 0..k-1 — never the two overflowing factorials —
    as a deterministic double fold (identical multiply order both
    engines), floored to micro.  k in {1, 5, 10}; groups smaller than
    k are excluded (the estimator is undefined there).

    Scale shape: one combinable (lang, source) aggregate; the k-fan-out
    is a 3-row broadcast; the product fold is row-local over at most
    10 factors."""
    d = load_table(spark, sf_dir, "documents")
    q = F.expr(
        "1000000 * size(array_distinct(split(text, ' ')))"
        " DIV size(split(text, ' ')) + size(split(text, ' '))"
    )
    grp = (
        d.select(
            "lang",
            "source",
            F.when(q >= 700000, 1).otherwise(0).alias("pass"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("pass").cast("bigint").alias("c"),
        )
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k")
    )
    prod = F.aggregate(
        F.sequence(F.lit(1), F.col("k").cast("int")),
        F.lit(1.0),
        lambda a, i: a
        * F.when(F.col("n") - F.col("c") - (i - 1) < 0, F.lit(0.0)).otherwise(
            (F.col("n") - F.col("c") - (i - 1)).cast("double")
            / (F.col("n") - (i - 1)).cast("double")
        ),
    )
    return (
        grp.crossJoin(F.broadcast(ks))
        .where(F.col("n") >= F.col("k"))
        .select(
            "lang",
            "source",
            F.col("k").cast("bigint").alias("k"),
            "n",
            "c",
            F.floor((F.lit(1.0) - prod) * F.lit(1e6))
            .cast("bigint")
            .alias("pass_at_k_micro"),
        )
        .orderBy("lang", "source", "k")
    )

def _bon_pows_sql(p: str, n: int) -> str:
    """p^n as an explicit multiply chain (n in {1,2,4,8}) — identical
    double rounding in both engines, no pow()."""
    if n == 1:
        return p
    if n == 2:
        return f"({p} * {p})"
    if n == 4:
        return f"(({p} * {p}) * ({p} * {p}))"
    return (
        f"((({p} * {p}) * ({p} * {p})) * (({p} * {p}) * ({p} * {p})))"
    )


def _bon_oracle() -> str:
    rows = []
    for n in (1, 2, 4, 8):
        pn = _bon_pows_sql("(CAST(cf AS DOUBLE) / nd)", n)
        ppn = _bon_pows_sql("(CAST(cf - cnt AS DOUBLE) / nd)", n)
        rows.append(
            f"""SELECT lang, CAST({n} AS BIGINT) AS n, nd AS n_docs,
       CAST(SUM(CAST(FLOOR(q * ({pn} - {ppn}) * 1e6) AS BIGINT))
            AS BIGINT) AS e_max_micro
FROM dist GROUP BY lang, nd"""
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH scored AS MATERIALIZED (
  SELECT lang,
         CAST(1000000 * len(list_distinct(string_split(text, ' ')))
              // len(string_split(text, ' '))
              + len(string_split(text, ' ')) AS BIGINT) AS q
  FROM documents
),
dist AS MATERIALIZED (
  SELECT lang, q, cnt,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY q) AS cf,
         SUM(cnt) OVER (PARTITION BY lang) AS nd
  FROM (SELECT lang, q, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM scored GROUP BY lang, q)
)
SELECT * FROM ({union}) ORDER BY lang, n"""


@register(
    "ext_best_of_n_gain",
    survey_id="EXT-BEST-OF-N",
    category="ml-exact",
    oracle=_bon_oracle(),
)
def ext_best_of_n_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEST-OF-N SAMPLING GAIN — what rejection sampling buys: the
    exact expected MAXIMUM quality of n iid draws from each language's
    EMPIRICAL score distribution, E[max_n] = sum over distinct scores
    q of q * (F(q)^n - F(q-)^n), for n in {1, 2, 4, 8} (n=1 is the
    mean — the baseline the gain is read against).  This is the
    curve an RLHF/reranking deployment consults before paying n
    inference calls per prompt.

    Exactness: F is an exact cumulative count ratio; powers are
    explicit multiply chains (no pow()); each term floors to micro and
    the SUM is exact int64 — order-independent, so any partitioning
    hash-matches.

    Scale shape: one (lang, score) count shuffle (score-distribution-
    scale, not corpus-scale), cumulative windows PARTITIONED by lang,
    and a 4-way row-local power fan-out."""
    d = load_table(spark, sf_dir, "documents")
    q = F.expr(
        "CAST(1000000 * size(array_distinct(split(text, ' ')))"
        " DIV size(split(text, ' '))"
        " + size(split(text, ' ')) AS BIGINT)"
    )
    dist0 = (
        d.select("lang", q.alias("q"))
        .groupBy("lang", "q")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("lang")
    dist = pin(dist0.select(
        "lang",
        "q",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cf"),
        F.sum("cnt").over(w_all).alias("nd"),
    ))

    def pn(col, n):
        p = col
        if n == 1:
            return p
        p2 = p * p
        if n == 2:
            return p2
        p4 = p2 * p2
        if n == 4:
            return p4
        return p4 * p4

    out = None
    for n in (1, 2, 4, 8):
        hi = pn(F.col("cf").cast("double") / F.col("nd"), n)
        lo = pn((F.col("cf") - F.col("cnt")).cast("double") / F.col("nd"), n)
        row = (
            dist.select(
                "lang",
                "nd",
                F.floor(F.col("q") * (hi - lo) * F.lit(1e6))
                .cast("bigint")
                .alias("term"),
            )
            .groupBy("lang", "nd")
            .agg(F.sum("term").cast("bigint").alias("e_max_micro"))
            .select(
                "lang",
                F.lit(n).cast("bigint").alias("n"),
                F.col("nd").alias("n_docs"),
                "e_max_micro",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lang", "n")

_ELO_LN10 = "2.302585092994046"
_ELO_EPOCHS = 4
_ELO_K = 32


def _elo_oracle() -> str:
    """Unrolled 4-epoch batched-Elo replay: each stage joins the
    epoch's matches against the previous ratings (both roles), sums
    exact micro score/expectation deltas per player, and adds them."""
    q = (
        "CAST(1000000 * len(list_distinct(string_split(text, ' ')))"
        " // len(string_split(text, ' '))"
        " + len(string_split(text, ' ')) AS BIGINT)"
    )
    parts = [
        f"""docs AS MATERIALIZED (
  SELECT doc_id, lang, source, {q} AS q FROM documents
),
matches AS MATERIALIZED (
  SELECT doc_id % {_ELO_EPOCHS} AS ep, source AS pa, ob AS pb,
         CASE WHEN q > qb THEN 1000000
              WHEN q < qb THEN 0 ELSE 500000 END AS sa
  FROM (
    SELECT doc_id, source, q,
           LEAD(source) OVER (PARTITION BY lang ORDER BY doc_id) AS ob,
           LEAD(q) OVER (PARTITION BY lang ORDER BY doc_id) AS qb
    FROM docs
  ) WHERE ob IS NOT NULL AND ob <> source
),
sides AS MATERIALIZED (
  SELECT ep, pa AS p, pb AS o, sa AS s FROM matches
  UNION ALL
  SELECT ep, pb AS p, pa AS o, 1000000 - sa AS s FROM matches
),
r0 AS MATERIALIZED (
  SELECT DISTINCT source AS p, CAST(1500000000 AS BIGINT) AS r
  FROM documents
)"""
    ]
    for e in range(_ELO_EPOCHS):
        exp_e = (
            f"CAST(FLOOR(1e6 / (1e0 + exp((CAST(ro.r - rp.r AS DOUBLE)"
            f" / 1e6 / 400e0) * {_ELO_LN10}e0))) AS BIGINT)"
        )
        parts.append(
            f"""d{e} AS MATERIALIZED (
  SELECT s.p,
         CAST({_ELO_K} * (SUM(s.s) - SUM({exp_e})) AS BIGINT) AS delta
  FROM sides s
  JOIN r{e} rp ON rp.p = s.p
  JOIN r{e} ro ON ro.p = s.o
  WHERE s.ep = {e}
  GROUP BY s.p
),
r{e + 1} AS MATERIALIZED (
  SELECT r.p, r.r + COALESCE(d.delta, 0) AS r
  FROM r{e} r LEFT JOIN d{e} d ON d.p = r.p
)"""
        )
    traj = "\nUNION ALL\n".join(
        f"SELECT CAST({e + 1} AS BIGINT) AS epoch, p AS source, r AS"
        f" rating_micro FROM r{e + 1}"
        for e in range(_ELO_EPOCHS)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT t.epoch, t.source, t.rating_micro, nm.n_matches
FROM ({traj}) t
JOIN (
  SELECT p AS source, CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM sides GROUP BY p
) nm ON nm.source = t.source
ORDER BY t.epoch, t.source"""
    )


@register(
    "ext_elo_arena_ratings",
    survey_id="EXT-ELO-ARENA",
    category="ml-exact",
    oracle=_elo_oracle(),
)
def ext_elo_arena_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED ELO RATINGS — the Chatbot-Arena-style eval aggregation:
    sources play pairwise "matches" (adjacent documents per language,
    winner = higher deterministic quality score, draws split), and
    ratings update in 4 EPOCH BATCHES — within an epoch every match's
    expected score E = 1/(1 + 10^((Ro-Rp)/400)) is computed against
    the epoch-START ratings (row-local vs a broadcast rating table),
    deltas sum per player, and one K=32 update applies per epoch.
    Batched (mini-batch) Elo is the standard distributed form: the
    sequential chain is per-EPOCH, not per-match, so the update is an
    aggregate any partitioning computes identically.  Output: the
    4-epoch rating trajectory per source plus match counts.

    Exactness: quality scores, match outcomes, and score sums are
    exact integers; E floors to micro per match (10^x as
    exp(x * ln10-literal) — no pow()); deltas are exact integer sums,
    so the trajectory is bit-stable and the oracle unrolls it
    epoch-for-epoch.

    Scale shape: the match stream is one LEAD window PARTITIONED by
    lang; each epoch is one broadcast join (ratings = one row per
    SOURCE — bounded) + a combinable per-player aggregate; 4 epochs of
    bounded driver collects (the rating table itself)."""
    d = load_table(spark, sf_dir, "documents")
    q = F.expr(
        "CAST(1000000 * size(array_distinct(split(text, ' ')))"
        " DIV size(split(text, ' '))"
        " + size(split(text, ' ')) AS BIGINT)"
    )
    docs = d.select("doc_id", "lang", "source", q.alias("q"))
    w = Window.partitionBy("lang").orderBy("doc_id")
    m = (
        docs.select(
            "doc_id",
            "source",
            "q",
            F.lead("source").over(w).alias("ob"),
            F.lead("q").over(w).alias("qb"),
        )
        .where(F.col("ob").isNotNull() & (F.col("ob") != F.col("source")))
        .select(
            (F.col("doc_id") % _ELO_EPOCHS).alias("ep"),
            F.col("source").alias("pa"),
            F.col("ob").alias("pb"),
            F.when(F.col("q") > F.col("qb"), F.lit(1000000))
            .when(F.col("q") < F.col("qb"), F.lit(0))
            .otherwise(F.lit(500000))
            .cast("bigint")
            .alias("sa"),
        )
    )
    sides = pin(
        m.select("ep", F.col("pa").alias("p"), F.col("pb").alias("o"), F.col("sa").alias("s"))
        .unionByName(
            m.select(
                "ep",
                F.col("pb").alias("p"),
                F.col("pa").alias("o"),
                (F.lit(1000000) - F.col("sa")).cast("bigint").alias("s"),
            )
        )
    )
    ratings = {
        r["source"]: 1_500_000_000
        for r in docs.select("source").distinct().collect()
    }
    traj = []
    for e in range(_ELO_EPOCHS):
        rmap = F.map_from_arrays(
            F.array(*[F.lit(s) for s in sorted(ratings)]),
            F.array(
                *[F.lit(ratings[s]).cast("bigint") for s in sorted(ratings)]
            ),
        )
        rp = F.element_at(rmap, F.col("p"))
        ro = F.element_at(rmap, F.col("o"))
        exp_micro = F.floor(
            F.lit(1e6)
            / (
                F.lit(1.0)
                + F.exp(
                    ((ro - rp).cast("double") / F.lit(1e6) / F.lit(400.0))
                    * F.lit(float(_ELO_LN10))
                )
            )
        ).cast("bigint")
        deltas = (
            sides.where(F.col("ep") == e)
            .select("p", "s", exp_micro.alias("em"))
            .groupBy("p")
            .agg(
                (F.lit(_ELO_K) * (F.sum("s") - F.sum("em")))
                .cast("bigint")
                .alias("delta_micro")
            )
            .collect()
        )
        dmap = {r["p"]: r["delta_micro"] for r in deltas}
        for s in ratings:
            ratings[s] += dmap.get(s, 0)
        for s in ratings:
            traj.append((e + 1, s, ratings[s]))
    nm = sides.groupBy("p").agg(
        F.count("*").cast("bigint").alias("n_matches")
    )
    tdf = spark.createDataFrame(
        traj, "epoch long, source string, rating_micro long"
    )
    return (
        tdf.join(nm, tdf["source"] == nm["p"])
        .select("epoch", "source", "rating_micro", "n_matches")
        .orderBy("epoch", "source")
    )

@register(
    "ext_spearman_rho",
    survey_id="EXT-SPEARMAN",
    category="ml-exact",
    oracle="""
WITH scored AS MATERIALIZED (
  SELECT lang, len(text) AS x,
         CAST(1000000 * len(list_distinct(string_split(text, ' ')))
              // len(string_split(text, ' '))
              + len(string_split(text, ' ')) AS BIGINT) AS y
  FROM documents
),
ranked AS MATERIALIZED (
  SELECT lang,
         CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY x)
              + COUNT(*) OVER (PARTITION BY lang, x) - 1
              AS BIGINT) AS dx,
         CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY y)
              + COUNT(*) OVER (PARTITION BY lang, y) - 1
              AS BIGINT) AS dy
  FROM scored
),
agg AS MATERIALIZED (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(dx AS DECIMAL(38,0)) * dx) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(CAST(dx AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS sxy
  FROM ranked GROUP BY lang
)
SELECT lang, n,
       CAST(FLOOR(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         * 1e6) AS BIGINT) AS rho_micro
FROM agg ORDER BY lang
""",
)
def ext_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION with tie-corrected average ranks —
    the rank-correlation rung beside ext_kendall_tau (Spearman is the
    one most eval dashboards report; with heavy ties the naive
    1 - 6*sum(d^2)/... formula is WRONG, so this computes Pearson on
    AVERAGE ranks): per language, document LENGTH is correlated with
    the deterministic QUALITY score — the 'does my quality score just
    measure length?' sanity check every data-curation pipeline should
    run on its scorer.

    Exactness: average ranks carried DOUBLED (2*rank + ties - 1 — the
    half-integers become exact integers), moment sums are exact
    DECIMAL(38,0) (order-independent at any partitioning; dx^2 sums
    overflow int64 past ~40M rows per language), and rho derives from
    the identical exact aggregates in double, floored to micro.

    Scale shape: two rank windows PARTITIONED by lang (plus the tie
    count over (lang, value)) and one combinable moment aggregate —
    the standard distributed rank-statistics shape."""
    d = load_table(spark, sf_dir, "documents")
    y = F.expr(
        "CAST(1000000 * size(array_distinct(split(text, ' ')))"
        " DIV size(split(text, ' '))"
        " + size(split(text, ' ')) AS BIGINT)"
    )
    scored = d.select(
        "lang", F.length("text").cast("bigint").alias("x"), y.alias("y")
    )
    w_x = Window.partitionBy("lang").orderBy("x")
    w_y = Window.partitionBy("lang").orderBy("y")
    w_tx = Window.partitionBy("lang", "x")
    w_ty = Window.partitionBy("lang", "y")
    ranked = scored.select(
        "lang",
        (
            2 * F.rank().over(w_x) + F.count("*").over(w_tx) - 1
        ).cast("bigint").alias("dx"),
        (
            2 * F.rank().over(w_y) + F.count("*").over(w_ty) - 1
        ).cast("bigint").alias("dy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = ranked.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dec("dx")).alias("sx"),
        F.sum(dec("dy")).alias("sy"),
        F.sum(dec("dx") * F.col("dx")).alias("sxx"),
        F.sum(dec("dy") * F.col("dy")).alias("syy"),
        F.sum(dec("dx") * F.col("dy")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    denx = F.sqrt(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    deny = F.sqrt(
        nd * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return agg.select(
        "lang",
        "n",
        F.floor(num / denx / deny * F.lit(1e6))
        .cast("bigint")
        .alias("rho_micro"),
    ).orderBy("lang")


# --- r10: self-consistency majority vote ------------------------------


@register(
    "ext_self_consistency_vote",
    survey_id="EXT-SELF-CONSISTENCY",
    category="ml-exact",
    oracle="""
WITH samples AS MATERIALIZED (
  SELECT d.doc_id, d.lang, d.doc_id % 5 AS truth, s.s,
         CAST(('0x' || substr(md5(d.doc_id || ':' || s.s), 1, 12))
              AS BIGINT) AS hs
  FROM documents d, (SELECT UNNEST(generate_series(0, 8)) AS s) s
),
answered AS MATERIALIZED (
  SELECT doc_id, lang, truth, s,
         CASE WHEN hs % 10 < 6 THEN truth ELSE 5 + hs % 4 END AS ans
  FROM samples
),
votes AS MATERIALIZED (
  SELECT doc_id, lang, truth, ans, CAST(COUNT(*) AS BIGINT) AS c
  FROM answered GROUP BY doc_id, lang, truth, ans
),
winner AS MATERIALIZED (
  SELECT doc_id, lang, truth, ans AS vote FROM (
    SELECT doc_id, lang, truth, ans,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, ans) AS rk
    FROM votes
  ) WHERE rk = 1
),
greedy AS MATERIALIZED (
  SELECT doc_id, ans AS g FROM answered WHERE s = 0
),
per AS MATERIALIZED (
  SELECT w.lang,
         CASE WHEN w.vote = w.truth THEN 1 ELSE 0 END AS vc,
         CASE WHEN g.g = w.truth THEN 1 ELSE 0 END AS gc
  FROM winner w JOIN greedy g ON g.doc_id = w.doc_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_tasks,
       CAST(1000000 * SUM(gc) // COUNT(*) AS BIGINT) AS greedy_acc_micro,
       CAST(1000000 * SUM(vc) // COUNT(*) AS BIGINT) AS vote_acc_micro,
       CAST(SUM(CASE WHEN vc = 1 AND gc = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rescued,
       CAST(SUM(CASE WHEN vc = 0 AND gc = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_degraded,
       SUM(vc) >= SUM(gc) AS vote_not_worse
FROM per GROUP BY lang ORDER BY lang
""",
)
def ext_self_consistency_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-CONSISTENCY decoding evaluation (Wang et al. 2022,
    arXiv:2203.11171): per task, k=9 sampled answers; the final answer
    is the PLURALITY vote (ties broken toward the smaller answer id),
    compared against greedy = the first sample — the aggregation every
    reasoning benchmark harness reports alongside pass@k.  The fixture
    is deterministic: truth = doc_id % 5; sample s answers correctly
    when md5(doc_id:s) % 10 < 6 (a 60%-accurate sampler) and otherwise
    emits one of 4 distractors, so the vote concentrates 60% mass on
    the truth against ~13.5% per distractor and the per-lang output
    pins vote_not_worse — the self-consistency claim itself — as a
    column.

    Scale shape: the 9x sample fan-out is a row-local sequence
    explode; the vote is one (doc, answer) count + a per-doc top-1
    window; accuracy is one combinable per-lang aggregate."""
    d = load_table(spark, sf_dir, "documents")
    s = F.explode(F.sequence(F.lit(0), F.lit(8))).alias("s")
    hs = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("s").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    answered = (
        d.select(
            "doc_id", "lang", (F.col("doc_id") % 5).alias("truth"), s
        )
        .withColumn("hs", hs)
        .select(
            "doc_id",
            "lang",
            "truth",
            "s",
            F.when(F.col("hs") % 10 < 6, F.col("truth"))
            .otherwise(F.lit(5) + F.col("hs") % 4)
            .alias("ans"),
        )
    )
    votes = answered.groupBy("doc_id", "lang", "truth", "ans").agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "ans")
    winner = (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "lang", "truth", F.col("ans").alias("vote"))
    )
    greedy = answered.where(F.col("s") == 0).select(
        F.col("doc_id").alias("gdoc"), F.col("ans").alias("g")
    )
    per = winner.join(greedy, F.col("gdoc") == F.col("doc_id")).select(
        "lang",
        F.when(F.col("vote") == F.col("truth"), 1).otherwise(0).alias("vc"),
        F.when(F.col("g") == F.col("truth"), 1).otherwise(0).alias("gc"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tasks"),
            F.expr("CAST(1000000 * sum(gc) DIV count(*) AS BIGINT)").alias(
                "greedy_acc_micro"
            ),
            F.expr("CAST(1000000 * sum(vc) DIV count(*) AS BIGINT)").alias(
                "vote_acc_micro"
            ),
            F.sum(F.when((F.col("vc") == 1) & (F.col("gc") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("n_rescued"),
            F.sum(F.when((F.col("vc") == 0) & (F.col("gc") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("n_degraded"),
            (F.sum("vc") >= F.sum("gc")).alias("vote_not_worse"),
        )
        .orderBy("lang")
    )


# --- r10: power-law scaling-law fit -----------------------------------


@register(
    "ext_scaling_law_fit",
    survey_id="EXT-SCALING-LAW",
    category="ml-exact",
    oracle="""
WITH langs AS MATERIALIZED (
  SELECT DISTINCT lang,
         CAST(('0x' || substr(md5('b:' || lang), 1, 12)) AS BIGINT) AS lh
  FROM documents
),
pts AS MATERIALIZED (
  SELECT l.lang,
         300 + (l.lh % 5) * 100 AS b_milli,
         i.i,
         CAST(FLOOR(ln(1000000 * (1 << i.i)) * 1e9) AS BIGINT) AS xg
  FROM langs l, (SELECT UNNEST(generate_series(0, 9)) AS i) i
),
obs AS MATERIALIZED (
  SELECT lang, b_milli, i, xg,
         20000000000 - b_milli * xg // 1000
           + CAST(('0x' || substr(md5(lang || ':' || i), 1, 12)) AS BIGINT)
             % 2001 - 1000 AS yg
  FROM pts
),
fit AS MATERIALIZED (
  SELECT lang, b_milli,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(xg) AS HUGEINT) AS sx,
         CAST(SUM(yg) AS HUGEINT) AS sy,
         CAST(SUM(CAST(xg AS HUGEINT) * yg) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(xg AS HUGEINT) * xg) AS HUGEINT) AS sxx
  FROM obs GROUP BY lang, b_milli
)
SELECT lang,
       CAST(b_milli AS BIGINT) AS planted_b_milli,
       CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
            AS BIGINT) AS slope_micro,
       CAST((sy - ((1000000 * (n * sxy - sx * sy))
                   // (n * sxx - sx * sx)) * sx // 1000000) // n
            AS BIGINT) AS intercept_g,
       ABS(CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
                AS BIGINT) + b_milli * 1000) <= 2 AS recovered_ok
FROM fit ORDER BY lang
""",
)
def ext_scaling_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER-LAW SCALING-LAW FIT (Kaplan et al. 2020 / Chinchilla,
    arXiv:2001.08361): loss ~ A * N^-b is linear in log-log space, so
    the eval-harness fit is OLS over (ln N, ln L).  Everything here
    lives ON the 1e-9 ln grid as integers: x = gridln(N_i) for the
    10-point size ladder N_i = 1e6 * 2^i, and the observed y is
    PLANTED directly in grid space (y = a_g - b*x + md5 jitter of
    +/-1000 grid units = +/-1e-6 nats) per lang with b in {0.300 ..
    0.700}.  The OLS slope/intercept are closed-form integer
    arithmetic over DECIMAL(38) sums — n*Sxy - Sx*Sy over n*Sxx -
    Sx^2, floored to micro — and the output pins |slope + b| <= 2
    micro (the planted-recovery claim; jitter bounds the estimator
    error well under 1 micro here).

    Scale shape: the fact-side work is one DISTINCT lang scan; the
    ladder fan-out and the fit run on a 10-rows-per-lang frame.  At
    100 TB the same fold fits per-domain scaling curves off one
    combinable aggregate."""
    d = load_table(spark, sf_dir, "documents")
    langs = d.select("lang").distinct().select(
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("b:"), F.col("lang"))), 1, 12),
                16,
                10,
            ).cast("bigint")
            % 5
            * 100
            + 300
        ).alias("b_milli"),
    )
    pts = langs.select(
        "lang",
        "b_milli",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i"),
    ).select(
        "lang",
        "b_milli",
        "i",
        _gridln(
            F.expr("1000000 * CAST(shiftleft(1, i) AS BIGINT)")
        ).alias("xg"),
    )
    jit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("lang"), F.lit(":"), F.col("i").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 2001
        - 1000
    )
    obs = pts.select(
        "lang",
        "b_milli",
        "xg",
        (
            F.lit(20_000_000_000)
            - F.expr("b_milli * xg DIV 1000")
            + jit
        ).alias("yg"),
    )
    D = "decimal(38,0)"
    fit = obs.groupBy("lang", "b_milli").agg(
        F.count("*").cast(D).alias("n"),
        F.sum(F.col("xg").cast(D)).alias("sx"),
        F.sum(F.col("yg").cast(D)).alias("sy"),
        F.sum((F.col("xg").cast(D) * F.col("yg").cast(D))).alias("sxy"),
        F.sum((F.col("xg").cast(D) * F.col("xg").cast(D))).alias("sxx"),
    )
    slope = F.expr(
        "CAST((1000000 * (n * sxy - sx * sy)) DIV (n * sxx - sx * sx)"
        " AS BIGINT)"
    )
    return fit.select(
        "lang",
        F.col("b_milli").cast("bigint").alias("planted_b_milli"),
        slope.alias("slope_micro"),
        F.expr(
            "CAST((sy - ((1000000 * (n * sxy - sx * sy))"
            " DIV (n * sxx - sx * sx)) * sx DIV 1000000) DIV n AS BIGINT)"
        ).alias("intercept_g"),
        (F.abs(slope + F.col("b_milli") * 1000) <= 2).alias("recovered_ok"),
    ).orderBy("lang")


# --- r10: bootstrap confidence interval ------------------------------


@register(
    "ext_bootstrap_ci",
    survey_id="EXT-BOOTSTRAP-CI",
    category="ml-exact",
    oracle="""
WITH items AS MATERIALIZED (
  SELECT lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) - 1
           AS pos,
         doc_id,
         CASE WHEN 1000000 * len(list_distinct(string_split(text, ' ')))
                   // len(string_split(text, ' '))
                   + len(string_split(text, ' ')) >= 700000
              THEN 1 ELSE 0 END AS hit
  FROM documents
),
sizes AS MATERIALIZED (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY lang
),
draws AS MATERIALIZED (
  SELECT s.lang, b.b, d.d,
         CAST(('0x' || substr(md5(s.lang || ':' || b.b || ':' || d.d),
                              1, 12)) AS BIGINT) % s.n AS pos
  FROM sizes s,
       (SELECT UNNEST(generate_series(0, 199)) AS b) b,
       (SELECT UNNEST(generate_series(0, 99)) AS d) d
),
reps AS MATERIALIZED (
  SELECT dr.lang, dr.b,
         CAST(10000 * SUM(i.hit) // COUNT(*) AS BIGINT) AS acc_bp
  FROM draws dr JOIN items i ON i.lang = dr.lang AND i.pos = dr.pos
  GROUP BY dr.lang, dr.b
),
ranked AS MATERIALIZED (
  SELECT lang, acc_bp,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY acc_bp, b) AS rk
  FROM reps
),
point AS MATERIALIZED (
  SELECT lang, CAST(10000 * SUM(hit) // COUNT(*) AS BIGINT) AS acc_bp
  FROM items GROUP BY lang
)
SELECT p.lang, p.acc_bp AS point_bp,
       MAX(CASE WHEN r.rk = 5 THEN r.acc_bp END) AS lo_bp,
       MAX(CASE WHEN r.rk = 195 THEN r.acc_bp END) AS hi_bp,
       MAX(CASE WHEN r.rk = 5 THEN r.acc_bp END) <= p.acc_bp
         AND p.acc_bp <= MAX(CASE WHEN r.rk = 195 THEN r.acc_bp END)
         AS point_in_ci
FROM point p JOIN ranked r ON r.lang = p.lang
GROUP BY p.lang, p.acc_bp
ORDER BY p.lang
""",
)
def ext_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOTSTRAP CONFIDENCE INTERVAL for an eval metric (Efron's
    percentile bootstrap — the error bars every eval harness prints):
    per lang, B=200 bootstrap replicates each resample m=100 items
    with replacement via md5-derived draws (deterministic, so both
    engines replay identical resamples), each replicate's accuracy is
    an integer basis-point value, and the 95% CI is the [rank 5,
    rank 195] pair of the sorted replicate accuracies (replicate-id
    tie-break). The fixture metric is the pass@1 predicate on the
    deterministic quality score. Output pins point_in_ci per lang.

    Scale shape: the fact side reduces to one (lang, pos)->hit table;
    the B x m draw fan-out is a broadcast-size literal grid joined
    back by (lang, pos) — a bounded 20k-row-per-lang join against an
    indexed corpus, never a corpus x B blow-up; ranking happens on
    B rows per lang."""
    d = load_table(spark, sf_dir, "documents")
    q = F.expr(
        "1000000 * size(array_distinct(split(text, ' ')))"
        " DIV size(split(text, ' ')) + size(split(text, ' '))"
    )
    w_pos = Window.partitionBy("lang").orderBy("doc_id")
    items = d.select(
        "lang",
        "doc_id",
        F.when(q >= 700_000, 1).otherwise(0).alias("hit"),
    ).withColumn("pos", F.row_number().over(w_pos) - 1)
    sizes = items.groupBy("lang").agg(F.count("*").alias("n"))
    bs = spark.range(200).select(F.col("id").alias("b"))
    ds = spark.range(100).select(F.col("id").alias("d"))
    draws = (
        sizes.crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(ds))
        .select(
            "lang",
            "b",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("lang"),
                                F.col("b").cast("string"),
                                F.col("d").cast("string"),
                            )
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n")
            ).alias("pos"),
        )
    )
    reps = (
        draws.join(items.select("lang", "pos", "hit"), ["lang", "pos"])
        .groupBy("lang", "b")
        .agg(
            F.expr("CAST(10000 * sum(hit) DIV count(*) AS BIGINT)").alias(
                "acc_bp"
            )
        )
    )
    w_rk = Window.partitionBy("lang").orderBy("acc_bp", "b")
    ranked = reps.withColumn("rk", F.row_number().over(w_rk))
    point = items.groupBy("lang").agg(
        F.expr("CAST(10000 * sum(hit) DIV count(*) AS BIGINT)").alias(
            "point_bp"
        )
    )
    lo = F.max(F.when(F.col("rk") == 5, F.col("acc_bp")))
    hi = F.max(F.when(F.col("rk") == 195, F.col("acc_bp")))
    return (
        ranked.join(point, "lang")
        .groupBy("lang", "point_bp")
        .agg(
            lo.alias("lo_bp"),
            hi.alias("hi_bp"),
            (
                (lo <= F.col("point_bp")) & (F.col("point_bp") <= hi)
            ).alias("point_in_ci"),
        )
        .orderBy("lang")
    )


_QD_TEACHER_SQL = """
  CASE WHEN len(toks) BETWEEN 30 AND 90
        AND 15 * len(list_filter(toks,
              w -> w IN ('the', 'a', 'of', 'and', 'to'))) >= len(toks)
  THEN 1 ELSE 0 END
"""

_QD_ORACLE = f"""
WITH lab AS MATERIALIZED (
  SELECT doc_id, toks, {_QD_TEACHER_SQL} AS y
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
tk AS (SELECT doc_id, y, UNNEST(toks) AS w FROM lab),
wc AS MATERIALIZED (
  SELECT w,
         CAST(SUM(y) AS BIGINT) AS pc,
         CAST(SUM(1 - y) AS BIGINT) AS nc,
         {_SQL_GRIDLN.format(x='SUM(y) + 1')}
           - {_SQL_GRIDLN.format(x='SUM(1 - y) + 1')} AS weight_g
  FROM tk GROUP BY w
),
tot AS (
  SELECT CAST(SUM(pc) AS BIGINT) AS p_tot,
         CAST(SUM(nc) AS BIGINT) AS n_tot,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM wc
),
docs AS (
  SELECT d.doc_id, d.y,
         CAST(SUM(m.mw * wc.weight_g) AS BIGINT) AS term_sum,
         CAST(SUM(m.mw) AS BIGINT) AS t_doc
  FROM (SELECT doc_id, w, COUNT(*) AS mw FROM tk GROUP BY doc_id, w) m
  JOIN wc ON m.w = wc.w
  JOIN (SELECT DISTINCT doc_id, y FROM tk) d ON d.doc_id = m.doc_id
  GROUP BY d.doc_id, d.y
),
prior AS (
  SELECT {_SQL_GRIDLN.format(x='SUM(y) + 1')}
           - {_SQL_GRIDLN.format(x='SUM(1 - y) + 1')} AS bias_g
  FROM lab
),
pred AS (
  SELECT doc_id, y,
         CASE WHEN prior.bias_g + term_sum
                   + t_doc * ({_SQL_GRIDLN.format(x='tot.n_tot + tot.v')}
                              - {_SQL_GRIDLN.format(x='tot.p_tot + tot.v')})
                   > 0
              THEN 1 ELSE 0 END AS yhat
  FROM docs CROSS JOIN prior CROSS JOIN tot
),
conf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(y) AS BIGINT) AS n_pos_teacher,
         CAST(SUM(y * yhat) AS BIGINT) AS tp,
         CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp,
         CAST(SUM(y * (1 - yhat)) AS BIGINT) AS fn,
         CAST(SUM((1 - y) * (1 - yhat)) AS BIGINT) AS tn
  FROM pred
),
toppos AS (
  SELECT string_agg(w, ' ' ORDER BY weight_g DESC, w ASC) AS top_pos_tokens
  FROM (SELECT w, weight_g FROM wc ORDER BY weight_g DESC, w ASC LIMIT 5)
),
topneg AS (
  SELECT string_agg(w, ' ' ORDER BY weight_g ASC, w ASC) AS top_neg_tokens
  FROM (SELECT w, weight_g FROM wc ORDER BY weight_g ASC, w ASC LIMIT 5)
)
SELECT n_docs, n_pos_teacher, tp, fp, fn, tn,
       CAST((tp + tn) * 1000000 // n_docs AS BIGINT) AS agreement_micro,
       top_pos_tokens, top_neg_tokens
FROM conf CROSS JOIN toppos CROSS JOIN topneg
"""


@register(
    "ext_quality_distillation",
    survey_id="EXT-QUALITY-DISTILL",
    category="ml-exact",
    oracle=_QD_ORACLE,
)
def ext_quality_distillation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-CLASSIFIER DISTILLATION — the fastText-shaped step every
    large corpus pipeline runs (CCNet/LLaMA practice: distill an
    expensive quality judgment into a cheap linear token model, then
    filter 100 TB with the student): teacher = an exact integer rule
    (30 <= n_tokens <= 90 AND stopword share >= 1/15 over the
    {{'the','a','of','and','to'}} set); student = per-token Laplace
    log-odds weights trained in ONE distributed pass (the multinomial
    NB likelihood ratio: weight(w) = ln(pos_c+1) - ln(neg_c+1), class
    constants folded per doc), scored back over the corpus. Output:
    the teacher/student confusion matrix, micro agreement, and the 5
    most positive / most negative tokens — the interpretable model
    card a filtering decision needs.

    Determinism: the ext_naive_bayes discipline — every ln() argument
    is an integer, floored to the 1e-9 grid (bigint), so scores are
    exact BIGINT sums; prediction threshold is integer > 0; token
    lists tie-break (weight, token).

    Scale shape: one token explode feeding two map-side-combinable
    counts (per-(doc,w) and per-w with conditional sums); the scoring
    join shuffles on the token key only; priors/totals broadcast; the
    model itself is vocab-sized."""
    toks_arr = F.split("text", " ")
    stop = F.size(
        F.filter(
            toks_arr,
            lambda w: w.isin("the", "a", "of", "and", "to"),
        )
    )
    teacher = (
        (F.size(toks_arr) >= 30)
        & (F.size(toks_arr) <= 90)
        & (15 * stop >= F.size(toks_arr))
    ).cast("int")
    lab = pin(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks_arr.alias("toks"), teacher.alias("y"))
    )
    tk = lab.select("doc_id", "y", F.explode("toks").alias("w"))
    wc = pin(
        tk.groupBy("w")
        .agg(
            F.sum("y").cast("bigint").alias("pc"),
            F.sum(1 - F.col("y")).cast("bigint").alias("nc"),
        )
        .withColumn(
            "weight_g",
            _gridln(F.col("pc") + 1) - _gridln(F.col("nc") + 1),
        )
    )
    tot = F.broadcast(
        wc.agg(
            F.sum("pc").cast("bigint").alias("p_tot"),
            F.sum("nc").cast("bigint").alias("n_tot"),
            F.count("*").cast("bigint").alias("v"),
        )
    )
    m = tk.groupBy("doc_id", "y", "w").agg(F.count("*").alias("mw"))
    docs = (
        m.join(wc.select("w", "weight_g"), "w")
        .groupBy("doc_id", "y")
        .agg(
            F.sum(F.col("mw") * F.col("weight_g"))
            .cast("bigint")
            .alias("term_sum"),
            F.sum("mw").cast("bigint").alias("t_doc"),
        )
    )
    prior = F.broadcast(
        lab.agg(
            (
                _gridln(F.sum("y") + 1)
                - _gridln(F.sum(1 - F.col("y")) + 1)
            ).alias("bias_g")
        )
    )
    score = (
        F.col("bias_g")
        + F.col("term_sum")
        + F.col("t_doc")
        * (
            _gridln(F.col("n_tot") + F.col("v"))
            - _gridln(F.col("p_tot") + F.col("v"))
        )
    )
    pred = docs.crossJoin(prior).crossJoin(tot).select(
        "doc_id", "y", (score > 0).cast("int").alias("yhat")
    )
    conf = pred.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_pos_teacher"),
        F.sum(F.col("y") * F.col("yhat")).cast("bigint").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yhat"))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.col("y") * (1 - F.col("yhat")))
        .cast("bigint")
        .alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("yhat")))
        .cast("bigint")
        .alias("tn"),
    )
    # explicit array_sort after the top-k: collect_list order is not
    # contractual, even off a TakeOrdered child
    toppos = F.broadcast(
        wc.orderBy(F.col("weight_g").desc(), F.col("w").asc())
        .limit(5)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("weight_g")).alias("k"),
                                F.col("w").alias("w"),
                            )
                        )
                    ),
                    lambda st: st["w"],
                ),
                " ",
            ).alias("top_pos_tokens")
        )
    )
    topneg = F.broadcast(
        wc.orderBy(F.col("weight_g").asc(), F.col("w").asc())
        .limit(5)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("weight_g").alias("k"),
                                F.col("w").alias("w"),
                            )
                        )
                    ),
                    lambda st: st["w"],
                ),
                " ",
            ).alias("top_neg_tokens")
        )
    )
    return (
        conf.crossJoin(toppos)
        .crossJoin(topneg)
        .select(
            "n_docs",
            "n_pos_teacher",
            "tp",
            "fp",
            "fn",
            "tn",
            F.expr("CAST((tp + tn) * 1000000 DIV n_docs AS BIGINT)").alias(
                "agreement_micro"
            ),
            "top_pos_tokens",
            "top_neg_tokens",
        )
    )
