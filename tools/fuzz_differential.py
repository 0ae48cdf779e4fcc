"""Differential query fuzzer — SQLancer-style cross-engine testing.

Generates random-but-deterministic queries from a grammar restricted to
the engine-exact subset (integer-exact aggregates, closed predicates,
tie-broken ordering), runs the IDENTICAL SQL text on Spark and DuckDB
over the driver's tables, and compares full results through the same
canonicalizing comparator the driver contract uses. Every seed that
ever disagrees becomes a pinned regression.

The grammar deliberately spans the surfaces where engines diverge:
predicate pushdown + three-valued NULL logic, GROUP BY with mixed
aggregate shapes, HAVING, DISTINCT, integer division/modulo, CASE
expressions, IN lists, BETWEEN, string prefixes, ORDER BY/LIMIT,
correlated EXISTS/NOT EXISTS (decorrelation), GROUP BY ROLLUP
(grouping-set expansion), scalar string functions, ALL-variant set
ops, and aggregates over ordered-LIMIT derived tables (limit
pushdown vs ordering).

Usage:
    python tools/fuzz_differential.py [n_queries] [sf_dir]
"""

from __future__ import annotations

import os
import random
import sys

TABLES = {
    "orders": {
        "int_cols": ["o_orderkey", "o_custkey"],
        "num_cols": ["o_totalprice"],
        "str_cols": ["o_orderstatus", "o_orderpriority"],
        "group_cols": ["o_orderstatus", "o_orderpriority"],
    },
    "lineitem": {
        "int_cols": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "num_cols": ["l_extendedprice", "l_discount", "l_quantity"],
        "str_cols": ["l_returnflag", "l_linestatus"],
        "group_cols": ["l_returnflag", "l_linestatus"],
    },
    "customer": {
        "int_cols": ["c_custkey", "c_nationkey"],
        "num_cols": ["c_acctbal"],
        "str_cols": ["c_mktsegment"],
        "group_cols": ["c_mktsegment", "c_nationkey"],
    },
}
STR_LITS = {
    "o_orderstatus": ["'O'", "'F'", "'P'"],
    "o_orderpriority": ["'1-URGENT'", "'3-MEDIUM'", "'5-LOW'"],
    "l_returnflag": ["'A'", "'N'", "'R'"],
    "l_linestatus": ["'O'", "'F'"],
    "c_mktsegment": ["'BUILDING'", "'MACHINERY'", "'HOUSEHOLD'"],
}


def _pred(rng: random.Random, spec: dict) -> str:
    kind = rng.randrange(6)
    if kind == 0:
        c = rng.choice(spec["int_cols"])
        return f"{c} % {rng.randint(2, 13)} {rng.choice(['=', '<>', '<'])} {rng.randint(0, 5)}"
    if kind == 1:
        c = rng.choice(spec["num_cols"])
        return (
            f"CAST(FLOOR({c} * 100) AS BIGINT) "
            f"{rng.choice(['>', '<=', '>='])} {rng.randint(100, 900000)}"
        )
    if kind == 2:
        c = rng.choice(spec["str_cols"])
        lits = STR_LITS[c]
        chosen = rng.sample(lits, rng.randint(1, len(lits)))
        return f"{c} {rng.choice(['IN', 'NOT IN'])} ({', '.join(chosen)})"
    if kind == 3:
        c = rng.choice(spec["int_cols"])
        lo = rng.randint(0, 5000)
        return f"{c} BETWEEN {lo} AND {lo + rng.randint(1, 8000)}"
    if kind == 4:
        c = rng.choice(spec["str_cols"])
        return f"{c} {rng.choice(['=', '<>'])} {rng.choice(STR_LITS[c])}"
    c = rng.choice(spec["int_cols"])
    return f"NOT ({c} % {rng.randint(2, 7)} = 0)"


def _join_query(rng: random.Random) -> str:
    # orders ⋈ customer (FK join) with filters on both sides and a
    # grouped integer-exact aggregate — the shape optimizers reorder
    po = _pred(rng, TABLES["orders"])
    pc = _pred(rng, TABLES["customer"])
    jt = rng.choice(["JOIN", "LEFT JOIN"])
    if jt == "LEFT JOIN":
        # keep the probe-side filter in ON for left joins — a WHERE on
        # the right side would silently convert it to inner
        return (
            f"SELECT c_mktsegment, o_orderstatus,\n"
            f"       CAST(COUNT(*) AS BIGINT) AS n,\n"
            f"       CAST(COUNT(o_orderkey) AS BIGINT) AS n_matched,\n"
            f"       CAST(SUM(CAST(FLOOR(COALESCE(o_totalprice, 0e0) * 100)"
            f" AS BIGINT)) AS BIGINT) AS s_cents\n"
            f"FROM customer LEFT JOIN orders\n"
            f"  ON o_custkey = c_custkey AND ({po})\n"
            f"WHERE ({pc})\n"
            f"GROUP BY c_mktsegment, o_orderstatus\n"
            f"ORDER BY c_mktsegment, o_orderstatus"
        )
    return (
        f"SELECT c_mktsegment, o_orderpriority,\n"
        f"       CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"       CAST(MIN(o_orderkey) AS BIGINT) AS mn,\n"
        f"       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))"
        f" AS BIGINT) AS s_cents\n"
        f"FROM orders JOIN customer ON o_custkey = c_custkey\n"
        f"WHERE ({po}) AND ({pc})\n"
        f"GROUP BY c_mktsegment, o_orderpriority\n"
        f"ORDER BY c_mktsegment, o_orderpriority"
    )


def _window_query(rng: random.Random) -> str:
    spec = TABLES["orders"]
    p = _pred(rng, spec)
    frame = rng.choice(
        ["ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
         "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"]
    )
    return (
        f"SELECT o_orderkey,\n"
        f"       ROW_NUMBER() OVER (PARTITION BY o_orderstatus"
        f" ORDER BY o_orderkey) AS rn,\n"
        f"       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))"
        f" OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey"
        f" {frame}) AS BIGINT) AS running\n"
        f"FROM orders WHERE ({p})\n"
        f"ORDER BY o_orderkey"
    )


def _exists_query(rng: random.Random) -> str:
    # correlated (NOT) EXISTS — the decorrelation surface: Spark
    # rewrites to semi/anti joins, DuckDB to its own unnesting
    po = _pred(rng, TABLES["orders"])
    pl = _pred(rng, TABLES["lineitem"])
    neg = rng.choice(["EXISTS", "NOT EXISTS"])
    return (
        f"SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"       CAST(MIN(o_orderkey) AS BIGINT) AS mn\n"
        f"FROM orders\n"
        f"WHERE ({po}) AND {neg} (\n"
        f"  SELECT 1 FROM lineitem\n"
        f"  WHERE l_orderkey = o_orderkey AND ({pl}))\n"
        f"GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


def _rollup_query(rng: random.Random) -> str:
    # GROUP BY ROLLUP: grouping-set expansion; subtotal rows carry NULL
    # keys, COALESCEd away so default NULL-ordering differences between
    # the engines cannot touch the comparison. HAVING COUNT(*) > 0
    # guards a REAL divergence this fuzzer found (seeds 8/9, r4): on
    # EMPTY input DuckDB emits the grand-total row (n=0) for the ()
    # grouping set per the SQL standard, Spark emits no rows (its
    # Expand+group-by-grouping-id plan has nothing to expand) — pinned
    # in tests/test_differential_fuzz.py::test_rollup_empty_divergence
    table = rng.choice(["orders", "lineitem"])
    spec = TABLES[table]
    a, b = spec["group_cols"][0], spec["group_cols"][-1]
    nc = rng.choice(spec["num_cols"])
    p = _pred(rng, spec)
    return (
        f"SELECT COALESCE(CAST({a} AS STRING), 'ALL') AS k1,\n"
        f"       COALESCE(CAST({b} AS STRING), 'ALL') AS k2,\n"
        f"       CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"       CAST(SUM(CAST(FLOOR({nc} * 100) AS BIGINT)) AS BIGINT)"
        f" AS s_cents\n"
        f"FROM {table} WHERE ({p})\n"
        f"GROUP BY ROLLUP({a}, {b})\n"
        f"HAVING COUNT(*) > 0\nORDER BY k1, k2"
    )


def _string_func_query(rng: random.Random) -> str:
    table = rng.choice(sorted(TABLES))
    spec = TABLES[table]
    sc = rng.choice(spec["str_cols"])
    p = _pred(rng, spec)
    n = rng.randint(1, 3)
    return (
        f"SELECT upper({sc}) AS u, substr({sc}, 1, {n}) AS pfx,\n"
        f"       CAST(length({sc}) AS INT) AS ln,\n"
        f"       concat({sc}, '_', CAST(length({sc}) AS STRING)) AS tag,\n"
        f"       CAST(COUNT(*) AS BIGINT) AS n\n"
        f"FROM {table} WHERE ({p})\n"
        f"GROUP BY 1, 2, 3, 4 ORDER BY u, pfx, ln, tag"
    )


def _nested_limit_query(rng: random.Random) -> str:
    # aggregate over an ordered-LIMIT derived table: the inner total
    # order (unique key tie-break) pins exactly which rows survive
    spec = TABLES["orders"]
    p = _pred(rng, spec)
    lim = rng.randint(50, 500)
    return (
        f"SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"       CAST(SUM(cents) AS BIGINT) AS s_cents\n"
        f"FROM (\n"
        f"  SELECT o_orderstatus,\n"
        f"         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents\n"
        f"  FROM orders WHERE ({p})\n"
        f"  ORDER BY cents DESC, o_orderkey LIMIT {lim}\n"
        f") t GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


def _setop_query(rng: random.Random) -> str:
    spec = TABLES["orders"]
    p1, p2 = _pred(rng, spec), _pred(rng, spec)
    op = rng.choice(
        ["UNION", "UNION ALL", "INTERSECT", "EXCEPT",
         "INTERSECT ALL", "EXCEPT ALL"]
    )
    return (
        f"SELECT o_orderkey AS k, o_orderstatus AS s FROM orders"
        f" WHERE ({p1})\n{op}\n"
        f"SELECT o_orderkey, o_orderstatus FROM orders WHERE ({p2})\n"
        f"ORDER BY k, s"
    )


def _date_query(rng: random.Random) -> str:
    # calendar surface: date_trunc granularities + EXTRACT fields over
    # the orders timestamp, grouped by the truncated bucket.  Stays in
    # the portable subset: ISO string of the DATE cast (identical text
    # in both engines), EXTRACT results cast to INT (DuckDB yields
    # BIGINT natively), integer-exact cents sum.  Deliberately avoids
    # dayofweek/datediff whose numbering/signatures diverge.
    gran = rng.choice(["year", "quarter", "month", "week"])
    fld = rng.choice(["YEAR", "MONTH", "DAY"])
    spec = TABLES["orders"]
    p = _pred(rng, spec)
    return (
        f"SELECT CAST(CAST(date_trunc('{gran}', o_orderdate) AS DATE)"
        f" AS STRING) AS bucket,\n"
        f"       CAST(EXTRACT({fld} FROM o_orderdate) AS INT) AS f,\n"
        f"       CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))"
        f" AS BIGINT) AS s_cents\n"
        f"FROM orders WHERE ({p})\n"
        f"GROUP BY 1, 2 ORDER BY bucket, f"
    )


def _filter_agg_query(rng: random.Random) -> str:
    # aggregate FILTER clause: per-aggregate predicates evaluated after
    # the WHERE — exercises each engine's filtered-aggregate rewrite
    # (Spark turns these into CASE-fed aggregates).  COUNT never yields
    # NULL; the filtered SUM can, so COALESCE pins the empty-filter
    # case to 0 in both engines.
    table = rng.choice(sorted(TABLES))
    spec = TABLES[table]
    g = rng.choice(spec["group_cols"])
    nc = rng.choice(spec["num_cols"])
    p = _pred(rng, spec)
    fp1, fp2 = _pred(rng, spec), _pred(rng, spec)
    return (
        f"SELECT {g} AS k,\n"
        f"       CAST(COUNT(*) FILTER (WHERE ({fp1})) AS BIGINT) AS n1,\n"
        f"       CAST(COALESCE(SUM(CAST(FLOOR({nc} * 100) AS BIGINT))"
        f" FILTER (WHERE ({fp2})), 0) AS BIGINT) AS s2,\n"
        f"       CAST(COUNT(*) AS BIGINT) AS n\n"
        f"FROM {table} WHERE ({p})\n"
        f"GROUP BY {g} ORDER BY k"
    )


def _stream_join_case(rng: random.Random):
    """Randomized STREAM-STREAM event-time join (r5 families, verdict
    r6 #7): join type x forward-window length x right-side event type,
    run through the real watermark/state machinery (sentinel watermark
    discipline included via _stream_purchase_pairs) and compared to the
    identical batch join in DuckDB.  Returns (builder, oracle_sql)."""
    how, kw = rng.choice(
        [
            ("inner", "JOIN"),
            ("leftOuter", "LEFT JOIN"),
            ("rightOuter", "RIGHT JOIN"),
            ("fullOuter", "FULL JOIN"),
        ]
    )
    m = rng.choice([1, 2, 3, 5])
    rt = rng.choice(["click", "error", "purchase", "signup", "view"])

    def build(spark, sf_dir):
        from nibbler_spark.queries.streaming_q import _stream_purchase_pairs

        return _stream_purchase_pairs(
            spark, sf_dir, how, interval_min=m, right_type=rt
        )

    sql = (
        f"SELECT a.event_id AS eid_a, b.event_id AS eid_b,\n"
        f"       COALESCE(a.user_id, b.user_id) AS user_id\n"
        f"FROM events a {kw}"
        f" (SELECT * FROM events WHERE event_type = '{rt}') b\n"
        f"  ON a.user_id = b.user_id\n"
        f" AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '{m} minutes'\n"
        f" AND a.event_id <> b.event_id\n"
        f"ORDER BY eid_a, eid_b, user_id"
    )
    return build, sql


def _two_phase_rank_case(rng: random.Random):
    """Randomized two-phase global rank (the scale-safe rank pattern
    from ext_perplexity_buckets): per-bucket counts -> broadcast
    offsets -> within-bucket row_number + offset, vs DuckDB's direct
    single-ordering ROW_NUMBER.  No global sort on the Spark side —
    that is the property being fuzzed."""
    bucket = rng.choice(["lang", "source"])
    lo = rng.randint(50, 200)
    descending = rng.random() < 0.5

    def build(spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from nibbler_spark.sources import load_table

        d = load_table(spark, sf_dir, "documents").where(
            F.col("n_chars") >= lo
        )
        counts = sorted(
            d.groupBy(bucket).agg(F.count("*").alias("cnt")).collect(),
            key=lambda r: r[bucket],
        )
        off, offsets = 0, []
        for r in counts:
            offsets.append((r[bucket], off))
            off += r["cnt"]
        odf = d.sparkSession.createDataFrame(
            offsets, f"{bucket} string, off long"
        )
        key = F.col("n_chars").desc() if descending else F.col("n_chars")
        w = Window.partitionBy(bucket).orderBy(key, "doc_id")
        return (
            d.join(F.broadcast(odf), bucket)
            .withColumn(
                "rk", (F.row_number().over(w) + F.col("off")).cast("bigint")
            )
            .select("doc_id", "rk")
            .orderBy("rk")
        )

    direction = "DESC" if descending else "ASC"
    sql = (
        f"SELECT doc_id, CAST(ROW_NUMBER() OVER (\n"
        f"         ORDER BY {bucket}, n_chars {direction}, doc_id\n"
        f"       ) AS BIGINT) AS rk\n"
        f"FROM documents WHERE n_chars >= {lo}\n"
        f"ORDER BY rk"
    )
    return build, sql


def _pack_densify_trajectory_case(rng: random.Random):
    """Randomized PREFIX-MULTIPLYING rank trajectory (r6 verdict #7:
    the iterative-loop families — mid-trajectory ties are the
    dangerous divergence). Runs the ext_suffix_array_lcp machinery
    (pack m stride-c ranks -> densify via two_phase_rank) with an
    rng-chosen cap and per-round pack factor, and emits at EVERY round
    the dense-rank table's fingerprint (n_distinct + a position-keyed
    checksum). DuckDB re-derives each trajectory point independently
    as DENSE_RANK() over the literal prefix strings — so any
    tie-group divergence at any intermediate round is caught, not
    just the final order. W = 2^20 per round (valid while ranks
    < 1,048,576 — fuzz corpora are ~24k suffixes; the builder asserts
    the bound)."""
    cap = rng.choice([6, 12, 24])
    # per-round pack factors, decided at gen time so the oracle knows
    # the trajectory: m=3 needs 60 bits at W=2^20, m=2 needs 40
    schedule = []
    covered = 1
    while covered < cap:
        m = rng.choice([2, 3])
        schedule.append(m)
        covered = min(covered * m, cap)
    points = []
    covered = 1
    for m in schedule:
        covered = min(covered * m, cap)
        points.append(covered)

    def build(spark, sf_dir):
        from pyspark.sql import functions as F

        from nibbler_spark.queries import pin
        from nibbler_spark.queries._helpers import two_phase_rank
        from nibbler_spark.sources import load_table

        W = 2**20
        d = load_table(spark, sf_dir, "documents")
        tk = pin(
            d.select(
                "doc_id",
                F.slice(F.split("text", " "), 1, cap).alias("t"),
            )
            .where(F.size("t") >= 1)
            .repartition(8)
        )
        n_docs = tk.count()
        assert cap * n_docs < W, "fuzz corpus exceeds the W=2^20 bound"
        vocab = tk.select(F.explode("t").alias("v")).distinct()
        vr = two_phase_rank(
            vocab, F.ascii(F.substring("v", 1, 1)), [F.col("v")], "r"
        )
        vmap_row = F.broadcast(
            vr.agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(
                            "v", F.col("r").cast("bigint").alias("r")
                        )
                    )
                ).alias("vmap")
            )
        )
        arr = pin(
            tk.crossJoin(vmap_row)
            .select(
                "doc_id",
                F.transform(
                    "t",
                    lambda tok: F.try_element_at(F.col("vmap"), tok),
                ).alias("ranks"),
            )
        )
        covered = 1
        traj = None
        for m in schedule:
            c = covered

            def packed():
                return F.transform(
                    F.sequence(F.lit(1), F.size("ranks")),
                    lambda i: sum(
                        (
                            F.coalesce(
                                F.try_element_at(
                                    F.col("ranks"), i + F.lit(j * c)
                                ),
                                F.lit(0).cast("bigint"),
                            )
                            * F.lit(W ** (m - 1 - j)).cast("bigint")
                            for j in range(1, m)
                        ),
                        start=F.element_at(F.col("ranks"), i)
                        * F.lit(W ** (m - 1)).cast("bigint"),
                    ),
                ).alias("ranks")

            ex = arr.select("doc_id", packed()).select(
                "doc_id", F.posexplode("ranks").alias("pos0", "rc")
            )
            dv = ex.select("rc").distinct()
            rk = two_phase_rank(
                dv, F.expr(f"rc DIV {64 * W ** (m - 1)}"), [F.col("rc")], "nr"
            )
            narrow = pin(
                ex.join(rk, "rc")
                .select(
                    "doc_id",
                    (F.col("pos0") + 1).alias("pos"),
                    F.col("nr").cast("bigint").alias("r"),
                )
            )
            covered = min(covered * m, cap)
            point = narrow.agg(
                F.lit(covered).cast("bigint").alias("covered"),
                F.countDistinct("r").cast("bigint").alias("n_distinct"),
                F.sum(
                    F.col("r") * (F.col("doc_id") * 64 + F.col("pos"))
                )
                .cast("bigint")
                .alias("checksum"),
            )
            traj = point if traj is None else traj.unionByName(point)
            if covered < cap:
                arr = pin(
                    narrow.groupBy("doc_id")
                    .agg(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col("pos").alias("p"),
                                        F.col("r").alias("r"),
                                    )
                                )
                            ),
                            lambda s: s["r"],
                        ).alias("ranks")
                    )
                )
        return traj.orderBy("covered")

    point_sqls = [
        f"""SELECT CAST({c} AS BIGINT) AS covered,
       CAST(COUNT(DISTINCT dr) AS BIGINT) AS n_distinct,
       CAST(SUM(dr * (doc_id * 64 + pos)) AS BIGINT) AS checksum
FROM (
  SELECT doc_id, pos,
         DENSE_RANK() OVER (
           ORDER BY array_to_string(t[pos:pos+{c - 1}], ' ')) AS dr
  FROM (
    SELECT doc_id, UNNEST(generate_series(1, len(t))) AS pos, t
    FROM (SELECT doc_id, string_split(text, ' ')[1:{cap}] AS t
          FROM documents) WHERE len(t) >= 1
  )
)"""
        for c in sorted(set(points))
    ]
    sql = "\nUNION ALL\n".join(point_sqls) + "\nORDER BY covered"
    return build, sql


def _greedy_coverage_case(rng: random.Random):
    """Randomized GREEDY max-coverage trajectory (the
    ext_submodular_coverage loop with rng-chosen shingle width, round
    count, and doc filter). Width 2 makes marginal-gain TIES common —
    the argmax tie-break (smallest doc_id) must hold at every round on
    both engines or the whole downstream trajectory diverges."""
    w = rng.choice([2, 3])
    k = rng.randint(2, 4)
    minlen = rng.choice([0, 120])

    def build(spark, sf_dir):
        from pyspark.sql import functions as F

        from nibbler_spark.queries import pin
        from nibbler_spark.sources import load_table

        d = load_table(spark, sf_dir, "documents").where(
            F.col("n_chars") >= minlen
        )
        toks = F.split("text", " ")
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ",
            *[F.element_at(toks, i + j) for j in range(w)],
        )
        ds = pin(
            d.select("doc_id", "text")
            .repartition(8)
            .select(
                "doc_id",
                F.explode(
                    F.when(
                        F.size(toks) >= w,
                        F.transform(
                            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
                            gram,
                        ),
                    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
                ).alias("sh"),
            )
            .distinct()
        )
        selected = []
        covered = None
        for r in range(1, k + 1):
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
                    F.lit(r).cast("bigint").alias("round"),
                    (-F.col("b.nd")).alias("doc_id"),
                    F.col("b.gain").alias("gain"),
                )
            )
            selected.append(best)
            sel = selected[0].select("doc_id")
            for s in selected[1:]:
                sel = sel.unionByName(s.select("doc_id"))
            covered = pin(
                ds.join(F.broadcast(sel), "doc_id", "left_semi")
                .select("sh")
                .distinct()
            )
        out = selected[0]
        for s in selected[1:]:
            out = out.unionByName(s)
        return out.orderBy("round")

    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(w))
    stages = [
        f"""ds AS (
  SELECT DISTINCT doc_id, g AS sh FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(tk) - {w - 1}),
                  i -> {grams})) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE n_chars >= {minlen})
    WHERE len(tk) >= {w}
  )
)"""
    ]
    prev_cov = None
    for r in range(1, k + 1):
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
        f"SELECT CAST({r} AS BIGINT) AS round, doc_id, gain FROM s{r}"
        for r in range(1, k + 1)
    )
    sql = (
        "WITH "
        + ",\n".join(stages)
        + f"\nSELECT round, doc_id, gain FROM ({rows}) ORDER BY round"
    )
    return build, sql


def _stream_keyed_fold_case(rng: random.Random):
    """Randomized ONLINE keyed-fold trajectory (r7 verdict #8): the
    i47/i48 state-carry pattern — an applyInPandasWithState fold over a
    randomized epoch slicing of the documents token stream, driven one
    availableNow drain per epoch through the registry's own
    streaming_q._fold_slices, with the per-epoch read-out reconstructed
    from the emission log (streaming_q._running_prefixes, a
    max_by(running, emitted_epoch)) and compared against DuckDB
    rebuilding every epoch PREFIX from scratch.  Randomized dimensions:
    epoch count, slice rule (doc_id mod vs contiguous doc_id ranges),
    part files per epoch (multi-part epochs must still fold as ONE
    micro-batch — the r8 staging fix), key-space width, fold op
    (count / sum / max / min carry), and the token-length payload
    filter."""
    E = rng.randint(2, 4)
    W = rng.choice([8, 16, 32])
    parts = rng.choice([1, 2, 3])
    slice_mode = rng.choice(["mod", "range"])
    op = rng.choice(["count", "sum", "max", "min"])
    minlen = rng.choice([0, 3, 5])

    def build(spark, sf_dir):
        from pyspark.sql import functions as F

        from nibbler_spark.queries import scratch_dir
        from nibbler_spark.queries.sketches import _nib_hash
        from nibbler_spark.queries.streaming_q import (
            _fold_slices,
            _running_fold,
            _running_prefixes,
            _write_slices,
        )
        from nibbler_spark.sources import load_table

        d = load_table(spark, sf_dir, "documents")
        hi = d.agg(F.max("doc_id")).first()[0]
        if slice_mode == "mod":
            ep = (F.col("doc_id") % E).cast("int")
        else:
            ep = F.least(
                F.lit(E - 1), (F.col("doc_id") * E / (hi + 1)).cast("int")
            )
        if op == "count":
            v = F.lit(1).cast("long")
        elif op == "sum":
            v = F.length("token").cast("long")
        else:
            v = F.conv(F.substring(F.md5("token"), 1, 12), 16, 10).cast(
                "long"
            )
        tok = (
            d.select(
                ep.alias("epoch"),
                F.explode(F.split("text", " ")).alias("token"),
            )
            .where(F.length("token") >= minlen)
            .select("epoch", "token", v.alias("v"))
        )
        slices = scratch_dir("fuzzfold")
        _write_slices(tok, slices, E, parts)
        outdir = _fold_slices(
            spark,
            slices,
            "epoch int, token string, v long",
            "k",
            _running_fold(op),
            "k long, epoch long, running long",
            "run long",
            prep=lambda s: s.select(
                "epoch", _nib_hash(F.col("token"), W).cast("long").alias("k"), "v"
            ),
        )
        return _running_prefixes(spark, outdir, E)

    from nibbler_spark.queries.sketches import _sql_nib_hash

    from_hex = "CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT)"
    payload = {"count": "1", "sum": "LEN(t)", "max": from_hex, "min": from_hex}[op]
    agg = {"count": "COUNT(*)", "sum": "SUM(v)", "max": "MAX(v)", "min": "MIN(v)"}[op]
    if slice_mode == "mod":
        epoch_expr = f"doc_id % {E}"
    else:
        epoch_expr = (
            f"LEAST({E - 1}, CAST(doc_id * {E} // (mx.m + 1) AS INT))"
        )
    sql = f"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT {epoch_expr} AS tep,
         {_sql_nib_hash("t", W)} AS k,
         CAST({payload} AS BIGINT) AS v
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM documents) CROSS JOIN mx
  WHERE LEN(t) >= {minlen}
),
epochs AS (SELECT UNNEST(generate_series(0, {E - 1})) AS e)
SELECT CAST(tok.k AS BIGINT) AS k, CAST(e.e AS BIGINT) AS epoch,
       CAST({agg} AS BIGINT) AS running
FROM tok CROSS JOIN epochs e
WHERE tok.tep <= e.e
GROUP BY 1, 2
ORDER BY epoch, k
"""
    return build, sql




def _stream_join_then_fold_case(rng: random.Random):
    """COMPOSED stream-stream-join -> keyed-fold trajectory (r8 verdict
    #9): the two stateful families the fuzzer covered separately,
    composed so the watermark+state interaction between them is
    exercised.  Delegates to the shared builder in
    nibbler_spark.queries.streaming_q (also registered as the
    fixed-parameter i54_stream_join_fold_compose declared query);
    randomized dimensions: epoch count, slice rule, key width, join
    window, right-side type, A-side value filter, and the fold op."""
    E = rng.randint(2, 3)
    W = rng.choice([8, 16, 32])
    m = rng.choice([1, 2, 3, 5])
    rt = rng.choice(["click", "error", "purchase", "signup", "view"])
    slice_mode = rng.choice(["mod", "range"])
    op = rng.choice(["count", "sum", "max", "min"])
    afilter = rng.choice([None, 0.25, 0.5])

    def build(spark, sf_dir):
        from nibbler_spark.queries.streaming_q import stream_join_then_fold

        return stream_join_then_fold(
            spark, sf_dir, E, W, m, rt, slice_mode, op, afilter
        )

    from nibbler_spark.queries.streaming_q import (
        stream_join_then_fold_oracle,
    )

    sql = stream_join_then_fold_oracle(E, W, m, rt, slice_mode, op, afilter)
    return build, sql


DSL_FAMILIES = {
    "stream_join": _stream_join_case,
    "two_phase_rank": _two_phase_rank_case,
    "pack_densify": _pack_densify_trajectory_case,
    "greedy_coverage": _greedy_coverage_case,
    "stream_keyed_fold": _stream_keyed_fold_case,
    "stream_join_then_fold": _stream_join_then_fold_case,
}


def gen_case(rng: random.Random):
    """(kind, payload): 'sql' -> identical-text SQL, 'dsl' ->
    (builder, oracle_sql).  DSL shapes are rare (streaming cases cost
    seconds each) but a 300-seed pass reaches every family."""
    shape = rng.random()
    if shape < 0.02:
        return "dsl", _stream_join_case(rng)
    if shape < 0.05:
        return "dsl", _two_phase_rank_case(rng)
    if shape < 0.08:
        return "dsl", _pack_densify_trajectory_case(rng)
    if shape < 0.11:
        return "dsl", _greedy_coverage_case(rng)
    if shape < 0.135:
        return "dsl", _stream_keyed_fold_case(rng)
    if shape < 0.155:
        return "dsl", _stream_join_then_fold_case(rng)
    return "sql", gen_query(rng)


def gen_query(rng: random.Random) -> str:
    shape = rng.random()
    if shape < 0.13:
        return _join_query(rng)
    if shape < 0.22:
        return _window_query(rng)
    if shape < 0.31:
        return _setop_query(rng)
    if shape < 0.38:
        return _exists_query(rng)
    if shape < 0.45:
        return _rollup_query(rng)
    if shape < 0.51:
        return _string_func_query(rng)
    if shape < 0.57:
        return _nested_limit_query(rng)
    if shape < 0.63:
        return _date_query(rng)
    if shape < 0.69:
        return _filter_agg_query(rng)
    table = rng.choice(sorted(TABLES))
    spec = TABLES[table]
    preds = [_pred(rng, spec) for _ in range(rng.randint(1, 3))]
    where = f" {rng.choice(['AND', 'OR'])} ".join(f"({p})" for p in preds)
    if rng.random() < 0.5:
        # grouped aggregate
        gcols = rng.sample(
            spec["group_cols"], rng.randint(1, len(spec["group_cols"]))
        )
        ic = rng.choice(spec["int_cols"])
        nc = rng.choice(spec["num_cols"])
        aggs = [
            "CAST(COUNT(*) AS BIGINT) AS n",
            f"CAST(SUM(CAST(FLOOR({nc} * 100) AS BIGINT)) AS BIGINT) AS s_cents",
            f"CAST(MIN({ic}) AS BIGINT) AS mn",
            f"CAST(MAX({ic}) AS BIGINT) AS mx",
            f"CAST(COUNT(DISTINCT {ic} % {rng.randint(5, 50)}) AS BIGINT) AS nd",
        ]
        rng.shuffle(aggs)
        aggs = aggs[: rng.randint(2, 5)]
        having = ""
        if rng.random() < 0.4:
            having = f"\nHAVING COUNT(*) > {rng.randint(0, 20)}"
        gc = ", ".join(gcols)
        return (
            f"SELECT {gc}, {', '.join(sorted(aggs))}\n"
            f"FROM {table}\nWHERE {where}\nGROUP BY {gc}{having}\n"
            f"ORDER BY {gc}"
        )
    # row query, possibly DISTINCT, with CASE projection
    ic = rng.choice(spec["int_cols"])
    sc = rng.choice(spec["str_cols"])
    distinct = "DISTINCT " if rng.random() < 0.3 else ""
    case = (
        f"CASE WHEN {ic} % {rng.randint(2, 9)} = 0 THEN 'even-ish' "
        f"ELSE {sc} END AS tag"
    )
    lim = f"\nLIMIT {rng.randint(5, 200)}" if not distinct and rng.random() < 0.4 else ""
    return (
        f"SELECT {distinct}{ic} AS k, {sc} AS s, {ic} % 10 AS m, {case}\n"
        f"FROM {table}\nWHERE {where}\n"
        f"ORDER BY k, s, m, tag{lim}"
    )


def run(n: int, sf_dir: str, family: str | None = None) -> int:
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from pyspark.sql import SparkSession

    from nibbler_spark.oracle import compare, make_duckdb
    from nibbler_spark.queries import call_scope
    from nibbler_spark.sources import register_temp_views

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    register_temp_views(spark, sf_dir)
    con = make_duckdb(sf_dir)
    bad = []
    base = int(os.environ.get("NIBBLER_FUZZ_BASE", "97000"))
    n_dsl = 0
    for seed in range(n):
        rng = random.Random(base + seed)
        if family is not None:
            kind, payload = "dsl", DSL_FAMILIES[family](rng)
        else:
            kind, payload = gen_case(rng)
        if kind == "dsl":
            build, sql = payload
            n_dsl += 1
            mk = lambda: build(spark, sf_dir)  # noqa: E731
        else:
            sql = payload
            mk = lambda: spark.sql(sql)  # noqa: E731
        try:
            # each case owns its scratch dirs and pins like a registered
            # call: the next case releases them
            with call_scope():
                rep = compare(f"fuzz-{seed}", mk(), con, sql)
            ok = rep.ok
        except Exception as e:  # engine-level failure = a finding too
            print(f"fuzz-{seed}: EXC {type(e).__name__}: {e}\n{sql}\n")
            bad.append(seed)
            continue
        if not ok:
            print(f"fuzz-{seed}: MISMATCH\n{sql}\n{rep.first_diffs[:3]}\n")
            bad.append(seed)
    print(
        f"FUZZ: {n - len(bad)}/{n} agree ({n_dsl} DSL cases)  "
        f"MISMATCHES: {len(bad)} {bad}"
    )
    return 1 if bad else 0




# ------------------------------------------------------------------
# Codec differential fuzz (r9 verdict #6): seeded random payloads
# through the from-scratch codecs, decoded with an INDEPENDENT stack
# where one exists in the container (pyarrow for parquet / arrow-ipc /
# snappy / lz4-raw, stdlib wave/aifc/audioop for WAV/AIFF/mu-law,
# stdlib bz2 as the encoder feeding the bzip2 decoder), byte/pixel/
# value identity asserted. Families without an independent peer
# (msgpack, tfrecord, avro OCF, the image formats) run encode->decode
# roundtrips against generator-computed expectations — the expected
# values come from the random generator itself, so an asymmetric bug
# in either side still diverges. JPEG is excluded: lossy by design,
# covered by spec vectors in tests/.
#
#   python tools/fuzz_differential.py 300 - codec
# ------------------------------------------------------------------


def _rand_bytes(rng: random.Random, n: int) -> bytes:
    mode = rng.randrange(4)
    if mode == 0:  # high entropy
        return bytes(rng.randrange(256) for _ in range(n))
    if mode == 1:  # runs
        out = bytearray()
        while len(out) < n:
            out += bytes([rng.randrange(256)]) * rng.randint(1, 64)
        return bytes(out[:n])
    if mode == 2:  # text-ish
        words = [b"the", b"quick", b"brown", b"fox", b"jumps", b"over"]
        out = bytearray()
        while len(out) < n:
            out += rng.choice(words) + b" "
        return bytes(out[:n])
    # low-alphabet structured
    return bytes(rng.choice(b"ABAB\x00\xff") for _ in range(n))


def _cf_wav_pcm(rng: random.Random) -> None:
    import io
    import struct
    import wave

    from nibbler_spark.operators.multimodal import encode_wav, parse_wav

    n = rng.randint(1, 4000)
    rate = rng.choice([8000, 16000, 22050, 44100])
    samples = [rng.randint(-32768, 32767) for _ in range(n)]
    payload = encode_wav(n, rate, lambda i: samples[i])
    with wave.open(io.BytesIO(payload)) as w:
        assert w.getnchannels() == 1 and w.getsampwidth() == 2
        assert w.getframerate() == rate and w.getnframes() == n
        got = list(struct.unpack(f"<{n}h", w.readframes(n)))
    assert got == samples, "stdlib wave decode diverges from encode_wav"
    meta = parse_wav(payload)
    assert meta["n_samples"] == n and meta["sample_rate"] == rate


def _cf_wav_mulaw(rng: random.Random) -> None:
    from nibbler_spark.operators.multimodal import (
        mulaw_decode_sample,
        mulaw_encode_sample,
    )

    try:
        import audioop  # stdlib G.711 reference (deprecated, present 3.11)
    except ImportError:
        audioop = None
    import struct

    n = rng.randint(1, 1500)
    samples = [rng.randint(-32768, 32767) for _ in range(n)]
    codes = [mulaw_encode_sample(s) for s in samples]
    if audioop is not None:
        # audioop (Sun g711.c) quantizes to 14 bits BEFORE negating the
        # magnitude, so negative segment-boundary samples (381 of 65536)
        # land one code lower than the 16-bit CCITT math used here;
        # positives are bit-identical and decode tables agree exactly.
        ref = audioop.lin2ulaw(struct.pack(f"<{n}h", *samples), 2)
        for s_, got, want in zip(samples, codes, ref):
            if s_ >= 0:
                assert got == want, f"mulaw encode diverges at {s_}"
            else:
                assert abs(got - want) <= 1, f"mulaw encode off at {s_}"
        back = struct.unpack(
            f"<{n}h", audioop.ulaw2lin(bytes(codes), 2)
        )
        ours = [mulaw_decode_sample(c) for c in codes]
        assert list(back) == ours, "mulaw decode diverges from audioop"
    # G.711 closure: re-encoding a decoded value is idempotent
    for c in codes[:64]:
        assert mulaw_encode_sample(mulaw_decode_sample(c)) == c


def _cf_aiff(rng: random.Random) -> None:
    import io
    import struct

    from nibbler_spark.operators.multimodal import encode_aiff, parse_aiff

    try:
        import aifc  # deprecated, present in 3.11
    except ImportError:
        aifc = None
    n = rng.randint(1, 3000)
    rate = rng.choice([8000, 11025, 22050, 48000])
    samples = [rng.randint(-32768, 32767) for _ in range(n)]
    payload = encode_aiff(n, rate, lambda i: samples[i])
    if aifc is not None:
        with aifc.open(io.BytesIO(payload)) as a:
            assert a.getnchannels() == 1 and a.getsampwidth() == 2
            assert a.getframerate() == rate and a.getnframes() == n
            got = list(struct.unpack(f">{n}h", a.readframes(n)))
        assert got == samples, "stdlib aifc decode diverges from encode_aiff"
    meta = parse_aiff(payload)
    assert meta["n_samples"] == n and meta["sample_rate"] == rate


def _cf_bzip2(rng: random.Random) -> None:
    import bz2

    from nibbler_spark.operators.bzip2_codec import bzip2_decompress

    data = _rand_bytes(rng, rng.randint(0, 20000))
    level = rng.randint(1, 9)
    assert bzip2_decompress(bz2.compress(data, level)) == data


def _cf_snappy(rng: random.Random) -> None:
    import pyarrow as pa

    from nibbler_spark.operators.compression import (
        snappy_compress,
        snappy_decompress,
    )

    data = _rand_bytes(rng, rng.randint(0, 30000))
    codec = pa.Codec("snappy")
    # ours -> pyarrow
    enc = snappy_compress(data)
    assert (
        codec.decompress(enc, decompressed_size=len(data)).to_pybytes()
        == data
    ), "pyarrow cannot decode snappy_compress output"
    # pyarrow -> ours
    penc = codec.compress(data).to_pybytes() if data else codec.compress(
        data
    )
    penc = penc if isinstance(penc, bytes) else penc.to_pybytes()
    assert snappy_decompress(penc) == data, (
        "snappy_decompress diverges on pyarrow output"
    )


def _cf_lz4(rng: random.Random) -> None:
    import pyarrow as pa

    from nibbler_spark.operators.compression import (
        lz4_compress,
        lz4_decompress,
    )

    data = _rand_bytes(rng, rng.randint(0, 30000))
    codec = pa.Codec("lz4_raw")
    enc = lz4_compress(data)
    assert (
        codec.decompress(enc, decompressed_size=len(data)).to_pybytes()
        == data
    ), "pyarrow cannot decode lz4_compress output"
    penc = codec.compress(data)
    penc = penc if isinstance(penc, bytes) else penc.to_pybytes()
    assert lz4_decompress(penc, expected_size=len(data)) == data, (
        "lz4_decompress diverges on pyarrow output"
    )


def _cf_parquet(rng: random.Random) -> None:
    import io

    import pyarrow.parquet as pq

    from nibbler_spark.operators.parquet_codec import (
        parquet_read_all,
        parquet_write,
    )

    n = rng.randint(1, 500)
    cols = []
    n_cols = rng.randint(1, 4)
    for c in range(n_cols):
        t = rng.choice(["int32", "int64", "double", "byte_array"])
        nullable = rng.random() < 0.4
        vals = []
        for _ in range(n):
            if nullable and rng.random() < 0.2:
                vals.append(None)
            elif t == "int32":
                vals.append(rng.randint(-(2**31), 2**31 - 1))
            elif t == "int64":
                vals.append(rng.randint(-(2**63), 2**63 - 1))
            elif t == "double":
                vals.append(
                    rng.choice(
                        [0.0, -1.5, 3.14159, float(rng.randint(-9999, 9999))]
                    )
                )
            else:
                # the writer stamps BYTE_ARRAY as ConvertedType UTF8
                # (engines read VARCHAR), so fuzz valid UTF-8 payloads
                vals.append(
                    _rand_bytes(rng, rng.randint(0, 20))
                    .decode("latin-1")
                    .encode("utf-8")
                )
        cols.append((f"c{c}", t, vals))
    codec = rng.choice(["uncompressed", "snappy"])
    rgs = rng.choice([None, max(1, n // 3)])
    payload = parquet_write(cols, codec=codec, row_group_size=rgs)
    # independent decode: pyarrow
    table = pq.read_table(io.BytesIO(payload))
    for name, t, vals in cols:
        got = table.column(name).to_pylist()
        want = (
            [None if v is None else v.decode("utf-8") for v in vals]
            if t == "byte_array"
            else vals
        )
        assert got == want, f"pyarrow decode diverges on {name} ({t})"
    # our own reader agrees too
    ours = parquet_read_all(payload)
    for name, _, vals in cols:
        assert ours[name] == vals


def _cf_arrow_ipc(rng: random.Random) -> None:
    import pyarrow as pa

    from nibbler_spark.operators.arrow_ipc import arrow_ipc_read

    n = rng.randint(1, 400)
    data = {}
    schema_fields = []
    for c in range(rng.randint(1, 3)):
        t = rng.choice(["int64", "float64", "string", "bool"])
        if t == "int64":
            vals = [
                None if rng.random() < 0.15 else rng.randint(-(2**40), 2**40)
                for _ in range(n)
            ]
            pat = pa.int64()
        elif t == "float64":
            vals = [
                None if rng.random() < 0.15 else float(rng.randint(-99, 99))
                for _ in range(n)
            ]
            pat = pa.float64()
        elif t == "string":
            vals = [
                None
                if rng.random() < 0.15
                else _rand_bytes(rng, rng.randint(0, 12)).decode(
                    "latin-1"
                )
                for _ in range(n)
            ]
            pat = pa.string()
        else:
            vals = [
                None if rng.random() < 0.15 else rng.random() < 0.5
                for _ in range(n)
            ]
            pat = pa.bool_()
        data[f"c{c}"] = (vals, pat)
        schema_fields.append(pa.field(f"c{c}", pat))
    table = pa.table(
        {k: pa.array(v, type=t) for k, (v, t) in data.items()},
        schema=pa.schema(schema_fields),
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    payload = sink.getvalue().to_pybytes()
    got = arrow_ipc_read(payload)
    for k, (vals, _) in data.items():
        assert got[k] == vals, f"arrow_ipc_read diverges on {k}"


def _cf_avro(rng: random.Random) -> None:
    from nibbler_spark.operators.avro_codec import (
        decode_container,
        encode_container,
    )

    fields = []
    for c in range(rng.randint(1, 4)):
        fields.append(
            (f"f{c}", rng.choice(["long", "string", "double", "boolean"]))
        )
    n = rng.randint(0, 300)
    rows = []
    for _ in range(n):
        row = []
        for _, t in fields:
            if t == "long":
                row.append(rng.randint(-(2**62), 2**62))
            elif t == "string":
                row.append(
                    _rand_bytes(rng, rng.randint(0, 16)).decode("latin-1")
                )
            elif t == "double":
                row.append(float(rng.randint(-10**6, 10**6)) / 8)
            else:
                row.append(rng.random() < 0.5)
        rows.append(tuple(row))
    codec = rng.choice(["null", "deflate"])
    payload = encode_container(rows, fields, codec=codec)
    got_fields, got_rows = decode_container(payload)
    assert [f[0] for f in got_fields] == [f[0] for f in fields]
    assert got_rows == rows, "avro OCF roundtrip diverges"


def _cf_msgpack(rng: random.Random) -> None:
    from nibbler_spark.operators.msgpack_codec import pack, unpack

    def gen(depth: int):
        r = rng.random()
        if depth > 3 or r < 0.35:
            return rng.choice(
                [
                    None,
                    True,
                    False,
                    rng.randint(-(2**63), 2**63 - 1),
                    float(rng.randint(-9999, 9999)) / 4,
                    _rand_bytes(rng, rng.randint(0, 40)).decode("latin-1"),
                    _rand_bytes(rng, rng.randint(0, 40)),
                ]
            )
        if r < 0.7:
            return [gen(depth + 1) for _ in range(rng.randint(0, 6))]
        return {
            _rand_bytes(rng, rng.randint(1, 8)).decode("latin-1"): gen(
                depth + 1
            )
            for _ in range(rng.randint(0, 5))
        }

    obj = gen(0)
    assert unpack(pack(obj)) == obj, "msgpack roundtrip diverges"


def _cf_tfrecord(rng: random.Random) -> None:
    from nibbler_spark.operators.tfrecord_codec import (
        read_tfrecords,
        write_tfrecords,
    )

    recs = [
        _rand_bytes(rng, rng.randint(0, 2000))
        for _ in range(rng.randint(0, 50))
    ]
    assert read_tfrecords(write_tfrecords(recs)) == recs


def _cf_image(rng: random.Random) -> None:
    """BMP/PPM/PNG/GIF/QOI/TGA/TIFF: encode a seeded random image,
    parse it back, and check the parser's pixel statistics against the
    GENERATOR's own arithmetic (independent of both codec sides)."""
    from nibbler_spark.operators import multimodal as mm

    w = rng.randint(1, 24)
    h = rng.randint(1, 24)
    px = {
        (x, y): (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for y in range(h)
        for x in range(w)
    }
    # GIF/QOI benefit from runs: sometimes flatten regions
    if rng.random() < 0.5:
        base = px[(0, 0)]
        for k in list(px):
            if rng.random() < 0.6:
                px[k] = base

    def pixel(x, y):
        return px[(x, y)]

    expected_sum = sum(sum(v) for v in px.values())
    fam = rng.choice(["bmp", "ppm", "png", "qoi", "tga", "tiff", "gif"])
    if fam == "bmp":
        meta = mm.parse_bmp(mm.encode_bmp(w, h, pixel))
    elif fam == "ppm":
        payload = (
            f"P6\n{w} {h}\n255\n".encode()
            + bytes(c for y in range(h) for x in range(w) for c in px[(x, y)])
        )
        meta = mm.parse_ppm(payload)
    elif fam == "png":
        meta = mm.parse_png(mm.encode_png(w, h, pixel))
    elif fam == "qoi":
        meta = mm.parse_qoi(mm.encode_qoi(w, h, pixel))
    elif fam == "tga":
        meta = mm.parse_tga(mm.encode_tga(w, h, pixel))
    elif fam == "tiff":
        # TIFF encoder is 8-bit GRAYSCALE: index fn, stats over grays
        gray = {k: (v[0] + v[1] + v[2]) % 256 for k, v in px.items()}
        expected_sum = sum(gray.values())
        meta = mm.parse_tiff(
            mm.encode_tiff_lzw(w, h, lambda x, y: gray[(x, y)])
        )
    else:
        # GIF is palette-based: the encoder takes INDEX(x,y) into its
        # formula palette; expected stats from the palette arithmetic
        idx = {k: (v[0] + v[1] + v[2]) % 256 for k, v in px.items()}
        expected_sum = sum(
            sum(mm._gif_palette(i)) for i in idx.values()
        )
        meta = mm.parse_gif(mm.encode_gif(w, h, lambda x, y: idx[(x, y)]))
    assert meta["width"] == w and meta["height"] == h, f"{fam} dims"
    assert meta["pixel_sum"] == expected_sum, f"{fam} pixel_sum diverges"


def _cf_zip(rng: random.Random) -> None:
    """ZIP container vs stdlib zipfile (fully independent both ways):
    our writer's archives must open and verify under zipfile; zipfile's
    archives (stored AND deflated) must parse byte-identically under
    our central-directory reader."""
    import io
    import zipfile

    from nibbler_spark.operators.zip_container import (
        encode_zip,
        parse_zip,
    )

    n = rng.randint(0, 12)
    members = []
    seen = set()
    for i in range(n):
        name = f"d{i}/{rng.randint(0, 999)}.bin"
        if name in seen:
            continue
        seen.add(name)
        members.append((name, _rand_bytes(rng, rng.randint(0, 5000))))
    method = rng.choice(["stored", "deflate", "mixed"])
    payload = encode_zip(members, method=method)
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        assert zf.testzip() is None, "zipfile CRC check failed"
        assert zf.namelist() == [m[0] for m in members]
        for name, data in members:
            assert zf.read(name) == data, f"zipfile read diverges: {name}"
    # reverse: stdlib writes, we read
    buf = io.BytesIO()
    comp = rng.choice([zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
    with zipfile.ZipFile(buf, "w", compression=comp) as zf:
        for name, data in members:
            zf.writestr(name, data)
    got = parse_zip(buf.getvalue())
    assert [(m["name"], m["data"]) for m in got] == members, (
        "parse_zip diverges on zipfile output"
    )


CODEC_FAMILIES = [
    _cf_wav_pcm,
    _cf_wav_mulaw,
    _cf_aiff,
    _cf_bzip2,
    _cf_snappy,
    _cf_lz4,
    _cf_parquet,
    _cf_arrow_ipc,
    _cf_avro,
    _cf_msgpack,
    _cf_tfrecord,
    _cf_zip,
    _cf_image,
    _cf_image,  # images twice: 7 sub-formats share one slot
]


def run_codec(n: int) -> int:
    base = int(os.environ.get("NIBBLER_FUZZ_BASE", "55000"))
    bad = []
    counts: dict[str, int] = {}
    for seed in range(n):
        rng = random.Random(base + seed)
        fam = CODEC_FAMILIES[seed % len(CODEC_FAMILIES)]
        counts[fam.__name__] = counts.get(fam.__name__, 0) + 1
        try:
            fam(rng)
        except Exception as e:
            print(f"codec-fuzz-{seed} [{fam.__name__}]: "
                  f"{type(e).__name__}: {e}")
            bad.append(seed)
    print(
        f"CODEC FUZZ: {n - len(bad)}/{n} agree "
        f"({len(counts)} families: {sorted(counts)})  "
        f"MISMATCHES: {len(bad)} {bad}"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    fam = sys.argv[3] if len(sys.argv) > 3 else None
    if fam == "codec":
        sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
        sys.exit(run_codec(n))
    sys.exit(run(n, sf, fam))
