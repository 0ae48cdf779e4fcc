"""Cross-checks for the round-4 SQL/UDF surface additions that the hash
oracles can't state: builtin regr_* agreement, recursive-CTE closure
against the window-function closed form, scripting fixpoint direction."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from nibbler_spark.queries import load_all
from nibbler_spark.sources import load_table

SPECS = load_all()


def test_builtin_regr_matches_exact_sufficient_stats(spark, sf_dir):
    """Spark's builtin regr_slope/regr_intercept/regr_r2 (pure-double
    accumulation, order-dependent) must agree with d27's integer-exact
    sufficient-statistics form to float tolerance on the same integer-
    quantized inputs."""
    exact = {
        r["l_returnflag"]: r
        for r in SPECS["d27_linear_regression_agg"].spark(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").cast("double").alias("x"),
        F.floor("l_extendedprice").cast("bigint").cast("double").alias("y"),
    )
    builtin = li.groupBy("l_returnflag").agg(
        F.expr("regr_slope(y, x)").alias("slope"),
        F.expr("regr_intercept(y, x)").alias("intercept"),
        F.expr("regr_r2(y, x)").alias("r2"),
        F.expr("regr_count(y, x)").alias("n"),
    )
    for r in builtin.collect():
        e = exact[r["l_returnflag"]]
        assert r["n"] == e["regr_n"]
        for k in ("slope", "intercept", "r2"):
            assert math.isclose(r[k], e[k], rel_tol=1e-6, abs_tol=1e-6), (
                r["l_returnflag"],
                k,
                r[k],
                e[k],
            )


def test_recursive_cte_equals_window_running_total(spark, sf_dir):
    """The recursive walk's running_cents must equal the cumulative sum
    a window function computes over the same chains — two independent
    engines of iteration inside one engine."""
    from pyspark.sql import Window

    got = {
        (r["o_custkey"], r["rn"]): r["running_cents"]
        for r in SPECS["sql07_recursive_cte"].spark(spark, sf_dir).collect()
    }
    assert got
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 97 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    want = (
        o.select(
            "o_custkey",
            F.row_number().over(w).alias("rn"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("run"),
        )
        .where(F.col("rn") <= 80)
        .collect()
    )
    assert len(want) == len(got)
    for r in want:
        assert got[(r["o_custkey"], r["rn"])] == r["run"]


def test_scripting_thresholds_strictly_increase(spark, sf_dir):
    """Each trimmed-mean refinement pass averages a strictly-above
    subset, so the survivor count must be a strict subset of the
    previous pass's — the script's final population is smaller than one
    plain average would keep."""
    row = SPECS["sql08_sql_scripting"].spark(spark, sf_dir).first()
    o = load_table(spark, sf_dir, "orders")
    total = o.count()
    one_pass_thr = (
        o.agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
             / F.count("*")).alias("t")
        ).first()["t"]
    )
    one_pass_n = o.where(F.col("o_totalprice") > one_pass_thr).count()
    assert 0 < row["n_above"] < one_pass_n < total
    assert row["thr_cents"] > int(one_pass_thr * 100) - 1


def test_concurrent_queries_share_one_session(spark, sf_dir):
    """Durability: seven registry queries running CONCURRENTLY on one
    SparkSession (the scheduler-fairness / thread-safety contract a
    multi-tenant driver relies on) must produce exactly the rows they
    produce sequentially."""
    from concurrent.futures import ThreadPoolExecutor

    from nibbler_spark.queries import load_all

    specs = load_all()
    names = [
        "b01_projection",
        "d01_grouped_agg",
        "c07_broadcast_join",
        "e05_lag_lead",
        "g04_intersect",
        "ext_seasonal_decompose",
        "sql07_recursive_cte",  # pins: no thread releases another's
    ]
    sequential = {
        n: [tuple(r) for r in specs[n].spark(spark, sf_dir).collect()]
        for n in names
    }

    def run(n):
        return n, [tuple(r) for r in specs[n].spark(spark, sf_dir).collect()]

    with ThreadPoolExecutor(max_workers=6) as ex:
        concurrent = dict(ex.map(run, names))
    for n in names:
        assert concurrent[n] == sequential[n], n


def test_xml_datasource_nulls_inference_and_commit(spark, tmp_path):
    """nibbler_xml: NULL = absent element, string-typed inference
    without ddl, and temp files never leak past commit."""
    import os

    from pyspark.sql import functions as F

    from nibbler_spark.sources.xml_datasource import register_xml_source

    register_xml_source(spark)
    d = str(tmp_path / "xmlds")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None), (3, "c", -0.25)],
        "k bigint, s string, v double",
    )
    df.write.format("nibbler_xml").mode("overwrite").option(
        "path", d
    ).save()
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]
    back = (
        spark.read.format("nibbler_xml")
        .option("path", d)
        .option("ddl", "k bigint, s string, v double")
        .load()
        .orderBy("k")
        .collect()
    )
    assert [tuple(r) for r in back] == [
        (1, "a", 1.5),
        (2, None, None),
        (3, "c", -0.25),
    ]
    # inference fallback: all columns arrive as strings
    inferred = (
        spark.read.format("nibbler_xml").option("path", d).load()
    )
    assert all(f.dataType.simpleString() == "string" for f in inferred.schema.fields)
