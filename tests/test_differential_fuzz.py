"""Differential fuzzing as CI: 40 seeded random queries run as
identical SQL on Spark and DuckDB must agree exactly (the SQLancer
recipe, restricted to the engine-exact grammar in
tools/fuzz_differential.py), and one seed of each multi-epoch streaming
family agrees with its DuckDB prefix oracle. A failing seed is a pinned
regression — reproduce with `python tools/fuzz_differential.py`."""

from __future__ import annotations

import random

import pytest

from nibbler_spark.oracle import compare
from tools.fuzz_differential import DSL_FAMILIES, gen_query


def test_forty_random_queries_agree(spark, sf_dir, duck):
    from nibbler_spark.sources import register_temp_views

    register_temp_views(spark, sf_dir)
    bad = []
    for seed in range(40):
        rng = random.Random(97_000 + seed)
        sql = gen_query(rng)
        rep = compare(f"fuzz-{seed}", spark.sql(sql), duck, sql)
        if not rep.ok:
            bad.append((seed, sql, rep.first_diffs[:2]))
    assert not bad, bad


@pytest.mark.parametrize(
    "family,seed",
    [
        # E=4 contiguous doc_id ranges, 2 part files per epoch, sum fold
        ("stream_keyed_fold", 97_007),
        # E=3 range slices, error-typed right side, sum fold
        ("stream_join_then_fold", 97_013),
    ],
)
def test_streaming_family_agrees(family, seed, spark, sf_dir, duck):
    build, sql = DSL_FAMILIES[family](random.Random(seed))
    rep = compare(f"{family}-{seed}", build(spark, sf_dir), duck, sql)
    assert rep.ok, str(rep)


def test_rollup_empty_divergence(spark, sf_dir):
    """Pinned fuzzer FINDING (r4, seeds 8/9): GROUP BY ROLLUP over an
    EMPTY input diverges between the engines — DuckDB emits the
    grand-total row (COUNT 0) for the () grouping set per the SQL
    standard's global-aggregate semantics; Spark's Expand-based plan
    emits no rows at all. The fuzzer grammar guards the shape with
    HAVING COUNT(*) > 0; this test documents the divergence so a
    future Spark behavior change is noticed."""
    import duckdb

    sql = (
        "SELECT COALESCE(CAST(o_orderstatus AS STRING), 'ALL') AS k1, "
        "COUNT(*) AS n FROM orders WHERE 1=0 "
        "GROUP BY ROLLUP(o_orderstatus) ORDER BY k1"
    )
    from nibbler_spark.sources import register_temp_views

    register_temp_views(spark, sf_dir)
    assert spark.sql(sql).collect() == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    assert con.execute(sql).fetchall() == [("ALL", 0)]
