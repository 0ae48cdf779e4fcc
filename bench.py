#!/usr/bin/env python3
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Headline set mirrors BASELINE.md's measurement plan (BENCH-B1..B4, S1).
Timing = median of N runs (default 3) of full query execution including
collect of the (small) result.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Median of 5 (r3, was 3): the r2 verdict flagged tq18's +18% drift as
# likely sf0.1 sampling noise — the wider sample settles per-query drift.
RUNS = int(os.environ.get("NIBBLER_BENCH_RUNS", "5"))

# Registry names of the headline queries (BASELINE.md plan). Missing names
# are skipped so the bench degrades gracefully mid-build.
# r7 (verdict #6): the bench is split into a FROZEN 22-row anchor set
# (never re-anchored, never retired — one row per plan family; the
# headline regression gate) and a ROTATING section (rows new this
# round or in their second measured round; after ~2 rounds they retire
# to BASELINE.md's retired table — regression coverage continues via
# the 656-query oracle sweep and the scale ladder). This caps the
# median-of-5 run cost instead of letting it compound ~4 rows/round.
FROZEN_ANCHORS = [
    "q1_pricing_summary",  # BENCH-B1 (scan + agg)
    "c01_join_3way_agg",  # BENCH-B2 (3-way join + agg)
    "e01_row_number_topk",  # BENCH-B3 (window rank per group)
    "k06_cosine_topk",  # BENCH-B4 (brute-force vector top-k)
    "i01_tumbling_window_parity",  # BENCH-S2 (streaming drain)
    "tq05_regional_revenue",  # BENCH-B5 (6-table join, broadcast dims)
    "tq18_large_orders",  # BENCH-B7 (agg-then-join)
    "tq21_suppliers_who_kept_waiting",  # BENCH-B8 (exists/not-exists)
    "k05_minhash_lsh",  # BENCH-K1 (MinHash-LSH near-dup end-to-end)
    "ext_sessionize_batch",  # BENCH-K2 (gaps-and-islands sessionization)
    "k04_jaccard_pairs",  # BENCH-K4 (banded exact-Jaccard path)
    "ext_decontaminate_ngram",  # BENCH-K5 (broadcast eval-gram probe)
    "ext_training_data_pipeline",  # BENCH-K7 (end-to-end curation funnel)
    "ext_label_propagation",  # BENCH-K10 (iterative LPA on shingle graph)
    "ext_substring_span_dedup",  # BENCH-K12 (8-gram span-merge dedup)
    "ext_naive_bayes",  # BENCH-K13 (gridded-ln NB train + score)
    "ext_crawl_pipeline",  # BENCH-K14 (crawl-ingestion codec funnel)
    "ext_kcore_decomposition",  # BENCH-K15 (iterative k-core peel)
    "ext_stream_cdc_apply",  # BENCH-K16 (streaming MERGE into snapshots)
    "a41_parquet_raw_reader",  # BENCH-K20 (from-scratch Parquet decode)
    "i42_stream_minhash_neardup",  # BENCH-K24 (streaming LSH dedup state)
    "ext_ann_rerank_pipeline",  # BENCH-K25 (IVF -> MaxSim rerank funnel)
]

# Rows new this round or in their second measured round. Retired rows
# (and every frozen anchor value) are recorded in BASELINE.md.
# r8: K26/K27 retired after their second round; K28/K29 retired (the
# r7 reworks were their re-measure round; regression coverage continues
# via the oracle sweep + the BENCH_SF1 ladder rows).
ROTATING = [
    # r10 rows in their second measured round (retire next).
    # (K36-K38 nsw/hnsw/tokenizer retired r11 after their second
    # round — BASELINE.md retired table.)
    "ext_unicode_fold_dedup",  # BENCH-K39 (NFKC-subset fold + arg_min dedup)
    "i55_stream_ddsketch_union",  # BENCH-K40 (streaming mergeable quantiles)
    "ext_self_consistency_vote",  # BENCH-K41 (9-sample plurality eval)
    # r11 new rows.
    "ext_dedup_cluster_canonical",  # BENCH-K42 (dup graph -> canonical pick)
    "ext_curriculum_schedule",  # BENCH-K43 (rarity ntile curriculum card)
    "ext_quality_distillation",  # BENCH-K44 (teacher->token-weight student)
]

HEADLINE = FROZEN_ANCHORS + ROTATING


def _sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from nibbler_spark.queries import load_all
    from nibbler_spark.session import get_spark

    specs = load_all()
    spark = get_spark(app_name="nibbler-spark-bench")
    # Warm the JVM + parquet footers once.
    from nibbler_spark.sources import load_table

    load_table(spark, SF_DIR, "lineitem").count()

    # Machine-state canary (r7 verdict #4): a fixed pure-compute,
    # single-task whole-stage-codegen kernel — no I/O, no shuffle, no
    # Python — timed median-of-5 after one warm-up.  Every anchor row
    # drifting together with the canary is machine state (thermal /
    # co-tenant load), not a code regression; BASELINE.md documents the
    # canary's clean-machine band so anchor ratios can be normalized by
    # canary_sec / canary_band_mid before reading them as regressions.
    def _canary() -> float:
        return (
            spark.range(150_000_000, numPartitions=1)
            .selectExpr(
                "sum(((id * 2654435761) % 1000003) ^ (id >> 7)) AS s"
            )
            .collect()[0][0]
        )

    _canary()  # warm-up (codegen compile)
    canary_samples = []
    for _ in range(5):
        t0 = time.monotonic()
        _canary()
        canary_samples.append(time.monotonic() - t0)
    canary_sec = round(statistics.median(canary_samples), 4)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = specs.get(name)
        if spec is None:
            continue
        # One untimed warm-up pass: page cache + codegen + broadcast
        # build are amortized in any steady-state deployment, and the
        # timed medians should measure the query, not the first touch
        # of the parquet files.
        spec.spark(spark, SF_DIR).collect()
        samples = []
        for _ in range(RUNS):
            t0 = time.monotonic()
            df = spec.spark(spark, SF_DIR)
            df.collect()
            samples.append(time.monotonic() - t0)
        timings[name] = round(statistics.median(samples), 4)

    # BENCH-K22/K22b (salted vs unsalted zipf skew join) retired with
    # the r7 frozen-anchor split; their measured contrast and the AQE
    # skew-split assertion live on in BASELINE.md and
    # tests/test_aqe_scale.py.

    # TPC-H power run (BENCH-B9): all 22 reduced-schema analogues
    # executed sequentially as ONE timed metric — the classic composite
    # the per-row bench entries don't capture (optimizer consistency
    # across the whole suite, not per-query peaks). Median of RUNS
    # passes after one warm-up sweep.
    tq_names = sorted(n for n in specs if n.startswith("tq"))
    tq_power_queries: dict[str, float] = {}
    if len(tq_names) >= 20:
        for n in tq_names:
            specs[n].spark(spark, SF_DIR).collect()  # warm-up
        samples = []
        # Per-query times inside the SAME timed passes (r8 verdict #6):
        # the composite can hide a single query doubling, so each pass
        # also records per-query wall and the JSON carries the
        # per-query medians as `tq_power_queries` — no extra runs.
        per_q: dict[str, list[float]] = {n: [] for n in tq_names}
        for _ in range(RUNS):
            t0 = time.monotonic()
            for n in tq_names:
                q0 = time.monotonic()
                specs[n].spark(spark, SF_DIR).collect()
                per_q[n].append(time.monotonic() - q0)
            samples.append(time.monotonic() - t0)
        timings["tq_power_22"] = round(statistics.median(samples), 4)
        tq_power_queries = {
            n: round(statistics.median(v), 4) for n, v in per_q.items()
        }

    # Streaming re-batcher throughput (BENCH-S1): items/s through the
    # size-OR-time core at Size=100.  Measured in a FRESH SUBPROCESS
    # (r4 verdict #7): the in-process reading swung 3.06M -> 2.39M
    # across rounds under identical code because the shared interpreter
    # carries the query suite's py4j callback threads and GC debt; a
    # clean interpreter with no JVM attached removes the interference
    # at the source (max-of-3 within the subprocess still guards
    # scheduler blips).
    try:
        import subprocess

        snippet = (
            # 200k items widens each timing window to ~100 ms (20k = ~8 ms
            # was inside CPU-frequency-ramp noise); max-of-5 then reads
            # the unthrottled steady state.
            "import sys; sys.path.insert(0, %r); "
            "from nibbler_spark.streaming.rebatcher import "
            "bench_rebatcher_throughput as b; "
            "print(max(b(n_items=200000, size=100) for _ in range(5)))"
            % _REPO
        )
        out = subprocess.run(
            [sys.executable, "-c", snippet],
            capture_output=True,
            text=True,
            timeout=120,
        )
        if out.returncode == 0:
            timings["s1_rebatcher_items_per_sec"] = round(
                float(out.stdout.strip().splitlines()[-1]), 1
            )
    except (subprocess.TimeoutExpired, ValueError, IndexError):
        pass

    def _sum(names):
        return round(sum(v for k, v in timings.items() if k in names), 4)

    # composite / diagnostic rows stay out of every sum: tq_power_22
    # re-times queries already summed individually, and the unsalted
    # k22 twin is a measured contrast, not a second operator.
    frozen_total = _sum(set(FROZEN_ANCHORS))
    rotating_total = _sum(set(ROTATING))
    total = round(frozen_total + rotating_total, 4)

    # r9 verdict #5: emit the canary-normalization mechanically so a
    # driver-side consumer can apply BASELINE.md's reading rule without
    # the prose. Per-row `ratio` = sec / anchor; `ratio_canary_
    # normalized` = ratio / (canary_sec / CANARY_MID). Band from
    # BASELINE.md (clean idle local[32], measured r8).
    CANARY_BAND = [0.45, 0.55]
    CANARY_MID = 0.50
    try:
        from tools.bench_compare import BASELINE_SEC
    except ImportError:
        BASELINE_SEC = {}
    norm = canary_sec / CANARY_MID if canary_sec > 0 else 1.0
    ratios = {}
    ratios_norm = {}
    for name, sec in timings.items():
        base = BASELINE_SEC.get(name)
        if base and name != "s1_rebatcher_items_per_sec":
            ratios[name] = round(sec / base, 4)
            ratios_norm[name] = round(sec / base / norm, 4)
    # r10 verdict #1: the driver captures only the last ~2000 chars of
    # stdout and parses the FINAL line — at 39 rows the single line
    # carrying all four per-query maps grew past that window and
    # BENCH_r10.json recorded `parsed: null`. The diagnostic maps
    # (ratios / normalized ratios / tq per-query medians) now go on
    # their own EARLIER line and into a sidecar file; the final line
    # keeps the driver-contract keys (metric/value/unit/queries/sf)
    # plus the compact summary fields and stays well under the window.
    detail = {
        "detail": "bench_ratios",
        "ratios": ratios,
        "ratios_canary_normalized": ratios_norm,
        "tq_power_queries": tq_power_queries,
    }
    print(json.dumps(detail))
    try:
        with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    worst_row, worst_ratio = "", 0.0
    if ratios_norm:
        worst_row = max(ratios_norm, key=ratios_norm.get)
        worst_ratio = ratios_norm[worst_row]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "frozen_total": frozen_total,
                "rotating_total": rotating_total,
                "canary_sec": canary_sec,
                "canary_band": CANARY_BAND,
                "canary_mid": CANARY_MID,
                "unit": "sec",
                "queries": timings,
                "worst_ratio_canary_normalized": worst_ratio,
                "worst_row": worst_row,
                "sf": _sf_from_dir(SF_DIR),
            }
        )
    )


if __name__ == "__main__":
    main()
