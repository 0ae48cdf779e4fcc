#!/usr/bin/env python3
"""Scale-factor ladder for the dedup/graph flagships (r4 verdict #1).

Measures the flagship operators whose 100 TB claims were previously
plan-asserted only, at generated sf0.1 (5,000 docs — distributionally
matched to the real driver sf0.1) and generated sf1 (50,000 docs,
density-matched vocab; see tools/gen_scale_data.py), and records wall
times + the growth ratio into BENCH_SF1.json.

Near-linear gate: a 10x corpus should cost <= ~12x wall time (linear
plus shuffle/log factors).  Queries returning bounded-mode booleans must
stay True at every rung — the sf1 run is a correctness check too.

Candidate-bound exact operators: two flagships are EXACT baselines whose
intrinsic work is the candidate-pair volume, which their own blocking
scheme cannot keep linear on this corpus — `k04_jaccard_pairs` (exact
Jaccard: docs-per-(lang,source,size-band) block grows with n, so
candidates grow ~n^2/blocks) and `ext_simhash_banded_pairs` (its oracle
pins a 16-bit fingerprint space that 50k docs saturate — the hamming<=3
OUTPUT itself grows ~n^2).  For those the ladder measures the candidate
volume at both rungs and gates on wall-time-per-candidate instead of
wall-time-per-input-row, and records the registered SCALE-PATH operator
(`k05_minhash_lsh` / `ext_simhash64_banded_pairs`) that keeps total work
linear at 100 TB.  Both classifications appear explicitly in the output.

Run:  python tools/scale_ladder.py            (~a few minutes)
      python tools/scale_ladder.py k05_minhash_lsh   (subset; merges
      into the existing BENCH_SF1.json instead of clobbering it)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

FLAGSHIPS = [
    # the five the r4 verdict named
    "k05_minhash_lsh",
    "ext_label_propagation",
    "ext_kcore_decomposition",
    "ext_containment_dedup",
    "ext_substring_span_dedup",
    # r5 extension: every other documents-only dedup/training flagship
    "k04_jaccard_pairs",
    "ext_simhash_banded_pairs",
    "ext_simhash64_banded_pairs",
    "ext_paragraph_dedup",
    "ext_minhash_lsh_portable",
    "ext_decontaminate_ngram",
    "ext_sequence_packing",
    "ext_training_data_pipeline",
    # events- and embeddings-based flagships (generator r5 additions)
    "ext_sessionize_batch",
    "ext_behavioral_analytics_pipeline",
    "ext_embedding_neardup",
    "k06_cosine_topk",
    # r6 (verdict #4): the retrieval and streaming flagships join the
    # ladder — the two scale-with-corpus queries that had no sf1 row.
    "i42_stream_minhash_neardup",
    "ext_ann_rerank_pipeline",
    # r6 (verdict #1 follow-through): the reworked day-grain rollup —
    # 10x denser events over the same 30-day span; the merge cost is
    # per-partition aggregate state, so wall time should be far
    # sub-linear in row count.
    "ext_incremental_rollup",
    # r6 session 2: the new tokenizer/selection/streaming flagships —
    # unigram segmentation is vocab-bound after the one word-table
    # shuffle, DSIR is fixed-feature-space scoring, and the online
    # packer's state is one long per language.
    "ext_unigram_lm_segmentation",
    "ext_dsir_importance_weights",
    "i43_stream_grouped_packing",
    # r6 session 3: the prefix-doubling suffix array — the suffix table
    # is 48x docs and every doubling round is window + dense-rank +
    # keyed join, so wall time should track n log-ish; the top-30 LCP
    # output is constant-size.
    "ext_suffix_array_lcp",
    # r6 session 3, second half: held-out LM scoring (two corpus scans
    # + vocab-scale keyed joins), greedy coverage (5 anti-join rounds
    # over the distinct-shingle table), online drift (fixed
    # 1024-bucket state; cost is the token->bucket map per epoch).
    "ext_kn_heldout_perplexity",
    "ext_submodular_coverage",
    "i46_stream_kl_drift",
    # r7 (verdict #3): the r6s3 llm-vectors quartet + SymSpell.
    # kmeans++ is 4 rounds of broadcast-center distance passes
    # (linear per round); silhouette probes a FIXED ~64-row set
    # against the corpus (linear); symspell's delete-1 blocking is
    # corpus-vocab-bound. medoid and margin mining are measured
    # per-candidate below.
    "ext_kmeanspp_seeding",
    "ext_silhouette_sampled",
    "ext_symspell_typo_recovery",
    "ext_medoid_exemplars",
    "ext_margin_pair_mining",
    # r7 additions: the corpus-scaling new operators — glove's pair
    # stream is head-filtered before the exchange, SGNS is row-local
    # pairs + a bucketed interval join, span corruption is one map +
    # one aggregate, the online funnel's state is O(users), and the
    # online CMS / bottom-k sketches hold O(1) state.
    "ext_glove_cooccurrence",
    "ext_skipgram_negative_sampling",
    "ext_span_corruption_prep",
    "ext_window_funnel",
    "i49_stream_window_funnel",
    "i47_stream_countmin",
    # r7 batch 5: the self-referential pruning loop (3 rounds of
    # corpus-scale scoring against a shrinking kept list) and the two
    # remaining O(1)-state online monitors.
    "ext_iterative_quality_pruning",
    "i48_stream_bottomk_kmv",
    "i50_stream_length_moments",
    # r8 additions: apportionment and FIM are one aggregate / one
    # row-local map; token-budget is two Blelloch passes; prefix-cache
    # is one first-token-partitioned window; BQ recall and the
    # embedding JSD are bounded-probe x corpus row-local scans; the
    # two online ops hold O(1) keyed state (16 summary entries + 64
    # cells) regardless of corpus.
    "ext_mixture_apportionment",
    "ext_fim_transform",
    "ext_token_budget_threshold",
    "ext_prefix_cache_analysis",
    "ext_binary_embedding_recall",
    "ext_embedding_distribution_divergence",
    "i51_stream_spacesaving",
    "i52_stream_decayed_counts",
    # r8 wave 2: the LSH tuning sweep (one signature pass + four band
    # equi-joins whose candidate counts ARE the output) and the
    # off-policy IPS estimator (one combinable aggregate into
    # segments x actions cells).
    "ext_lsh_parameter_sweep",
    "ext_offpolicy_ips_eval",
    # r8 wave 3: successive halving is one per-arm window rank +
    # four prefix-bounded aggregates; the scaling curve is one
    # combinable token-count shuffle + a vocab-keyed join.
    "ext_successive_halving",
    "ext_lm_scaling_curve",
    # r8 wave 4: graph-ANN — candidate-bound (see CANDIDATE_BOUND).
    # r9: NN-descent build rework (linear candidate volume), plus the
    # layered HNSW descent on the same shared build.
    "ext_nsw_greedy_search",
    "ext_hnsw_layered_search",
    # r8 wave 5: UL2 masks are row-local; Hill is one token count +
    # per-lang top-21; truncation is one combinable 3x-langs aggregate.
    "ext_ul2_denoiser_mix",
    "ext_tail_index_hill",
    "ext_truncation_loss_accounting",
    # r9 wave: tokenizer round-trip (vocabulary-scale), SRP cosine LSH
    # (banded equi-join + bounded-probe exact side), preference pairs
    # (per-group windows, bounded fan-out), policy replay (one
    # combinable scan), rendezvous sharding (row-local HRW folds),
    # speculative acceptance (two n-gram count shuffles), streaming
    # HLL (64-key state, corpus-independent).
    "ext_tokenizer_roundtrip",
    "ext_srp_hyperplane_lsh",
    "ext_preference_pair_mining",
    "ext_policy_replay_eval",
    "ext_rendezvous_sharding",
    "ext_speculative_acceptance",
    "i53_stream_hll_union",
    # r9 wave 2: CDC chunking (corpus-char explode + doc-partitioned
    # LAG + chunk-scale dedup shuffle), WP vocab curve (one corpus
    # count, 4 vocabulary-scale segmentations).
    "ext_cdc_chunk_dedup",
    "ext_wordpiece_vocab_curve",
    # r9 wave 3: eval aggregations (combinable counts + bounded
    # fan-outs) and the chained join->fold streaming composition
    # (per-epoch floor dominates — 1.08x for 10x data).
    "ext_pass_at_k",
    "ext_best_of_n_gain",
    "i54_stream_join_fold_compose",
    # batched Elo: one LEAD window + 4 epochs of broadcast-rating
    # joins and combinable per-player aggregates.
    "ext_elo_arena_ratings",
    # watermark detection: one row-local scan + a 5-row aggregate.
    "ext_text_watermark_detect",
    # temperature curve: one vocab count + 3 combinable aggregates.
    "ext_sampling_temperature_curve",
    # VAD: two partition-local Arrow stages + doc-partitioned islands.
    "ext_audio_vad_segments",
    # Spearman: two lang-partitioned rank windows + one moment agg.
    "ext_spearman_rho",
]
GATE_RATIO = 12.0  # 10x data -> <= 12x wall (near-linear)
# candidate-bound gate: wall time may grow at most this much faster than
# the measured candidate-pair volume (constant per-candidate cost).
GATE_PER_WORK = 1.5
# candidate-GROWTH gate (r7 verdict #3): per-candidate cost alone let a
# 100x-candidate row pass silently.  Candidate volume may grow at most
# ~n^1.6 in corpus size (sqrt-blocked funnels are n^1.5; the margin
# allows assignment skew) — UNLESS the row names a scale_path that is a
# DIFFERENT registered query whose own ladder row is near-linear (a
# genuinely substitutable linear-work alternative, e.g. k04's exact
# Jaccard -> k05's MinHash-LSH).
GATE_CAND_EXP = 1.6
RUNG_FACTOR = 10.0  # sf0.1 -> sf1 corpus growth
# Boolean OUTPUT columns that are data, not bounded-mode assertions
# (the ladder's all-True check would read a legitimate False coin as a
# failed bound).
BOOL_DATA_COLS = {
    "ext_fim_transform": {"fim"},
    "ext_successive_halving": {"survived"},
    "ext_nsw_greedy_search": {"found_in_top10"},
}


def _k04_candidate_pairs(spark, sf_dir: str) -> int:
    """Candidate-pair volume of k04's (lang, source, size-band) blocking:
    the number of pairs the equi-join materializes BEFORE the J >= 0.8
    filter.  Replicates the query's own blocking exactly (llm_dedup.py
    k04_jaccard_pairs)."""
    from pyspark.sql import functions as F

    from nibbler_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    sz = F.size(F.array_distinct(F.split("text", " ")))
    t = d.select("doc_id", "lang", "source", sz.alias("sz"))

    def band_of(c):
        return F.floor(F.log(c.cast("double")) / F.log(F.lit(1.25))).cast(
            "int"
        )

    build = t.withColumn("band", band_of(F.col("sz")))
    lo = F.floor((4 * F.col("sz") + 4) / 5).cast("int")
    hi = F.floor(5 * F.col("sz") / 4).cast("int")
    probe = t.withColumn(
        "pband", F.explode(F.sequence(band_of(lo), band_of(hi)))
    )
    return (
        probe.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.pband") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )


def _simhash16_candidate_pairs(spark, sf_dir: str) -> int:
    """Candidate-pair volume of the 16-bit simhash band join: sum of
    C(n,2) over (band_id, band_val) buckets — what the equi-join emits
    before dedup + the hamming filter."""
    from pyspark.sql import functions as F

    from nibbler_spark.queries.llm_dedup import (
        simhash_band_pairs,
        simhash_fingerprints,
    )

    sims = simhash_fingerprints(spark, sf_dir, 16, "simhash16")
    bands, _ = simhash_band_pairs(sims, "simhash16", nbands=4, band_bits=4)
    g = bands.groupBy("band_id", "band_val").count()
    row = g.agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs")
    ).collect()[0]
    return int(row["pairs"] or 0)


def _ann_coarse_pairs(spark, sf_dir: str) -> float:
    """PER-QUERY coarse-stage scored-pair volume of
    ext_ann_rerank_pipeline: average over queries of the doc count in
    its 2 probed IVF cells — the quantity the funnel's per-query cost
    is proportional to.  Recorded per query (candidate_unit
    "pairs-per-query") because the rung's query set is sampled FROM
    the corpus (vec_id % 97), so the TOTAL volume conflates workload
    growth with per-query cost and would read as a fake n^2; a fixed
    production workload sees the per-query number, which must stay
    ~linear in the corpus (probed 2/10 of it) — that is what
    GATE_CAND_EXP now pins, while ratio_per_candidate still normalizes
    the wall ratio by this same per-query volume."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nibbler_spark.queries.llm_vectors import cosine
    from nibbler_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label", "pos",
        F.floor(F.col("val").cast("double") * F.lit(1e10)).alias("v"),
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(
            ((F.sum("v").cast("double") / F.lit(1e10)) / F.count("v")).alias(
                "c"
            )
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    q = e.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    w_probe = Window.partitionBy("qid").orderBy(
        F.col("csim").desc(), F.col("label")
    )
    probe = (
        cent.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "label",
            cosine(F.col("centroid"), F.col("qe")).alias("csim"),
        )
        .withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= 2)
        .select("qid", "label")
    )
    n_queries = q.count()
    total = (
        e.where(F.col("vec_id") % 97 != 0)
        .select("label")
        .join(F.broadcast(probe), "label")
        .count()
    )
    return total / max(n_queries, 1)


def _nsw_graph_pairs(spark, sf_dir: str) -> int:
    """Candidate volume of the NSW graph build — since the r9
    NN-descent rework (r8 verdict #2), the SEED pairs plus each
    descent round's scored pairs, ~O(n) by construction (was the
    within-cell all-pairs n^1.5)."""
    from nibbler_spark.queries.retrieval import nsw_build_candidate_volume

    return nsw_build_candidate_volume(spark, sf_dir)


def _margin_candidates(spark, sf_dir: str) -> int:
    """Candidate volume of the margin-mining IVF funnel: the cell
    equi-join's output rows (nprobe=2 of ceil(sqrt(|B|)) hash-seeded
    cells — the cell count is COUNT-DERIVED per the r7 verdict, so
    candidates grow ~2|A|*sqrt(|B|) = n^1.5, within GATE_CAND_EXP)."""
    from nibbler_spark.queries.llm_vectors import margin_candidate_frame

    return margin_candidate_frame(spark, sf_dir).count()


# name -> (scale-path query name, candidate-volume measurer, unit)
# ext_medoid_exemplars left this table in r8: its probe-sample rework
# (r7 verdict #1) made the work O(n * 64), so it is gated as a plain
# near-linear row like silhouette.
CANDIDATE_BOUND = {
    "k04_jaccard_pairs": ("k05_minhash_lsh", _k04_candidate_pairs, "pairs"),
    "ext_simhash_banded_pairs": (
        "ext_simhash64_banded_pairs",
        _simhash16_candidate_pairs,
        "pairs",
    ),
    # Per-query volume (see _ann_coarse_pairs): the rung's query set
    # grows with the corpus by construction, so the per-query number
    # is the honest unit — it must stay ~linear (probed 2/10 of the
    # corpus), which GATE_CAND_EXP pins directly.
    "ext_ann_rerank_pipeline": (
        "ext_ann_rerank_pipeline",
        _ann_coarse_pairs,
        "pairs-per-query",
    ),
    # r7 verdict #2 fix: the funnel's codebook is now ceil(sqrt(|B|))
    # cells, so candidate growth is ~n^1.5 — gated by GATE_CAND_EXP.
    "ext_margin_pair_mining": (
        "ext_margin_pair_mining",
        _margin_candidates,
        "pairs",
    ),
    # r8 wave 4: the NSW graph build is within-cell all-pairs over
    # count-derived sqrt(n) cells — n^1.5 by construction, gated by
    # GATE_CAND_EXP like margin mining.
    "ext_nsw_greedy_search": (
        "ext_nsw_greedy_search",
        _nsw_graph_pairs,
        "pairs",
    ),
}


def finalize_candidate_gates(queries: dict) -> None:
    """Apply the candidate-GROWTH gate (r7 verdict #3) across the full
    merged row set: a candidate-bound row is near-linear only if its
    per-candidate wall cost is bounded (GATE_PER_WORK) AND its
    candidate volume grows at most ~n^GATE_CAND_EXP — or it names a
    scale_path that is a DIFFERENT query whose own row is genuinely
    near-linear.  Runs over previously-recorded rows too (exponent is
    derived from the stored candidate_ratio), so a subset re-run
    cannot leave a stale row un-gated."""
    import math

    for name, e in queries.items():
        if e.get("scale_class") != "candidate-bound-exact":
            continue
        exp = math.log(max(e["candidate_ratio"], 1e-9)) / math.log(
            RUNG_FACTOR
        )
        e["candidate_exponent"] = round(exp, 2)
        sp = e.get("scale_path")
        path_row = queries.get(sp, {})
        # The waiver is SELF-ENFORCING (r8 verdict #3): a row that
        # exceeds the growth gate passes ONLY via a scale_path that is
        # (a) a different query, (b) present in the merged row set, and
        # (c) itself measured near-linear.  A missing or regressed
        # target makes the waiving row FAIL the ladder — a dangling
        # waiver cannot pass silently.  scale_path_ok records the
        # waiver's own health for diagnosis even when not needed.
        e["scale_path_ok"] = bool(
            sp != name
            and path_row.get("scale_class") == "near-linear"
            and path_row.get("near_linear") is True
        )
        e["candidate_growth_ok"] = (
            exp <= GATE_CAND_EXP or e["scale_path_ok"]
        )
        e["near_linear"] = (
            e["ratio_per_candidate"] <= GATE_PER_WORK
            and e["candidate_growth_ok"]
        )


def _ensure_data() -> tuple[str, str]:
    from tools.gen_scale_data import write_sf

    base = os.path.join(_REPO, ".scale_data")
    small = os.path.join(base, "sf0.1")
    big = os.path.join(base, "sf1")
    for sf, d in ((0.1, small), (1.0, big)):
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            write_sf(sf, d)
    return small, big


def main() -> None:
    names = sys.argv[1:] or FLAGSHIPS
    small, big = _ensure_data()

    from nibbler_spark.queries import load_all
    from nibbler_spark.session import get_spark

    specs = load_all()
    spark = get_spark(app_name="nibbler-scale-ladder")

    from nibbler_spark.stage_metrics import measure_stages

    out: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        spec.spark(spark, small).collect()  # JVM/codegen warm-up, untimed
        t_small = []
        for _ in range(2):
            t0 = time.monotonic()
            rows_small = spec.spark(spark, small).collect()
            t_small.append(time.monotonic() - t0)
        t0 = time.monotonic()
        rows_small, m_small = measure_stages(
            spark, lambda: spec.spark(spark, small).collect()
        )
        t_small.append(time.monotonic() - t0)
        ts = statistics.median(t_small)
        # r10: warm the BIG rung too (it was timed cold while the small
        # rung got an untimed warm-up — an asymmetry that inflated
        # ratios with page-cache/codegen noise, and turned into a 31x
        # phantom for operators with a persisted index build, where the
        # cold big rung paid the one-time build the warm small rung
        # didn't). Both rungs now measure the steady state, matching
        # bench.py's convention.
        spec.spark(spark, big).collect()
        t0 = time.monotonic()
        rows_big, m_big = measure_stages(
            spark, lambda: spec.spark(spark, big).collect()
        )
        tb = time.monotonic() - t0
        # bounded-mode queries return booleans — they must hold at sf1.
        # Columns listed in BOOL_DATA_COLS are DATA (e.g. the FIM coin),
        # not assertions, and are excluded from the all-True check.
        skip_bools = BOOL_DATA_COLS.get(name, set())
        bools = [
            v
            for r in rows_big
            for c, v in r.asDict().items()
            if isinstance(v, bool) and c not in skip_bools
        ]
        ratio = tb / ts
        sw_small = m_small["shuffle_write_bytes"]
        sw_big = m_big["shuffle_write_bytes"]
        entry = {
            "t_sf0.1_sec": round(ts, 3),
            "t_sf1_sec": round(tb, 3),
            "ratio": round(ratio, 2),
            "rows_sf0.1": len(rows_small),
            "rows_sf1": len(rows_big),
            "bounded_checks_sf1": all(bools) if bools else None,
            # whole-query stage accounting (every job incl. checkpoint
            # rounds — nibbler_spark/stage_metrics.py): the 100 TB cost
            # driver is shuffle volume, and it must grow with the data,
            # not with the square of it; any DISK spill at this scale
            # means partition sizing is wrong.
            "shuffle_write_mb_sf0.1": round(sw_small / 1e6, 2),
            "shuffle_write_mb_sf1": round(sw_big / 1e6, 2),
            "shuffle_ratio": round(sw_big / sw_small, 2) if sw_small else None,
            "disk_spill_bytes_sf1": m_big["disk_spill_bytes"],
        }
        if name in CANDIDATE_BOUND:
            scale_path, measurer, unit = CANDIDATE_BOUND[name]
            w_small = measurer(spark, small)
            w_big = measurer(spark, big)
            work_ratio = w_big / max(w_small, 1)
            per_work = ratio / work_ratio
            entry.update(
                {
                    "scale_class": "candidate-bound-exact",
                    "scale_path": scale_path,
                    "candidate_unit": unit,
                    "candidates_sf0.1": round(w_small, 2),
                    "candidates_sf1": round(w_big, 2),
                    "candidate_ratio": round(work_ratio, 2),
                    "ratio_per_candidate": round(per_work, 3),
                    # near_linear is finalized AFTER the merge by
                    # finalize_candidate_gates (needs the scale-path
                    # row, which may come from a previous run)
                }
            )
        else:
            entry.update(
                {"scale_class": "near-linear", "near_linear": ratio <= GATE_RATIO}
            )
        out[name] = entry
        print(f"{name}: {ts:.2f}s -> {tb:.2f}s  ratio {ratio:.2f}x", flush=True)

    path = os.path.join(_REPO, "BENCH_SF1.json")
    if os.path.exists(path) and (sys.argv[1:] or []):
        # subset run: merge into the existing ladder instead of clobbering
        with open(path) as f:
            prev = json.load(f).get("queries", {})
        prev.update(out)
        out = prev

    finalize_candidate_gates(out)

    result = {
        "sf_small": 0.1,
        "sf_big": 1.0,
        "docs_small": 5000,
        "docs_big": 50000,
        "gate_ratio": GATE_RATIO,
        "gate_per_candidate": GATE_PER_WORK,
        "gate_candidate_exponent": GATE_CAND_EXP,
        "generator": "tools/gen_scale_data.py (seed 42, density-matched vocab)",
        "queries": out,
        "all_near_linear": all(e["near_linear"] for e in out.values()),
        "all_bounded_ok": all(
            e["bounded_checks_sf1"] in (True, None) for e in out.values()
        ),
        "all_no_disk_spill": all(
            e.get("disk_spill_bytes_sf1", 0) == 0 for e in out.values()
        ),
    }
    with open(path, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(json.dumps({k: v for k, v in result.items() if k != "queries"}))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
