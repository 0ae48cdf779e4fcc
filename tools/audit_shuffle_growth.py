#!/usr/bin/env python3
"""Shuffle-growth audit across the corpus-table query surface.

The r5 ladder's whole-query stage accounting (stage_metrics.py) caught
`ext_embedding_neardup`'s 12-bit LSH bands saturating at 50k vectors — a
quadratic candidate term invisible to plan-shape tests and to wall-time
at fixture scale.  This tool hunts for any OTHER latent quadratic the
same way, systematically: for every registered batch query in the
corpus-table categories (documents / events / embeddings — the tables
`tools/gen_scale_data.py` can regenerate at any size), run it at two
generated rungs (2,000 and 8,000 docs, a 4x corpus) and compute the
growth exponent of the whole-query shuffle-write volume.

exponent = log(bytes_big / bytes_small) / log(4)

Reading: ~1 is linear, <1 sub-linear (df-caps and dedup doing their
job), >1.5 flags a candidate-volume or output blow-up worth a docstring
or a scale-path operator (k04 / simhash16 are the two KNOWN candidate-
bound exact baselines — they appear here as expected hits, classified in
BENCH_SF1.json).  Shuffle BYTES are deterministic modulo compression
jitter, so this audit is safe to run on a busy machine (unlike wall
time).

Usage: python tools/audit_shuffle_growth.py [category ...]
Writes SHUFFLE_AUDIT.json and prints one line per query.
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

CATEGORIES = [
    "llm-dedup",
    "llm-vector",
    "llm-text",
    "llm-training-prep",
    "llm-retrieval",
    "event-analytics",
    "ml-exact",
    "sketch",
    # r5 extension: the remaining corpus-table-capable categories
    # (TPC-H-only and streaming-sink queries inside them skip cleanly)
    "scale-pattern",
    "composite",
    "multimodal",
    # r11 (verdict #2): the rungs now carry the TPC-H tables, so the
    # warehouse families are measurable too
    "tpch",
    "relational",
    "sql-surface",
    "aggregation",
    "join",
    "projection",
    "window",
    "filter",
    "setop",
    "sort",
    "scalar",
    "udf",
    "flagship",
    "lakehouse",
]
N_SMALL, N_BIG = 2_000, 8_000
FLAG_EXP = 1.5
# a flag must be MATERIAL: below ~1 MiB at the big rung the "growth"
# is fixed per-stage overhead (tiny aggregates, metadata), not a
# candidate-volume term — ext_phrase_search's 701 B -> 5.8 KiB posting
# intersection "exp 1.53" is the canonical false positive
MIN_BYTES_BIG = 1 << 20

# known candidate-bound exact baselines (classified in BENCH_SF1.json);
# still measured, but a >FLAG_EXP exponent is expected, not a finding.
# r10 (verdict #3): the dbscan pair LEFT this set.  The exact neighbor
# graph of a dense cluster is Theta(|cluster|^2) edges, but the JOB no
# longer materializes it: _dbscan_capped's dense-sub-cell clique
# certificates collapse within-cell and certified cross-cell pair work
# to per-cell mins (identical output, oracles unchanged), and the
# measured byte exponents dropped 1.97 -> 0.89 (grid) / 0.85
# (adaptive) at these rungs.
# r10 verdict #4: the waiver is MACHINE-READABLE — each entry maps to
# the recorded classification string so the per-row record and the
# flag list can never disagree (the r10 file carried a stale
# `flagged: [hnsw, nsw]` against per-row `flag: false`).
EXPECTED_SUPERLINEAR = {
    "k04_jaccard_pairs": "expected-candidate-bound (exact-Jaccard "
    "banded baseline; classified in BENCH_SF1.json)",
    "ext_simhash_banded_pairs": "expected-candidate-bound (pigeonhole "
    "band verify volume; classified in BENCH_SF1.json)",
    # r9: the NSW build is NN-descent (seed + capped-reverse NoN
    # rounds).  Its machine-independent units are LINEAR at these very
    # rungs — build candidates 34,894 -> 147,404 = exp 1.04, final
    # edges 3,556 -> 13,632 = exp 0.97 (nsw_build_candidate_volume /
    # nsw_descent_edges, measured r9) — but the BYTE exponent reads
    # 1.58/1.67 because the 2k rung's ~1.1-1.3 MB shuffle sits at the
    # compression/per-stage-overhead floor (the same artifact the r8
    # audit classified for the old build at 2.26).  The sf0.1->sf1
    # ladder (BENCH_SF1.json) shows shuffle ratios 1.0x/1.46x at 10x
    # data, refuting the superlinear reading.  Expected, not a
    # finding; the ladder gates the candidate exponent at 1.35.
    "ext_nsw_greedy_search": "linear-at-sf-rung (candidate exp 1.04, "
    "edges exp 0.97; byte exp is the small-rung compression floor)",
    "ext_hnsw_layered_search": "linear-at-sf-rung (shared NN-descent "
    "layer 0; sf1 shuffle ratio 1.0-1.46x at 10x data)",
    # r11: surfaced by the audit's category expansion. The C9 surveyed
    # behavior is the full mixed equi+theta join RESULT (the oracle
    # compares every pair), whose cardinality is Theta(per-nation
    # |supplier| x |customer|) by declaration — the shuffle carries
    # exactly the output rows. Bounding it (top-k per supplier,
    # aggregation) would change the declared operator; a 100 TB user
    # caps theta-join OUTPUT at the query level, not the engine level.
    "c09_theta_join": "output-bound (declared full theta-join result "
    "is quadratic in per-key group sizes; shuffle == output rows)",
}


def main() -> None:
    args = sys.argv[1:]

    from tools.gen_scale_data import write_sf

    base = os.path.join(_REPO, ".scale_data")
    small = os.path.join(base, f"n{N_SMALL}")
    big = os.path.join(base, f"n{N_BIG}")
    for n, d in ((N_SMALL, small), (N_BIG, big)):
        # lineitem.parquet is the newest table the rungs carry (r10
        # verdict #2 added the TPC-H set) — its absence means a stale
        # pre-r11 rung directory that must be regenerated in full.
        if not os.path.exists(os.path.join(d, "lineitem.parquet")):
            write_sf(n / 50_000, d)

    from nibbler_spark.queries import load_all
    from nibbler_spark.session import get_spark
    from nibbler_spark.stage_metrics import measure_stages

    specs = load_all()
    # args may be categories OR registry names: a name arg audits just
    # that query and MERGES into the existing SHUFFLE_AUDIT.json (the
    # scale_ladder subset convention) instead of clobbering the sweep.
    names = {a for a in args if a in specs}
    arg_cats = {a for a in args if a not in specs}
    # ANY explicit arg (names or categories) merges into the existing
    # record; only a bare run rebuilds the whole file (r11: category
    # back-fills must not clobber the sweep)
    subset = bool(args)
    cats = sorted(arg_cats) if subset else CATEGORIES
    spark = get_spark(app_name="nibbler-shuffle-audit")

    out: dict[str, dict] = {}
    flagged: list[str] = []
    skipped: list[str] = []
    for name in sorted(specs):
        spec = specs[name]
        if name not in names and spec.category not in cats:
            continue
        try:
            vols = []
            for d in (small, big):
                _, m = measure_stages(
                    spark, lambda: spec.spark(spark, d).collect()
                )
                vols.append(m["shuffle_write_bytes"])
            if vols[0] <= 0 or vols[1] <= 0:
                # broadcast/scan-only at this scale — recorded as an
                # explicit classification, not a null (r10 verdict #4)
                out[name] = {
                    "bytes_small": vols[0],
                    "bytes_big": vols[1],
                    "exponent": None,
                    "flag": False,
                    "classified": "no-shuffle (broadcast/scan-only "
                    "plan at these rungs)",
                }
                print(f"{name}: no shuffle ({vols[0]} -> {vols[1]} B)")
                continue
            e = math.log(vols[1] / vols[0]) / math.log(N_BIG / N_SMALL)
            flag = (
                e > FLAG_EXP
                and vols[1] >= MIN_BYTES_BIG
                and name not in EXPECTED_SUPERLINEAR
            )
            out[name] = {
                "bytes_small": vols[0],
                "bytes_big": vols[1],
                "exponent": round(e, 3),
                "flag": flag,
            }
            if name in EXPECTED_SUPERLINEAR and e > FLAG_EXP:
                out[name]["classified"] = EXPECTED_SUPERLINEAR[name]
            tag = "  << FLAG" if flag else (
                "  (classified waiver)"
                if name in EXPECTED_SUPERLINEAR and e > FLAG_EXP
                else ""
            )
            print(
                f"{name}: {vols[0]} -> {vols[1]} B  exp {e:.2f}{tag}",
                flush=True,
            )
            if flag:
                flagged.append(name)
        except Exception as exc:
            # queries needing TPC-H tables / streaming sinks at these
            # rungs — out of audit scope, recorded honestly
            skipped.append(name)
            out[name] = {"skipped": str(exc).split("\n")[0][:160]}
            print(f"{name}: SKIP ({type(exc).__name__})", flush=True)

    path = os.path.join(_REPO, "SHUFFLE_AUDIT.json")
    if subset and os.path.exists(path):
        with open(path) as f:
            result = json.load(f)
        result["queries"].update(out)
        # recompute the flag list FROM the rows (r10 verdict #4: the
        # old union kept names whose per-row flag had since cleared)
        result["flagged"] = sorted(
            n for n, r in result["queries"].items() if r.get("flag")
        )
        result["skipped_count"] = sum(
            1 for r in result["queries"].values() if "skipped" in r
        )
    else:
        result = {
            "rungs": [N_SMALL, N_BIG],
            "flag_exponent": FLAG_EXP,
            "categories": cats,
            "queries": out,
            "flagged": flagged,
            "skipped_count": len(skipped),
        }
    with open(path, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(f"\nflagged: {flagged}\nskipped: {len(skipped)}\nwrote {path}")


if __name__ == "__main__":
    main()
