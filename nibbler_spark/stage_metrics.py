"""Whole-query stage-level metrics via the AppStatusStore.

`tests/test_aqe_scale.py`'s `_executed_plan_metrics` walks SQLMetrics of
the FINAL executed plan — which misses every job a query ran before its
last one (localCheckpoint rounds in label propagation / k-core, IVF
training passes, multi-stage pipelines).  For whole-query shuffle and
spill accounting the driver's AppStatusStore is the right source: it
aggregates per-stage executor metrics across ALL jobs, exactly what the
Spark UI's stage table shows.

`stageList` is reached over py4j with every Scala default made explicit
(py4j cannot fill Scala default args): (statuses, details=False,
withSummaries=False, unsortedQuantiles=Array.empty[Double],
taskStatus=[]).  Verified against pyspark 4.1.

Attribution is by (stageId, attemptId), NOT by before/after totals: the
store evicts beyond spark.ui.retainedStages=1000, so in a long session
evictions between the two snapshots subtract old stages' bytes from a
total-delta and silently understate (or negate) the measurement — the
r5 shuffle audit produced three phantom super-linear flags exactly this
way before the id-based rewrite.  A query's own stages all have ids
minted after the snapshot, so summing only unseen ids is exact as long
as the measured query itself stays within retention (hundreds of
stages at most here).
"""

from __future__ import annotations

from typing import Callable, Dict, Tuple

from pyspark.sql import SparkSession

FIELDS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "memory_spill_bytes",
    "disk_spill_bytes",
    "input_bytes",
    "output_bytes",
)


def _stage_rows(spark: SparkSession) -> Dict[tuple, dict]:
    """All retained stages keyed by (stageId, attemptId) -> FIELDS."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),  # all statuses
        False,  # details
        False,  # withSummaries
        sc._gateway.new_array(jvm.double, 0),  # unsortedQuantiles
        jvm.java.util.ArrayList(),  # taskStatus
    )
    rows: Dict[tuple, dict] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        rows[(s.stageId(), s.attemptId())] = {
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "memory_spill_bytes": s.memoryBytesSpilled(),
            "disk_spill_bytes": s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
            "output_bytes": s.outputBytes(),
        }
    return rows


def measure_stages(spark: SparkSession, fn: Callable[[], object]) -> Tuple[object, dict]:
    """Run `fn` and return (its result, the stage metrics of exactly
    the stages it submitted).  Stages are identified by (stageId,
    attemptId) unseen at the pre-run snapshot, which is immune to the
    store evicting older stages mid-measurement (total-deltas are not)."""
    before = set(_stage_rows(spark))
    result = fn()
    delta = dict.fromkeys(FIELDS, 0)
    n_new = 0
    for key, m in _stage_rows(spark).items():
        if key in before:
            continue
        n_new += 1
        for k in FIELDS:
            delta[k] += m[k]
    retained = int(
        spark.conf.get("spark.ui.retainedStages", "1000") or "1000"
    )
    if n_new >= 0.9 * retained:
        import warnings

        warnings.warn(
            f"measure_stages saw {n_new} new stages with retention "
            f"{retained}: the measured query may have evicted its own "
            "early stages — raise spark.ui.retainedStages",
            RuntimeWarning,
            stacklevel=2,
        )
    return result, delta
