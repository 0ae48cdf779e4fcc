"""Tests for the benchmark's own logic (no JVM is started).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import common  # noqa: E402
import metrics  # noqa: E402
from common import Batch, Step, Tracer  # noqa: E402

# -- seeded inputs -------------------------------------------------------------


def test_same_seed_same_embedded_inputs():
    import embedded

    a, b, c = (embedded._Run(s, 10.0, Tracer(False)) for s in (7, 7, 8))
    assert a.pool == b.pool and a.pool != c.pool
    assert a.items("ladder-items:20000.000", 500) == b.items("ladder-items:20000.000", 500)
    sched = [common.poisson_schedule(common.rng_for(s, "ladder:20000.000"), 20_000, 0.1) for s in (7, 7, 8)]
    assert sched[0] == sched[1] != sched[2]


def test_same_seed_same_transport_schedule():
    import transport

    assert transport.schedule(3, 250, 2.0) == transport.schedule(3, 250, 2.0)
    assert transport.schedule(3, 250, 2.0) != transport.schedule(4, 250, 2.0)
    assert transport.burst_counts(3, 0) == transport.burst_counts(3, 0) != transport.burst_counts(4, 0)


def test_same_seed_same_row_order():
    import queries

    assert queries.row_order(5) == queries.row_order(5)
    assert queries.row_order(5) != queries.row_order(6)
    assert sorted(queries.row_order(5)) == sorted(metrics.EAGER_ROWS + metrics.SQL_ROWS)


def test_same_seed_same_fixtures(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    from tools.gen_scale_data import write_sf

    dirs = []
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        d = tmp_path / name
        write_sf(0.001, str(d), seed=seed)
        dirs.append(d)
    tables = sorted(os.listdir(dirs[0]))
    for t in tables:
        assert pq.read_table(dirs[0] / t).equals(pq.read_table(dirs[1] / t)), t
    assert not all(pq.read_table(dirs[0] / t).equals(pq.read_table(dirs[2] / t)) for t in tables)


# -- percentiles ------------------------------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 1001))  # 1000 samples
    t = common.tail_percentile(xs)
    assert (t.pct, t.value, t.n) == (99.0, 990, 1000)
    assert sum(1 for x in xs if x > t.value) >= 10

    xs = list(range(1, 501))  # 500 samples: p99 would leave 5 beyond
    t = common.tail_percentile(xs)
    assert t.pct == pytest.approx(98.0) and t.n == 500
    assert sum(1 for x in xs if x > t.value) == 10

    t = common.tail_percentile([3.0, 1.0, 2.0])
    assert (t.pct, t.value, t.n) == (50.0, 2.0, 3)


# -- sustainable rate -------------------------------------------------------------


def _points(slope: float, n: int = 40, base: int = 50):
    return [(i * 0.05, int(base + slope * i * 0.05) + (i % 3)) for i in range(n)]


def test_backlog_detector_flat_and_growing():
    assert not common.backlog_growing(_points(0.0), tolerance=20)
    assert common.backlog_growing(_points(1000.0), tolerance=20)
    # a backlog that grew early and then held flat is not growing
    early = [(i * 0.05, min(i, 10) * 30) for i in range(40)]
    assert not common.backlog_growing(early, tolerance=20)


def test_sustainable_rate_rule():
    limit = 100.0
    steps = [
        Step(1_000, 40.0, False, 0),
        Step(2_000, 60.0, False, 0),
        Step(4_000, 160.0, False, 0),
        Step(8_000, 50.0, False, 0),  # a lucky pass above a failure is ignored
    ]
    r = common.sustainable_rate(steps, limit)
    assert 2_000 < r < 4_000
    assert r == pytest.approx(2_000 * 2 ** ((100 - 60) / (160 - 60)))
    # a growing backlog fails a step whose latency still looks fine
    steps[2] = Step(4_000, 90.0, True, 0)
    assert common.sustainable_rate(steps, limit) == 2_000
    steps[2] = Step(4_000, 90.0, False, 3)  # failed items: no interpolation
    assert common.sustainable_rate(steps, limit) == 2_000
    assert common.sustainable_rate([Step(1_000, 500.0, False, 0)], limit) == 0.0


# -- item checker -------------------------------------------------------------------


def _batches(*groups, trigger="BATCH_FULL"):
    return [Batch(float(i), trigger, list(g)) for i, g in enumerate(groups)]


def test_checker_accepts_clean_run_with_injected_drops():
    bs = _batches(range(0, 4), range(4, 8)) + [Batch(2.0, "TICKER", [8, 9])]
    bs[1].dropped = True
    rep = common.check_items(bs, 10, size=4)
    assert (rep.failed, rep.delivered, rep.dropped) == (0, 6, 4)


def test_checker_flags_dropped_item():
    rep = common.check_items(_batches([0, 1, 2, 3], [4, 5, 7, 8]), 9, size=4)
    assert rep.failed == 1 and "missing" in rep.problems[0]
    rep = common.check_items(_batches([0, 1, 2, 3]), 6, size=4)
    assert rep.failed == 2 and "never delivered" in rep.problems[0]


def test_checker_flags_duplicate_and_reordering():
    rep = common.check_items(_batches([0, 1, 2, 3], [3, 4, 5, 6]), 7, size=4)
    assert rep.failed >= 1 and "duplicated" in rep.problems[0]
    rep = common.check_items(_batches([0, 2, 1, 3]), 4, size=4)
    assert rep.failed >= 1


def test_checker_flags_batch_shapes():
    rep = common.check_items(_batches([0, 1, 2, 3, 4]), 5, size=4)
    assert rep.failed == 5 and "BATCH_FULL batch of 5" in rep.problems[0]
    rep = common.check_items(_batches([0, 1, 2, 3], trigger="TICKER"), 4, size=4)
    assert rep.failed == 4 and "TICKER batch of 4" in rep.problems[0]
    rep = common.check_items(_batches([], [0, 1, 2, 3]), 4, size=4)
    assert rep.failed == 1 and "empty batch" in rep.problems[0]


def test_checker_flags_items_beyond_sent():
    rep = common.check_items(_batches([0, 1, 2, 3], [4, 5, 6, 7]), 6, size=4)
    assert rep.failed == 2 and "beyond the 6 sent" in rep.problems[0]


# -- tracing -------------------------------------------------------------------------


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.record("core.close", 0.0, 10.0)
    parent = tr.spans[-1][0]
    tr.record("rebatcher.flush", 2.0, 6.0, parent=parent)
    tr.record("rebatcher.flush", 5.0, 8.0, parent=parent)  # overlaps the first
    st = tr.self_times()
    assert st["core"] == pytest.approx(4.0)
    assert st["rebatcher"] == pytest.approx(7.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("core.send"):
        pass
    tr.record("core.send", 0.0, 1.0)
    assert tr.spans == []


# -- declarations ---------------------------------------------------------------------


def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    e2e, pl = metrics.benchmark_entries()
    assert doc["end_to_end"] == e2e
    assert doc["per_layer"] == pl
    assert [w["name"] for w in doc["workloads"]] == list(metrics.ALL)
    names = [m["name"] for m in e2e + pl]
    assert len(names) == len(set(names))
    assert all(m["bound"] <= 0.25 for m in e2e)


def test_every_per_layer_metric_names_what_it_moves():
    for m in metrics.PER_LAYER:
        assert set(m.moves) <= metrics.HEADLINE, m.name
        if m.name not in metrics.HEADLINE and not m.name.startswith(("context.", "processor.")):
            assert m.moves, m.name
