"""Ownership of a registry query's scratch dirs and pinned blocks.

Queries make their temp dirs with ``queries.scratch_dir`` and their
local checkpoints with ``queries.pin``. The registry wrapper keeps a
thread's dirs and pins while the DataFrame its outermost call returned
may still read them, releases them when that thread starts its next
outermost registered call, and removes whatever dirs are left at
interpreter exit. A registered query called inside another joins the
outer call's scope.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import threading
from pathlib import Path

import pytest

import nibbler_spark.queries as registry
from nibbler_spark.oracle import compare
from nibbler_spark.queries import load_all, pin, register, scratch_dir
from nibbler_spark.session import scoped_conf

_REPO = str(Path(__file__).resolve().parent.parent)


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    """A private temp root, so only this test's entries are seen."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _entries(root, name: str) -> list[str]:
    return glob.glob(str(root / f"nibbler-{name}-*"))


def _run(spark, sf_dir, duck, name: str):
    spec = load_all()[name]
    df = spec.spark(spark, sf_dir)
    return lambda: compare(name, df, duck, spec.oracle)


def _pinned(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dirs_live_until_the_next_registry_call(spark, sf_dir, duck, tmp_root):
    check_i04 = _run(spark, sf_dir, duck, "i04_watermark_late_drop_golden")
    assert len(_entries(tmp_root, "i04")) == 1
    report = check_i04()  # the lazy read still finds its files
    assert report.ok, str(report)

    check_ttt = _run(spark, sf_dir, duck, "ext_time_travel_snapshots")
    assert _entries(tmp_root, "i04") == []
    assert len(_entries(tmp_root, "ttt")) == 1
    report = check_ttt()
    assert report.ok, str(report)

    load_all()["q1_pricing_summary"].spark(spark, sf_dir)
    assert _entries(tmp_root, "ttt") == []


def test_nested_call_keeps_the_outer_calls_dirs(
    spark, sf_dir, duck, tmp_root, monkeypatch
):
    """``ext_dedup_keep_best`` composes two registered queries
    (``ext_dedup_clusters``, then ``ext_quality_score``). A dir the outer
    call made before them must survive both nested calls."""
    import nibbler_spark.queries.llm_dedup as llm_dedup

    made: list[str] = []
    clusters = llm_dedup.ext_dedup_clusters

    def clusters_after_a_scratch_dir(spark, sf_dir):
        made.append(scratch_dir("outer"))
        return clusters(spark, sf_dir)

    monkeypatch.setattr(
        llm_dedup, "ext_dedup_clusters", clusters_after_a_scratch_dir
    )
    check = _run(spark, sf_dir, duck, "ext_dedup_keep_best")
    assert len(made) == 1 and os.path.isdir(made[0])
    report = check()
    assert report.ok, str(report)


def test_a_call_on_another_thread_keeps_this_threads_dirs(
    spark, sf_dir, duck, tmp_root
):
    check_i04 = _run(spark, sf_dir, duck, "i04_watermark_late_drop_golden")
    other: list = []
    t = threading.Thread(
        target=lambda: other.append(
            _run(spark, sf_dir, duck, "ext_time_travel_snapshots")()
        )
    )
    t.start()
    t.join()
    assert other and other[0].ok, str(other)
    assert len(_entries(tmp_root, "i04")) == 1
    report = check_i04()
    assert report.ok, str(report)


def test_interpreter_exit_removes_the_last_calls_dirs(sf_dir, tmp_path):
    root = tmp_path / "tmp"
    root.mkdir()
    code = f"""
import glob, tempfile
from nibbler_spark.queries import load_all
from nibbler_spark.session import get_spark

spark = get_spark(app_name="nibbler-scratch-exit", cpus=1,
                  shuffle_partitions=1, driver_memory="1g")
load_all()["ext_time_travel_snapshots"].spark(spark, {sf_dir!r}).collect()
assert glob.glob(tempfile.gettempdir() + "/nibbler-ttt-*")
spark.stop()
"""
    path = [_REPO, os.environ.get("PYTHONPATH", "")]
    env = dict(os.environ, TMPDIR=str(root), PYTHONPATH=os.pathsep.join(path))
    proc = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert glob.glob(str(root / "nibbler-*")) == []


@pytest.mark.parametrize("name", ["sql07_recursive_cte", "k05_minhash_lsh"])
def test_the_next_call_releases_what_a_call_pinned_or_cached(
    spark, sf_dir, duck, name
):
    before = _pinned(spark)
    check = _run(spark, sf_dir, duck, name)
    pinned = _pinned(spark) - before
    assert pinned
    report = check()  # the result still reads its pinned blocks
    assert report.ok, str(report)

    load_all()["q1_pricing_summary"].spark(spark, sf_dir)
    assert not pinned & _pinned(spark)
    assert _cache_is_empty(spark)


def test_nested_call_keeps_the_outer_calls_pins(
    spark, sf_dir, duck, monkeypatch
):
    """A pin the outer ``ext_dedup_keep_best`` made before its two
    nested registered calls must survive both, as must the nested
    ``ext_dedup_clusters`` pins its result reads."""
    import nibbler_spark.queries.llm_dedup as llm_dedup

    made = []
    clusters = llm_dedup.ext_dedup_clusters

    def clusters_after_a_pin(spark, sf_dir):
        made.append(pin(spark.range(3)))
        return clusters(spark, sf_dir)

    monkeypatch.setattr(llm_dedup, "ext_dedup_clusters", clusters_after_a_pin)
    check = _run(spark, sf_dir, duck, "ext_dedup_keep_best")
    assert len(made) == 1 and made[0].count() == 3
    report = check()
    assert report.ok, str(report)


def test_a_call_on_another_thread_keeps_this_threads_pins(
    spark, sf_dir, duck
):
    before = _pinned(spark)
    check = _run(spark, sf_dir, duck, "sql07_recursive_cte")
    mine = _pinned(spark) - before
    reports: list = []

    def two_calls():  # the second releases the first's pins
        for _ in range(2):
            reports.append(_run(spark, sf_dir, duck, "sql07_recursive_cte")())

    t = threading.Thread(target=two_calls)
    t.start()
    t.join()
    assert len(reports) == 2 and all(r.ok for r in reports), str(reports)
    assert mine and mine <= _pinned(spark)
    report = check()
    assert report.ok, str(report)


def test_fuzzer_cases_release_their_dirs_like_registered_calls(
    spark, sf_dir, tmp_root
):
    from tools.fuzz_differential import run

    # run() shares this session; keep its partition count to the run
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        assert run(3, sf_dir, "stream_keyed_fold") == 0
    assert len(_entries(tmp_root, "fold")) <= 1
    assert len(_entries(tmp_root, "fuzzfold")) <= 1


def test_register_rejects_an_unknown_category():
    with pytest.raises(ValueError, match="category"):
        register("never_registered", survey_id="X", category="llm-vectors")
    assert "never_registered" not in registry.REGISTRY


def test_mkdtemp_only_inside_scratch_dir():
    """Source guard: every query temp dir, the fuzzer's included, comes
    from ``scratch_dir``."""
    pkg = Path(registry.__file__).parent
    fuzzer = pkg.parent.parent / "tools" / "fuzz_differential.py"
    hits = []
    for path in [*sorted(pkg.glob("*.py")), fuzzer]:
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "mkdtemp" in line:
                hits.append((path.name, i))
    assert len(hits) == 1
    (name, line_no), = hits
    src = (pkg / name).read_text().splitlines()
    owner = next(
        ln for ln in reversed(src[:line_no]) if ln.startswith("def ")
    )
    assert name == "__init__.py" and owner.startswith("def scratch_dir(")


def test_local_checkpoint_only_inside_pin():
    """Source guard: every local checkpoint in the package and the
    fuzzer is a ``pin``, so a registered call owns its blocks."""
    pkg = Path(registry.__file__).parent.parent
    fuzzer = pkg.parent / "tools" / "fuzz_differential.py"
    owners = set()
    for path in [*sorted(pkg.rglob("*.py")), fuzzer]:
        src = path.read_text().splitlines()
        for i, line in enumerate(src):
            if "localCheckpoint(" in line:
                owner = next(
                    ln for ln in reversed(src[: i + 1]) if ln.startswith("def ")
                )
                owners.add((path.relative_to(pkg.parent).as_posix(), owner))
    assert owners == {
        ("nibbler_spark/queries/__init__.py", "def pin(df: DataFrame) -> DataFrame:")
    }
