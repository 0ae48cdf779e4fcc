#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload embedded --seed 1 --seconds 6 --trace 0

Workloads: ``embedded`` (the in-process micro-batcher), ``transport`` (the
Structured Streaming file-drop transport), ``queries`` (registry rows
checked against the DuckDB oracle). Run it from the repository root.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics, which every workload measures;
with ``--trace 1`` the workload is measured three times, untraced, traced
and untraced again, and the metrics are every per-layer metric (those of
layers the workload does not go through read 0 and are listed in the
detail line as ``not_on_this_workload``) plus ``overhead.<metric>``, the
traced value of each timed end-to-end metric minus the mean of the two
untraced values. ``queries`` instead runs each row untraced and traced
back to back, in alternating order, and subtracts the untraced sum. Units
and directions are in ``perfbench/metrics.py``. A line before the result
carries details: failures, tail percentiles with their sample counts. A
traced run also writes its spans to ``.perfbench/traces/``.

Each run works in its own directory under ``.perfbench/runs/`` (temp files,
Spark local dirs, checkpoints) and deletes it at the end; inputs are made
from ``--seed`` and query fixtures are cached per seed under
``.perfbench/fixtures/``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0  # the whole run, set-up included

sys.path.insert(0, HERE)

import common  # noqa: E402
import metrics  # noqa: E402


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    root: str
    run_dir: str
    tmp: str
    max_files_per_trigger: int
    t0: float = T0


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.ALL)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=1,
        help="transport admission: files the file source admits per trigger",
    )
    return ap.parse_args(argv)


def _kill_tree() -> None:
    for pid in common.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _watchdog(run_dir: str) -> threading.Timer:
    """Ends a run that overstays DEADLINE_S: no result line, exit code 3."""

    def fire():
        sys.stderr.write(f"perfbench: run exceeded {DEADLINE_S:.0f}s; aborting\n")
        sys.stderr.flush()
        _kill_tree()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(max(1.0, DEADLINE_S - (time.monotonic() - T0)), fire)
    t.daemon = True
    t.start()
    return t


def _isolate(ctx: Ctx) -> None:
    """Point every temp path of this process and its children at the run dir."""
    os.makedirs(ctx.tmp)
    os.environ["TMPDIR"] = ctx.tmp
    tempfile.tempdir = ctx.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.run_dir, "spark-local")
    # every JVM, the launcher included: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={ctx.tmp} -XX:-UsePerfData"


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "nibbler_spark")):
        sys.stderr.write("perfbench: run from a checkout that holds nibbler_spark/\n")
        return 2
    sys.path.insert(1, ROOT)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    ctx = Ctx(
        args.workload,
        args.seed,
        args.seconds,
        ROOT,
        run_dir,
        os.path.join(run_dir, "tmp"),
        args.max_files_per_trigger,
    )
    _isolate(ctx)
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    dog = _watchdog(run_dir)
    try:
        result = _run(ctx, bool(args.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        dog.cancel()
    print(json.dumps({"detail": result.pop("detail")}, default=str))
    print(json.dumps(result))
    return 0


def _run(ctx: Ctx, traced: bool) -> dict:
    if ctx.workload == "embedded":
        import embedded as mod
    elif ctx.workload == "transport":
        import transport as mod
    else:
        import queries as mod

    state: dict = {}
    try:
        mod.setup(ctx, state)
        tracer = common.Tracer(traced)
        if not traced:
            runs = [mod.measure(ctx, state, tracer)]
            base = runs[0]["e2e"]
        elif hasattr(mod, "measure_paired"):
            runs = list(mod.measure_paired(ctx, state, tracer))
            base = runs[0]["e2e"]
        else:
            # untraced, traced, untraced: the traced pass is compared with
            # the mean of the passes around it, so warming up over the run
            # is not read as tracing cost
            runs = [mod.measure(ctx, state, common.Tracer(False)), mod.measure(ctx, state, tracer)]
            runs.append(mod.measure(ctx, state, common.Tracer(False)))
            base = {k: (v + runs[2]["e2e"][k]) / 2 for k, v in runs[0]["e2e"].items()}
        untraced = runs[0]
        peak = common.tree_peak_rss_mb()
    finally:
        mod.teardown(ctx, state)

    context = {"context.canary_cpu_s": common.canary_cpu_s(), "context.canary_io_s": common.canary_io_s(ctx.tmp)}
    values: dict[str, float] = {}
    if traced:
        t_run = runs[1]
        values.update(untraced["e2e"])  # the unbounded headline metrics
        values.update(state.get("layers", {}))
        values.update(t_run["layers"])
        values.update(context)
        for name, v in base.items():
            values[f"overhead.{name}"] = t_run["e2e"][name] - v
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{ctx.workload}-seed{ctx.seed}.jsonl"))
    else:
        values["setup_s"] = state["setup_s"]
        values["peak_rss_mb"] = peak
        values.update(untraced["e2e"])

    out = {}
    missing = []
    elsewhere = []
    for m in metrics.declared(traced):
        if ctx.workload not in m.workloads:
            # a layer this workload does not go through: no time, no count
            elsewhere.append(m.name)
            out[m.name] = {"value": 0.0, "unit": m.unit}
            continue
        v = values.get(m.name)
        if v is None or not math.isfinite(float(v)):
            missing.append(m.name)
            continue
        out[m.name] = {"value": float(v), "unit": m.unit}
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    problems = [p for r in runs for p in r["problems"]]
    if missing:
        problems.append(f"metrics not measured: {missing}")
    detail = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "traced": traced,
        "problems": problems[:40],
        "not_on_this_workload": elsewhere,
        "context": context,
        **{k: v for r in runs for k, v in r.get("detail", {}).items()},
    }
    return {
        "detail": detail,
        "correct": failed == 0 and not missing,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": out,
    }


if __name__ == "__main__":
    sys.exit(main())
