"""Seeded, oracle-checked benchmark of the h3_rs_spark engine.

    python3 perfbench/run.py --workload pip_scan --seed 1 --seconds 20 --trace 0

Runs one closed-loop workload for --seconds after its set-up, checks
every call's output against an oracle and prints, as the last stdout
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). Earlier stdout lines carry the run's stamp
and a full report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import env  # noqa: E402  (must configure the environment before numpy loads)

MIN_UNITS = 2  # per mode, even when one unit outlasts --seconds


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


FAILED = object()


def _attempt(what: str, fn):
    """fn()'s result, or FAILED (logged) if it raises. For a check,
    raising means the output differs from the oracle."""
    from workloads import CheckFailed

    try:
        return fn()
    except CheckFailed as exc:
        log(f"CHECK FAILED: {exc}")
    except Exception:  # a failed call is counted and the loop goes on
        log(f"CALL FAILED: {what}\n{traceback.format_exc()}")
    return FAILED


def _measure(wl, tracer, seconds: float, trace: bool):
    """Closed loop over units until `seconds` have passed and at least
    MIN_UNITS ran in each mode. Every operation call counts as attempted;
    a unit whose calls all passed their checks is timed. With `trace`,
    units alternate untraced and traced as U T T U (unit i is traced when
    i % 4 is 1 or 2), so both modes see the same warm-up window and both
    of pip_scan's polygon sets. Returns ({traced: [(call id, rows)]},
    attempted, failed)."""
    done = {False: [], True: []}
    attempted = failed = 0
    min_units = 2 * MIN_UNITS if trace else MIN_UNITS
    deadline = time.perf_counter() + seconds
    i = 0
    while i < min_units or time.perf_counter() < deadline:
        tracer.enabled = trace and i % 4 in (1, 2)
        rows, ok = 0, True
        for op, fn in wl.ops(i):
            attempted += 1
            what = f"{wl.name} {op} call {i} (seed {wl.seed})"
            out = _attempt(what, fn)
            if out is not FAILED and _attempt(what, out[1]) is not FAILED:
                rows += out[0]
            else:
                failed, ok = failed + 1, False
        if ok:
            done[tracer.enabled].append((f"c{i}", rows))
        i += 1
    tracer.enabled = False
    return done, attempted, failed


WORKLOAD_NAMES = ("pip_scan", "interactive_ops")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run(args) -> int:
    if args.workload not in WORKLOAD_NAMES:
        log(f"unknown workload {args.workload!r}; one of {WORKLOAD_NAMES}")
        return 2
    run_dir = env.WORK / f"{args.workload}-{os.getpid()}"
    try:
        env.configure(run_dir)
        env.refuse_stray_jvm()
    except env.SetupError as exc:
        log(f"perfbench: {exc}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: Path) -> int:
    import layers
    import report
    from tracing import Tracer, jvm_hwm_mb
    from workloads import WORKLOADS

    spark = None
    try:
        t0 = time.perf_counter()
        spark = env.start_session(run_dir, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.oracle_setup()
        # the warm-up calls' outputs are checked too, after the timer
        warm = [_attempt(what, check) is not FAILED for what, check in wl.warm_checks]

        stamp = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": env.nproc(), "cpu_probe_ms": env.cpu_probe_ms(),
            "jvm_probe_ms": env.jvm_probe_ms(spark), "commit": env.git_commit(),
            "package_digest": env.source_digest(), "session_start_s": session_s,
        }
        print(json.dumps({"stamp": stamp}), flush=True)

        ticks = env.cpu_ticks()
        # traced and untraced units interleave in one phase: the
        # difference of their medians is the cost of job groups, spans
        # and /proc sampling
        units, attempted, failed = _measure(wl, tracer, args.seconds, bool(args.trace))
        steal = env.steal_share(ticks, env.cpu_ticks())
        attempted += len(warm)
        failed += warm.count(False)
        plain, traced = units[False], units[True]
        if args.trace:
            probes, ingest = layers.run_probes(spark, wl, tracer, args.seed, log)
            hwm = jvm_hwm_mb()
            attempted += 1
            failed += ingest is None
    finally:
        if spark is not None:
            env.stop_session(spark)

    # spans outlive the run directory: .bench_work/<workload>-seed<n>-trace<t>.spans.jsonl
    tracer.dump(env.WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}.spans.jsonl")
    if not plain or (args.trace and not traced):
        log("perfbench: no call succeeded; nothing to report")
        return 1
    e2e = report.end_to_end(wl, tracer, plain, setup_s)
    full = {"host_steal_share": steal, "end_to_end": e2e["report"]}
    metrics = e2e["metrics"]
    if args.trace:
        layer = report.per_layer(
            wl, tracer, plain, traced, probes, ingest, run_dir / "eventlog", hwm
        )
        full["per_layer"] = layer["report"]
        metrics = layer["metrics"]
    print(json.dumps({"report": full}), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def main(argv=None) -> int:
    return run(_args(argv))


if __name__ == "__main__":
    sys.exit(main())
