"""Ingest benchmark for binlake_spark.

    python3 perfbench/run.py --workload wire_replay --seed 1 --seconds 30 --trace 0

Workloads: ``wire_replay`` and ``stream_mor_ivm``, the two that
``BENCHMARK.json`` lists, and ``replay_cow``, which runs only when asked
for (see ``workloads.py``).  A run generates (or loads the cached) inputs
of the seed and sets the engine up SETUPS times (session start + warm-up
epoch; the first set-up also launches the JVM, the others restart the
session in it) and keeps the last set-up.  It then repeats the
workload's cycle while another one fits in ``--seconds``.  Every cycle's
final table is checked against an oracle.  The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``).  Lines before it are
diagnostics.

Exit code 0 when a result is printed; 2 when the checkout holds no
``binlake_spark`` package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3  # set-ups per run; setup_s is their median

END_TO_END_UNITS = {
    "events_per_s": "ev/s",
    "epoch_p50_ms": "ms",
    "commit_lag_p50_ms": "ms",
    "commit_lag_p95_ms": "ms",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "setup_s": "s",
}
# full reads of the final table in a traced run: the first WARM_SCANS let
# the JIT compile the read path (they run up to half as fast again),
# table.scan_ms is the median of the others.  Across seeds that median
# spread by 0.16-0.23 of itself (IQR), too close to the largest bound for
# an end-to-end metric, so it is a per-layer one.
SCANS = 15
WARM_SCANS = 5


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["replay_cow", "stream_mor_ivm", "wire_replay"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "binlake_spark", "__init__.py")):
        print("perfbench: no binlake_spark package in this checkout", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import harness

    # The run's tables, checkpoints and spools stay in run_dir: on a disk
    # mounted with `discard` deleting a file costs from one to tens of
    # milliseconds, so deleting them would make a run's length depend on
    # the disk.  Remove .bench_work/ to reclaim the space.
    run_dir = os.path.join(harness.WORK, f"run-{time.time_ns()}-{os.getpid()}")
    harness.prepare_process_env(run_dir)
    result = run(args, run_dir)
    print(json.dumps(result), flush=True)
    return 0


def _new_dir(run_dir: str, name: str) -> str:
    d = os.path.join(run_dir, name)
    os.makedirs(d)
    return d


def run(args, run_dir: str) -> dict:
    import traceback

    from perfbench import harness, layers, workloads
    from perfbench.tracing import NoTracer, Tracer

    t_run = time.monotonic()
    mem_mb = harness.driver_memory_mb()
    traced = bool(args.trace)
    env = harness.environment(args.seed, mem_mb, run_dir)
    harness.print_line("env", env)
    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale)  # untimed
    t_inputs = time.monotonic()

    cycles, errors = [], []
    with harness.RssSampler() as rss:
        setups = []
        for i in range(SETUPS):
            work = _new_dir(run_dir, f"warmup{i}")
            t0 = time.monotonic()
            spark = harness.start_spark(run_dir, mem_mb, traced)
            t1 = time.monotonic()
            wl.warmup(spark, work)
            setups.append((t1 - t0, time.monotonic() - t1))
            if i < SETUPS - 1:
                harness.stop_spark(spark, shutdown_jvm=False)
        tracer = Tracer(spark) if traced else NoTracer()

        t_start = time.monotonic()
        cpu0 = harness.cpu_times()
        deadline = t_start + args.seconds
        while True:
            c0 = time.monotonic()
            try:
                cycles.append(wl.cycle(spark, _new_dir(run_dir, f"cycle{len(cycles)}"), tracer))
            except Exception:
                errors.append(traceback.format_exc())
                break
            now = time.monotonic()
            if now + (now - c0) > deadline:
                break
        measured_s = time.monotonic() - t_start
        steal = harness.steal_frac(cpu0, harness.cpu_times())

        extra = {}
        if cycles and not errors:
            last = cycles[-1]
            extra["space_bytes"] = layers.referenced_bytes(last.table)
            if traced:
                extra["scans_ms"] = _scans(spark, last.table)
                extra["layers"] = layers.per_layer(
                    spark, wl, cycles, tracer, setups, measured_s
                )
        t_stop = time.monotonic()
        harness.stop_spark(spark, shutdown_jvm=True)

    mismatches = [m for c in cycles for m in c.mismatches]
    for e in errors:
        print(e, file=sys.stderr)
    for m in mismatches:
        print(f"MISMATCH {m}", file=sys.stderr)
    attempted = sum(len(c.commits.times) for c in cycles) + len(errors)
    failed = len(errors) + sum(c.commits.retries for c in cycles)
    correct = bool(cycles) and not errors and not mismatches
    if not correct:
        failed = attempted = max(attempted, 1)
    summary = {
        "cycles": len(cycles),
        "epochs": [len(c.commits.times) for c in cycles],
        "intervals_ms": [[round(x) for x in c.intervals_ms()] for c in cycles],
        "cycle_events_per_s": [
            round(c.events / c.wall_s, 1) for c in cycles if c.commits.times
        ],
        "measured_s": round(measured_s, 3),
        "cpu_steal_frac": steal,
        "failed_frac": failed / attempted if attempted else 1.0,
        "setups_s": [round(a + b, 3) for a, b in setups],
        # where the run's wall time went, for sizing the workloads
        "phases_s": {k: round(v, 3) for k, v in {
            "inputs": t_inputs - t_run, "setups": t_start - t_inputs,
            "measured": measured_s, "after": t_stop - t_start - measured_s,
            "stop": time.monotonic() - t_stop,
        }.items()},
    }
    if traced:
        metrics = extra.get("layers", {})
        if metrics:
            metrics["table.scan_ms"] = {
                "value": harness.median(extra["scans_ms"][WARM_SCANS:]), "unit": "ms",
            }
            metrics["process.peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MB"}
    else:
        metrics = end_to_end(cycles, extra, setups) if correct else {}
    summary["samples"] = metrics.pop("_samples", {})
    summary["scans_ms"] = extra.get("scans_ms", [])
    harness.print_line("summary", summary)
    return {
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }


def _scans(spark, table) -> list[float]:
    """Milliseconds of each of SCANS full reads of ``table`` into a noop
    sink, started from a collected heap rather than the workload's
    garbage."""
    spark.sparkContext._jvm.System.gc()
    out = []
    for _ in range(SCANS):
        t = time.monotonic()
        table.read(spark).write.format("noop").mode("overwrite").save()
        out.append(round((time.monotonic() - t) * 1000.0, 1))
    return out


def end_to_end(cycles, extra: dict, setups) -> dict:
    import numpy as np

    from perfbench.harness import median

    # per-cycle figures are reported as their median over the run's cycles,
    # so that one slow cycle does not move a run's result
    intervals = [x for c in cycles for x in c.intervals_ms()]
    last = cycles[-1]
    values = {
        "events_per_s": median(c.events / c.wall_s for c in cycles),
        "epoch_p50_ms": median(intervals),
        "commit_lag_p50_ms": median(np.percentile(c.lag_ms, 50) for c in cycles),
        "commit_lag_p95_ms": median(np.percentile(c.lag_ms, 95) for c in cycles),
        "write_amp": sum(c.commits.bytes_written for c in cycles)
        / sum(c.input_bytes for c in cycles),
        "space_amp": extra["space_bytes"] / last.oracle_bytes,
        "setup_s": median(a + b for a, b in setups),
    }
    out = {k: {"value": float(v), "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    out["_samples"] = {
        "epoch_intervals": len(intervals),
        "lag_events": sum(int(c.lag_ms.size) for c in cycles),
        "setups": len(setups), "cycles": len(cycles),
    }
    return out


if __name__ == "__main__":
    sys.exit(main())
