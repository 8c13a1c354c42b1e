"""Outside-in benchmark of the shipped transcript pipeline.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads (see NOTES.md for why each exists):

* ``batch``: ``main.py --mode batch`` passes over a seeded input, closed
  loop, back to back: at least one, more while ``--seconds`` allows;
* ``live_tail``: an open loop moving ``DROP_RATE`` drops a second into the
  source directory of ``stream_assembled`` under a 1 s trigger, at least
  ``MIN_DROPS`` drops.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (from a separate traced sequence). Each is printed as a line with its
unit and sample count; the last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. Scratch files go to
``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
#: program files the benchmark drives; without them it refuses to run
REQUIRED = ("main.py", "__spark_entry__.py",
            os.path.join("java9_gc_log_parser_spark", "__init__.py"))

WORKLOADS = ("batch", "live_tail")

#: bounded metrics. Wall-clock latencies are per-layer (``run.*``): on a
#: shared host their medians moved 25% between sets of runs of the same code
END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "cpu_s_per_mturn": "cpu_s/Mturn",
    "ok_frac": "ratio",
}

_STREAM_PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                  "walCommit", "commitOffsets")
PER_LAYER = {
    "run.microbatch_s_p50": "s", "run.commit_latency_ms_p50": "ms",
    "run.commit_latency_ms_p90": "ms",
    "parse.wall_s": "s", "parse.cpu_s": "s", "parse.gc_s": "s",
    "parse.cpu_us_per_turn": "us",
    "storage.cache_fill_s": "s", "storage.spill_bytes": "bytes",
    "storage.sink_write_s": "s", "storage.bytes_written": "bytes",
    "storage.prepare_source_s": "s", "storage.read_back_s": "s",
    **{f"route.{s}.{m}": u
       for s in ("pause_events", "tool_calls", "dead_letter")
       for m, u in (("wall_s", "s"), ("cpu_s", "s"), ("wait_s", "s"),
                    ("rows", "count"))},
    "assemble.wall_s": "s", "assemble.cpu_s": "s",
    "assemble.shuffle_bytes": "bytes", "assemble.ok_ratio": "ratio",
    "aggregate.wall_s": "s", "aggregate.shuffle_bytes": "bytes",
    "aggregate.task_skew": "ratio",
    "pipeline.driver_only_s": "s", "pipeline.jobs": "count",
    "checkpoint.batch_s": "s", "checkpoint.empty_batch_s": "s",
    "checkpoint.jobs_per_batch": "count", "checkpoint.rows_skew": "ratio",
    "stream.trigger_ms_p50": "ms",
    **{f"stream.{p}_ms_p50": "ms" for p in _STREAM_PHASES},
    "stream.state_rows": "count", "stream.state_mem_bytes": "bytes",
    "stream.state_commit_ms_p50": "ms", "stream.generator_lag_ms_max": "ms",
    "proc.peak_rss_mb": "MB",
    "proc.python_worker_cpu_s": "s", "proc.jvm_gc_s": "s",
    "trace.overhead_frac": "ratio", "trace.tagged_cpu_frac": "ratio",
    "scale.speedup_1_to_nproc": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(o) -> dict[str, tuple[float, int]]:
    """metric -> (value, sample count) from a workload outcome."""
    return {
        "setup_s": (o.setup_s, 1),
        "turns_per_s": (o.turns / o.busy_s, len(o.microbatch_s)),
        "cpu_s_per_mturn": (o.cpu_s / (o.turns / 1e6), 1),
        "ok_frac": (1.0 - o.failed / o.attempted, o.attempted),
    }


def latencies(o) -> dict[str, tuple[float, int]]:
    """Median micro-batch wall time and commit latency p50/p90."""
    import statistics

    import stats

    n_lat = len(o.latency_ms)
    if (stats.tail_percentile(n_lat) or 0.0) < 90.0:
        raise RuntimeError(f"{n_lat} latency samples cannot support a p90")
    return {
        "run.microbatch_s_p50": (statistics.median(o.microbatch_s),
                                 len(o.microbatch_s)),
        "run.commit_latency_ms_p50": (stats.percentile(o.latency_ms, 50.0),
                                      n_lat),
        "run.commit_latency_ms_p90": (stats.percentile(o.latency_ms, 90.0),
                                      n_lat),
    }


def per_layer(o) -> dict[str, tuple[float, int]]:
    """Every per-layer metric; a layer this workload never exercises
    reports 0 (it did no work here)."""
    out = {k: (float(o.layers.get(k, 0.0)), 1) for k in PER_LAYER}
    out.update(latencies(o))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(root, f))]
    if missing:
        print(f"perfbench: not a checkout of the pipeline, missing {missing}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # before anything imports tempfile or starts the JVM: every scratch file
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (its launcher too): no hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [HERE, root]

    import workloads as W

    ctx = W.Context(work=work, seed=args.seed,
                    seconds=args.seconds, nproc=nproc, trace=bool(args.trace))
    try:
        if args.workload == "batch":
            outcome = W.run_batch(ctx)
        else:
            outcome = W.run_live_tail(ctx)
    finally:
        W.cleanup(ctx)

    metrics = per_layer(outcome) if args.trace else end_to_end(outcome)
    units = PER_LAYER if args.trace else END_TO_END
    print(f"workload={args.workload} seed={args.seed} nproc={nproc} "
          f"properties={json.dumps(outcome.properties)}")
    for note in outcome.notes:
        print(f"note: {note}")
    for name, (value, n) in metrics.items():
        print(f"{name:40s} {value:16.6g} {units[name]:12s} n={n}")
    if not args.trace:  # for reference; reported unbounded, per layer
        for name, (value, n) in latencies(outcome).items():
            print(f"{name:40s} {value:16.6g} {PER_LAYER[name]:12s} n={n}")
    print(json.dumps({
        "correct": bool(outcome.correct),
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, (v, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
