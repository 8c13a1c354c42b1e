"""Traced run of the ``batch`` workload: per-layer numbers.

Spans are recorded here, in the benchmark, around calls into each layer's
public function; each call also sets a Spark job description, and Spark's
uncompressed event log (``eventlog.py``) supplies what the tasks under each
description cost. The program itself is not modified: wrappers are
installed on the module attributes the shipped code looks up at call time,
and removed afterwards.

Sequence after the untraced session's set-up and first full-size pass (same
process, warm JVM):

1. a new session with the event log on, settled by one full-size pass (the
   two first passes, with and without the log, give ``trace.overhead_frac``);
2. one ``main.py --mode batch`` pass (``main.batch``), attributed per SQL
   execution by the sink path it writes;
3. ``functions.parse.parse_lines`` alone into the ``noop`` sink (``parse``),
   on the batch input and on the 50k-turn warm-up input;
4. ``main.py --mode checkpoint --prepare-source`` on the warm-up input, with
   ``prepare_source`` and each ``run_batch`` wrapped, plus one empty
   micro-batch;
5. the parse job on the warm-up input again, in a ``local[1]`` session
   pinned to one CPU (after one settling job), for the scaling ratio.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

import duckdb

import eventlog as L
import procs
import reference
import workloads as W

CP_BATCHES = 2
#: traced runs fail when tagged layers explain less task CPU than this
MIN_TAGGED_CPU = 0.90

ROUTED = ("pause_events", "tool_calls", "dead_letter")


class Spans:
    """In-memory spans (name, start and end in epoch ms, the enclosing span
    that caused it, attributes), written out once when the traced run ends."""

    def __init__(self):
        self.items: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, spark, name: str, **attrs):
        """Record a span and tag every Spark job started inside it."""
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(name)
        rec = {"name": name, "start_ms": time.time() * 1e3,
               "parent": self._open[-1]["name"] if self._open else None,
               **attrs}
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1e3
            self._open.pop()
            self.items.append(rec)
            sc.setJobDescription(prev)

    def walls(self, name: str) -> list[float]:
        return [(s["end_ms"] - s["start_ms"]) / 1e3
                for s in self.items if s["name"] == name]

    def get(self, name: str) -> dict:
        return next(s for s in self.items if s["name"] == name)


@contextlib.contextmanager
def patched(module, attr: str, wrapper):
    original = getattr(module, attr)
    setattr(module, attr, wrapper(original))
    try:
        yield
    finally:
        setattr(module, attr, original)


def _pin_to_one_cpu(jvm: int) -> None:
    """Pin every JVM thread (and so every process it forks) to one CPU."""
    cpu = min(os.sched_getaffinity(0))
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            os.sched_setaffinity(int(tid), {cpu})
        except OSError:  # thread exited between listing and pinning
            pass


def _traced_batch(spans: Spans, spark, src: str, out: str):
    from java9_gc_log_parser_spark.plans import pipeline

    def wrap(build):
        def traced_build(*a, **k):
            with spans.span(spark, "main.batch", layer="pipeline.build"):
                return build(*a, **k)
        return traced_build

    with patched(pipeline, "build", wrap):
        with spans.span(spark, "main.batch", call="main.main") as rec:
            W.main_batch(src, out)
    spark.catalog.clearCache()
    return rec


def _parse_only(spans: Spans, spark, src: str, name: str) -> None:
    from java9_gc_log_parser_spark.functions.parse import parse_lines
    from java9_gc_log_parser_spark.storage import read_table

    with spans.span(spark, name, call="parse_lines"):
        parse_lines(read_table(spark, src)).write.format("noop") \
            .mode("overwrite").save()


def _checkpoint(ctx, spans: Spans, spark, src: str) -> tuple[list, bool]:
    """Traced checkpoint pass over the warm-up input ``src``; returns
    per-batch results and whether the union of its sinks equals the
    oracle."""
    import main as shipped
    from java9_gc_log_parser_spark.plans import checkpoint as cp

    expected = W.expected_digest(ctx, "batch", W.WARM_TURNS)
    out = ctx.run_dir("checkpoint-out")
    results = []

    def wrap_prepare(fn):
        def traced(*a, **k):
            with spans.span(spark, "storage.prepare_source") as rec:
                rec["ref"] = fn(*a, **k)
            return rec["ref"]
        return traced

    def wrap_batch(fn):
        def traced(*a, **k):
            with spans.span(spark, "checkpoint.batch") as rec:
                r = fn(*a, **k)
            rec["rows_in"] = r.rows_in
            results.append(r)
            return r
        return traced

    with patched(cp, "prepare_source", wrap_prepare), \
            patched(cp, "run_batch", wrap_batch):
        shipped.main(["--mode", "checkpoint", "--prepare-source",
                      "--n-batches", str(CP_BATCHES), "--input", src,
                      "--output", out])
    observed = reference.observed_sinks(out, reference.sink_columns())
    ok = not reference.compare(expected, observed)
    # an empty micro-batch: a bucket id past the last one selects no rows,
    # which isolates the runner's fixed per-batch cost
    ref = spans.get("storage.prepare_source")["ref"]
    with spans.span(spark, "checkpoint.empty"):
        cp.run_batch(spark, ref, ctx.run_dir("checkpoint-empty"),
                     CP_BATCHES, CP_BATCHES)
    return results, ok


def _assembly_ok_ratio(out: str) -> float:
    con = duckdb.connect()
    ok = con.execute("SELECT COUNT(*) FROM ("
                     + reference.parquet_relation(os.path.join(out, "assembled"))
                     + ")").fetchone()[0]
    bad = con.execute("SELECT COUNT(*) FROM ("
                      + reference.parquet_relation(os.path.join(out, "dead_letter"))
                      + ") WHERE turn_idx IS NULL").fetchone()[0]
    con.close()
    return ok / (ok + bad) if ok + bad else 0.0


def trace_batch(ctx, spark, src, warm, props, expected, columns, setup_s,
                settle_s) -> W.Outcome:
    """Run the traced sequence after the untraced session's set-up and
    settling pass (``settle_s``), and return an outcome whose layers hold
    every per-layer metric. It is incorrect when a traced output is wrong or
    the tagged layers explain too little task CPU."""
    spans = Spans()
    logs = ctx.run_dir("eventlog")

    spark.stop()
    spark = W.spark_session(ctx, event_log=os.path.join(logs, "nproc"))
    out = ctx.run_dir("traced-out")
    # the first full pass in a new session is slower, as after set-up; the
    # traced pass is the second, like the untraced timed ones. The two first
    # passes, with and without the event log, give the tracing overhead.
    with spans.span(spark, "settle"):
        W.main_batch(src, out)
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    sampler = procs.Sampler(procs.find_jvm())
    gc0 = W.jvm_gc_s(spark)
    sampler.start()
    main_rec = _traced_batch(spans, spark, src, out)
    sampler.stop()
    gc_s = W.jvm_gc_s(spark) - gc0
    main_wall = (main_rec["end_ms"] - main_rec["start_ms"]) / 1e3
    bad = reference.compare(expected, reference.observed_sinks(out, columns))
    ok_ratio = _assembly_ok_ratio(out)
    _parse_only(spans, spark, src, "parse")
    _parse_only(spans, spark, warm, "scale.parse")
    cp_results, cp_ok = _checkpoint(ctx, spans, spark, warm)
    spark.stop()

    spark1 = W.spark_session(ctx, master="local[1]")
    _pin_to_one_cpu(procs.find_jvm())
    # the first job of the new session pays its start-up; time the second
    _parse_only(spans, spark1, warm, "scale.settle@1")
    _parse_only(spans, spark1, warm, "scale.parse@1")
    spark1.stop()

    log = L.EventLog.read_dir(os.path.join(logs, "nproc"))
    layers = batch_layers(log, spans, main_rec, props["turns"])
    layers["assemble.ok_ratio"] = ok_ratio
    layers.update(checkpoint_layers(log, spans, cp_results))
    traced_settle_s = spans.walls("settle")[0]
    layers["trace.overhead_frac"] = traced_settle_s / settle_s - 1.0
    layers["scale.speedup_1_to_nproc"] = (spans.walls("scale.parse@1")[0]
                                          / spans.walls("scale.parse")[0])
    layers.update(W.process_layers(sampler, gc_s))
    # the traced batch pass and the checkpoint pass are the operations
    failed = bool(bad) + (not cp_ok)
    outcome = W.Outcome(
        attempted=2, failed=failed, correct=not failed, setup_s=setup_s,
        turns=props["turns"], busy_s=main_wall, cpu_s=sampler.cpu_s,
        worker_cpu_s=sampler.worker_cpu_s, microbatch_s=[main_wall],
        latency_ms=[main_wall * 1e3] * props["turns"], properties=props,
        layers=layers)
    outcome.notes.append(
        f"first full pass {traced_settle_s:.2f} s traced, {settle_s:.2f} s "
        f"untraced; traced pass {main_wall:.2f} s")

    spans_path = os.path.join(ctx.work, "last_trace_spans.json")
    with open(spans_path, "w") as f:
        json.dump(spans.items, f, default=str)
    outcome.notes.append(f"spans written to {spans_path}")
    if failed:
        outcome.notes.append(f"traced output mismatch: batch sinks {bad}, "
                             f"checkpoint union correct: {cp_ok}")
    if layers["trace.tagged_cpu_frac"] < MIN_TAGGED_CPU:
        outcome.correct = False
        outcome.notes.append(
            f"tagged layers explain {layers['trace.tagged_cpu_frac']:.1%} of "
            f"task CPU, below {MIN_TAGGED_CPU:.0%}")
    return outcome


def batch_layers(log: L.EventLog, spans: Spans, main_rec: dict,
                 turns: int) -> dict:
    out = {}
    parse_stages = log.stages_where(description="parse")
    pc = log.cost(parse_stages)
    out["parse.wall_s"] = spans.walls("parse")[0]
    out["parse.cpu_s"] = pc.cpu_s
    out["parse.gc_s"] = pc.gc_s
    out["parse.cpu_us_per_turn"] = pc.cpu_s / turns * 1e6

    main_stages = log.stages_where(description="main.batch")
    fill = [s for s in main_stages if s.cache_fill]
    mc = log.cost(main_stages)
    out["storage.cache_fill_s"] = L.stage_wall_s(fill)
    out["storage.spill_bytes"] = mc.spill_bytes
    out["storage.bytes_written"] = mc.bytes_written

    tagged, sink_commit = log.cost(fill).cpu_s, 0.0
    sink_exec_wall = {}
    for sink in reference.SINKS:
        st = [s for s in main_stages if not s.cache_fill and s.execution
              and (s.execution.output or "").rstrip("/").endswith("/" + sink)]
        ex = log.executions_where("main.batch", "/" + sink)
        wall = sum(e.end_ms - e.start_ms for e in ex) / 1e3
        wall -= L.stage_wall_s([s for s in fill if s.execution in ex])
        c = log.cost(st)
        tagged += c.cpu_s
        sink_commit += c.commit_s
        sink_exec_wall[sink] = (wall, c, st)
    for sink in ROUTED:
        wall, c, _ = sink_exec_wall[sink]
        out[f"route.{sink}.wall_s"] = wall
        out[f"route.{sink}.cpu_s"] = c.cpu_s
        out[f"route.{sink}.wait_s"] = c.wait_s
        out[f"route.{sink}.rows"] = c.records_written
    wall, c, _ = sink_exec_wall["assembled"]
    out["assemble.wall_s"] = wall
    out["assemble.cpu_s"] = c.cpu_s
    out["assemble.shuffle_bytes"] = c.shuffle_write_bytes
    wall, c, st = sink_exec_wall["conv_state"]
    out["aggregate.wall_s"] = wall
    out["aggregate.shuffle_bytes"] = c.shuffle_write_bytes
    out["aggregate.task_skew"] = L.task_skew(st)
    out["storage.sink_write_s"] = sink_commit

    # read-backs: main.py counts each sink by re-reading it
    readback = [s for s in main_stages if s.execution is not None
                and s.execution.output is None and not s.cache_fill]
    tagged += log.cost(readback).cpu_s
    out["storage.read_back_s"] = L.stage_wall_s(readback)
    out["trace.tagged_cpu_frac"] = tagged / mc.cpu_s if mc.cpu_s else 0.0

    t0, t1 = main_rec["start_ms"], main_rec["end_ms"]
    out["pipeline.driver_only_s"] = (t1 - t0 - log.busy_ms(t0, t1)) / 1e3
    out["pipeline.jobs"] = len([j for j in log.jobs.values()
                                if j.description == "main.batch"])
    return out


def checkpoint_layers(log: L.EventLog, spans: Spans, results: list) -> dict:
    walls = spans.walls("checkpoint.batch")
    rows = [r.rows_in for r in results]
    jobs = [j for j in log.jobs.values() if j.description == "checkpoint.batch"]
    return {
        "storage.prepare_source_s": spans.walls("storage.prepare_source")[0],
        "checkpoint.batch_s": statistics.median(walls),
        "checkpoint.empty_batch_s": spans.walls("checkpoint.empty")[0],
        "checkpoint.jobs_per_batch": len(jobs) / len(walls),
        "checkpoint.rows_skew": max(rows) / (sum(rows) / len(rows)),
    }
