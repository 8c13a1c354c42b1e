"""The benchmark's workloads, driven from outside through the shipped entry
points: ``main.main`` (batch and checkpoint modes) and
``streaming.assembler.stream_assembled``.

Each workload function takes a :class:`Context` and returns a
:class:`Outcome`; ``run.py`` turns outcomes into the printed metrics.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import procs
import reference
import stats

#: turns in the timed batch input; a warm pass takes about 10 s on 4 cores
#: (see NOTES.md for the sizing)
BATCH_TURNS = 300_000
#: turns in the cold warm-up pass that set-up time includes
WARM_TURNS = 50_000
#: live tail: drops per second, conversations appended per drop and turns
#: per conversation per drop -- 10 x 5 x 1 = 50 turns/s, the reference-scale
#: one-log tail volume, split into ten drops a second so that drops land at
#: every phase of the 1 s trigger and 100 drops fit in 10 s
DROP_RATE = 10.0
LIVE_CONVS = 5
TURNS_PER_CONV_DROP = 1
MIN_DROPS = 100
LIVE_TURNS = 40_000
TRIGGER = "1 second"
#: partitions of the stateful stage. Each one costs a Python worker round
#: trip and a state-store commit per trigger; at 50 turns/s two is the
#: measured best (bench.py's reference-scale leg), where the shipped sf-scale
#: drains use max(8, cores)
STATE_PARTITIONS = 2
#: warm-up drops fed before timing (not counted), same cadence and shape on
#: other conversations; triggers keep getting faster for about 8 s
WARM_DROPS = 80
DRAIN_S = 20.0


@dataclass
class Context:
    work: str           # scratch dir inside the checkout, gitignored
    seed: int
    seconds: float
    nproc: int
    trace: bool

    def input_dir(self, name: str, n_turns: int) -> str:
        return os.path.join(self.work, "inputs", f"{name}-s{self.seed}-n{n_turns}")

    def run_dir(self, name: str) -> str:
        path = os.path.join(self.work, f"run-{os.getpid()}", name)
        os.makedirs(path, exist_ok=True)
        return path


@dataclass
class Outcome:
    attempted: int
    failed: int
    correct: bool
    setup_s: float
    turns: int                      # turns processed in the timed region
    busy_s: float                   # wall time of the timed operations
    cpu_s: float
    worker_cpu_s: float
    microbatch_s: list[float]
    #: commit latency samples; a missed drop counts with the time waited
    latency_ms: list[float] = field(default_factory=list)
    properties: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


# -- Spark session ----------------------------------------------------------

def spark_session(ctx: Context, master: str | None = None,
                  event_log: str | None = None):
    """The session every workload runs in: ``get_spark``'s own defaults at
    ``local[nproc]``, progress bars off, scratch files inside the checkout."""
    from java9_gc_log_parser_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 compresses event logs with zstd by default, which
            # Python cannot read without an extra package
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
        })
    return get_spark(app_name="perfbench",
                     master=master or f"local[{ctx.nproc}]", extra_conf=conf)


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


# -- batch ------------------------------------------------------------------

def batch_inputs(ctx: Context) -> tuple[str, dict, str]:
    src = ctx.input_dir("batch", BATCH_TURNS)
    props = gen.write_input(ctx.seed, BATCH_TURNS, src, n_files=4 * ctx.nproc)
    warm = ctx.input_dir("batch", WARM_TURNS)
    gen.write_input(ctx.seed, WARM_TURNS, warm, n_files=4 * ctx.nproc)
    return src, props, warm


def expected_digest(ctx: Context, name: str, n_turns: int) -> dict:
    """Oracle digests for an input, computed once per (seed, size)."""
    path = os.path.join(ctx.input_dir(name, n_turns), "_EXPECTED.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    exp = reference.expected_sinks(ctx.seed, n_turns)
    with open(path, "w") as f:
        json.dump(exp, f)
    return exp


def main_batch(src: str, out: str) -> None:
    import main as shipped

    shipped.main(["--mode", "batch", "--input", src, "--output", out])


def batch_pass(spark, src: str, out: str, expected: dict,
               columns: dict) -> tuple[float, bool]:
    """One timed ``main.py --mode batch`` run, then its output check."""
    t0 = time.perf_counter()
    main_batch(src, out)
    wall = time.perf_counter() - t0
    bad = reference.compare(expected, reference.observed_sinks(out, columns))
    # a user's next run is a new application: drop the parse cache main.py
    # leaves registered (else the next pass skips the parse) and collect the
    # heap, so every pass starts from the same state
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    return wall, not bad


def cache_footprint(spark) -> dict:
    """Bytes of the parse cache main.py leaves registered, against the
    storage memory of the session."""
    sc = spark.sparkContext._jsc.sc()
    cached = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo())
    storage, it = 0, sc.getExecutorMemoryStatus().values().iterator()
    while it.hasNext():
        storage += it.next()._1()
    return {"parsed_cache_bytes": cached, "storage_memory_bytes": storage}


def run_batch(ctx: Context) -> Outcome:
    src, props, warm = batch_inputs(ctx)
    expected = expected_digest(ctx, "batch", BATCH_TURNS)
    columns = reference.sink_columns()
    out = ctx.run_dir("batch-out")

    t0 = time.perf_counter()
    spark = spark_session(ctx)
    main_batch(warm, ctx.run_dir("warm-out"))
    spark.catalog.clearCache()
    setup_s = time.perf_counter() - t0
    # one untimed pass at full size: the first one after set-up runs about
    # 40% slower (JIT and heap still growing), the ones after it do not
    t0 = time.perf_counter()
    main_batch(src, out)
    settle_s = time.perf_counter() - t0
    props = {**props, **cache_footprint(spark)}
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    if ctx.trace:
        import tracing

        return tracing.trace_batch(ctx, spark, src, warm, props, expected,
                                   columns, setup_s, settle_s)

    sampler = procs.Sampler(procs.find_jvm())
    gc0 = jvm_gc_s(spark)
    walls, failed = [], 0
    sampler.start()
    start = time.perf_counter()
    # at least one pass, and more while --seconds allows
    while not walls or time.perf_counter() - start < ctx.seconds:
        wall, ok = batch_pass(spark, src, out, expected, columns)
        walls.append(wall)
        failed += not ok
    sampler.stop()
    gc_s = jvm_gc_s(spark) - gc0

    outcome = Outcome(
        attempted=len(walls), failed=failed, correct=failed == 0,
        setup_s=setup_s, turns=props["turns"] * len(walls),
        busy_s=sum(walls), cpu_s=sampler.cpu_s,
        worker_cpu_s=sampler.worker_cpu_s, microbatch_s=walls,
        # every turn of a pass is due when the pass starts and committed
        # when main.py returns, so each pass contributes `turns` samples
        latency_ms=[w * 1e3 for w in walls for _ in range(props["turns"])],
        properties=props,
    )
    outcome.layers.update(process_layers(sampler, gc_s))
    outcome.notes.append("pass walls s: " + " ".join(f"{w:.2f}" for w in walls))
    spark.stop()
    return outcome


# -- live tail ----------------------------------------------------------------

def _stage_drops(ctx: Context, convs: list[str], n_drops: int,
                 stage: str, tag: str) -> list[tuple[str, int]]:
    """Write ``n_drops`` parquet drops under ``stage``: drop i holds turns
    ``[i*k, (i+1)*k)`` of each conversation in ``convs``, in turn order.
    Returns (path, rows) per drop."""
    con = gen.connect(ctx.seed, LIVE_TURNS)
    listed = ", ".join(f"'{c}'" for c in convs)
    k = TURNS_PER_CONV_DROP
    table = con.execute(
        f"SELECT *, CAST(turn_idx // {k} AS INT) AS drop_no "
        f"FROM ({gen.transcripts_query()}) "
        f"WHERE conv_id IN ({listed}) AND turn_idx < {n_drops * k} "
        f"ORDER BY drop_no, conv_id, turn_idx"
    ).arrow()
    con.close()
    drops = []
    for i in range(n_drops):
        part = table.filter(pc.equal(table["drop_no"], i)).drop(["drop_no"])
        path = os.path.join(stage, f"{tag}-{i:05d}.parquet")
        pq.write_table(part, path)
        drops.append((path, part.num_rows))
    return drops


def _progress_end_s(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ") \
        .replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _feed(drops, src: str, rate: float) -> tuple[list[float], list[float]]:
    """Open loop: move drop i into ``src`` at ``t0 + i/rate``, whatever the
    stream is doing. Returns each drop's due wall time and how late it ran."""
    t_wall0 = time.time() + 0.2
    t_perf0 = time.perf_counter() + 0.2
    due, lag = [], []
    for i, (path, _) in enumerate(drops):
        target = t_perf0 + i / rate
        delay = target - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        os.rename(path, os.path.join(src, os.path.basename(path)))
        due.append(t_wall0 + i / rate)
        lag.append(max(0.0, time.perf_counter() - target))
    return due, lag


def _await_rows(q, total: int, deadline_s: float) -> None:
    end = time.perf_counter() + deadline_s
    while time.perf_counter() < end:
        if sum(p["numInputRows"] for p in q.recentProgress) >= total:
            return
        time.sleep(0.05)


def run_live_tail(ctx: Context) -> Outcome:
    import __spark_entry__ as entry
    from java9_gc_log_parser_spark.streaming.assembler import stream_assembled

    n_drops = max(MIN_DROPS, int(ctx.seconds * DROP_RATE))
    con = gen.connect(ctx.seed, LIVE_TURNS)
    convs = gen.conversation_ids(
        con, min_turns=max(n_drops, WARM_DROPS) * TURNS_PER_CONV_DROP)
    props = gen.properties(con)
    con.close()
    rng = random.Random(ctx.seed)
    chosen = rng.sample(convs, 2 * LIVE_CONVS)
    timed_convs, warm_convs = chosen[:LIVE_CONVS], chosen[LIVE_CONVS:]

    live = ctx.run_dir("live")
    src, stage, out, ck = (os.path.join(live, d)
                           for d in ("src", "stage", "out", "ckpt"))
    for d in (src, stage):
        os.makedirs(d, exist_ok=True)
    warm = _stage_drops(ctx, warm_convs, WARM_DROPS, stage, "warm")
    drops = _stage_drops(ctx, timed_convs, n_drops, stage, "drop")
    fed_turns = sum(n for _, n in drops)
    warm_turns = sum(n for _, n in warm)

    t0 = time.perf_counter()
    spark = spark_session(ctx)
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    q = (
        stream_assembled(spark, src, entry._INPUT_SCHEMA,
                         max_files_per_trigger=100_000)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(processingTime=TRIGGER)
        .start()
    )
    _feed(warm, src, DROP_RATE)
    _await_rows(q, warm_turns, 120.0)
    setup_s = time.perf_counter() - t0
    warm_last = max(p["batchId"] for p in q.recentProgress)

    spark._jvm.System.gc()  # start the window from a collected heap, as batch
    sampler = procs.Sampler(procs.find_jvm())
    gc0 = jvm_gc_s(spark)
    sampler.start()
    due, lag = _feed(drops, src, DROP_RATE)
    _await_rows(q, warm_turns + fed_turns, DRAIN_S)
    sampler.stop()
    gc_s = jvm_gc_s(spark) - gc0
    progress = [p for p in q.recentProgress if p["batchId"] > warm_last]
    q.stop()
    drained_at = time.time()

    timed = [p for p in progress if p["numInputRows"] > 0]
    latency, missed = drop_latencies([n for _, n in drops], due, timed,
                                     drained_at)
    ends = [_progress_end_s(p) for p in timed]

    notes = _check_stream_output(
        ctx, [os.path.join(src, os.path.basename(p)) for p, _ in warm + drops],
        out, entry._ASSEMBLED_COLS)
    ok = not notes

    last_commit = max(ends, default=drained_at)
    outcome = Outcome(
        attempted=n_drops, failed=missed if ok else n_drops, correct=ok,
        setup_s=setup_s, turns=fed_turns,
        busy_s=max(1e-9, last_commit - due[0]),
        cpu_s=sampler.cpu_s, worker_cpu_s=sampler.worker_cpu_s,
        microbatch_s=[p["durationMs"]["triggerExecution"] / 1e3
                      for p in timed],
        latency_ms=latency,
        properties={**props, "drops": n_drops, "drop_rate_per_s": DROP_RATE,
                    "turns_per_drop": fed_turns / n_drops,
                    "live_conversations": LIVE_CONVS},
    )
    outcome.notes.extend(notes)
    outcome.layers.update(process_layers(sampler, gc_s))
    outcome.layers.update(stream_layers(timed, lag))
    outcome.notes.append("trigger ms: " + " ".join(
        str(p["durationMs"]["triggerExecution"]) for p in timed))
    spark.stop()
    return outcome


def _check_stream_output(ctx: Context, fed_files: list[str], out: str,
                         columns: list[str]) -> list[str]:
    """The stream's assembled events must equal the oracle's ok events whose
    PauseEnd turn was fed (warm-up drops included), with no other verdicts.
    Returns what differs; empty when the output is correct."""
    con = gen.connect(ctx.seed, LIVE_TURNS)
    try:
        con.execute("CREATE TABLE fed AS SELECT conv_id, turn_idx FROM "
                    "read_parquet([" + ", ".join(f"'{f}'" for f in fed_files)
                    + "])")
        expected = reference.canonical_digest(
            con, gen.oracle_ctes() + reference.STREAM_ASSEMBLED_SQL)
        rel = reference.parquet_relation(out)
        observed = reference.canonical_digest(
            con, f"SELECT {', '.join(columns)} FROM ({rel}) "
                 "WHERE verdict = 'ok'")
        other = con.execute(
            f"SELECT COUNT(*) FROM ({rel}) WHERE verdict <> 'ok'").fetchone()[0]
    except FileNotFoundError as e:
        return [f"stream output missing: {e}"]
    finally:
        con.close()
    if observed != expected or other:
        return [f"stream output {observed} (+{other} not ok), "
                f"expected {expected}"]
    return []


def drop_latencies(drop_rows: list[int], due_s: list[float],
                   progress: list[dict], horizon_s: float
                   ) -> tuple[list[float], int]:
    """Latency in ms of each drop, from its due time to the end of the
    trigger that committed its last row, and the number never committed.

    Triggers are matched by cumulative input rows: drop i is committed by the
    first trigger whose running total covers every row of drops 0..i (files
    are listed in arrival order). A drop never committed counts as failed,
    with the time waited until ``horizon_s`` as its latency, so it lands
    beyond every percentile it can.
    """
    cum, acc = [], 0
    for p in progress:
        acc += p["numInputRows"]
        cum.append(acc)
    ends = [_progress_end_s(p) for p in progress]
    latency, target, missed = [], 0, 0
    for rows, due in zip(drop_rows, due_s):
        target += rows
        j = next((j for j, c in enumerate(cum) if c >= target), None)
        if j is None:
            missed += 1
            latency.append((horizon_s - due) * 1e3)
        else:
            latency.append((ends[j] - due) * 1e3)
    return latency, missed


def process_layers(sampler: procs.Sampler, gc_s: float) -> dict:
    """Process-level numbers of the timed region, from ``/proc`` and JMX."""
    return {"proc.peak_rss_mb": sampler.peak_rss_bytes / 2**20,
            "proc.python_worker_cpu_s": sampler.worker_cpu_s,
            "proc.jvm_gc_s": gc_s}


def stream_layers(progress: list[dict], lag_s: list[float]) -> dict:
    """``streaming.assembler`` layer metrics from the query's own
    ``StreamingQueryProgress`` records."""
    def p50(values):
        return stats.percentile(values, 50.0) if values else 0.0

    out = {"stream.trigger_ms_p50": p50(
        [p["durationMs"]["triggerExecution"] for p in progress])}
    for phase in ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                  "walCommit", "commitOffsets"):
        out[f"stream.{phase}_ms_p50"] = p50(
            [p["durationMs"].get(phase, 0) for p in progress])
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    out["stream.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
    out["stream.state_mem_bytes"] = max(
        (o["memoryUsedBytes"] for o in ops), default=0)
    out["stream.state_commit_ms_p50"] = p50([o["commitTimeMs"] for o in ops])
    out["stream.generator_lag_ms_max"] = max(lag_s, default=0.0) * 1e3
    return out


def shutdown_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def cleanup(ctx: Context) -> None:
    shutdown_jvm()
    procs.stop_descendants()
    shutil.rmtree(os.path.join(ctx.work, f"run-{os.getpid()}"),
                  ignore_errors=True)
