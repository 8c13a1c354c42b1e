"""End-to-end pipeline composition (reference E1 lifecycle, SURVEY §3).

parse -> supported-types filter -> enrich -> route (3 sinks) -> assemble ->
aggregate. The parsed DataFrame is persisted (MEMORY_AND_DISK) before the
fan-out so the parse stage executes exactly once for all sinks (SURVEY §4:
one-pass fan-out — without it, Spark would re-run the scan+parse per sink
action).

``write_sinks`` is the one batch runner: ``main.py --mode batch``, each
checkpoint micro-batch and ``bench.py`` all call it. Its row counts are
``Observation``s on the jobs that already run — the input count under the
cache fill, each sink's count on its write — so no extra action runs and
nothing is re-read to be counted.

The cache stays rather than writing the parsed table through the storage
seam and re-reading it for the fan-out. A probe on 300k-turn seeded inputs
at ``local[4]`` (4-core host, 6 alternating rounds on each of 2 seeds, every
output oracle-checked) gave these medians, seed 3 / seed 11:

    variant                              wall s       CPU-s        jobs/pass
    persist + 5 read-back counts         10.1 / 12.2  25.3 / 29.0  30
    persist + Observation counts          8.8 / 11.6  23.2 / 27.3  15
    materialize + Observation counts     8.75 / 11.2  24.7 / 27.5  16

The last two overlap within their quartiles: materializing earned nothing
here, and the read-backs were what cost the time.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.parse import parse_lines
from ..storage import TableRef, write_table
from ..operators.assemble import (
    assemble_groups,
    assembled_pauses_from_groups,
    assembly_dead_letters_from_groups,
)
from ..operators.aggregate import (
    bucket_pause_stats,
    bucket_turn_counts,
    conv_state_final,
    conv_state_scan,
    duration_histogram,
)
from ..operators.route import route, supported_types_filter


#: the sinks a batch run commits, in write order
SINKS = ("pause_events", "tool_calls", "dead_letter", "assembled", "conv_state")


def build(transcripts: DataFrame, persist: bool = True) -> dict[str, DataFrame]:
    """Compose every stage; returns the named DataFrames (lazily planned).

    Keys: parsed, pause_events, tool_calls, unmatched, dead_letter (grammar
    unmatched + assembly errors unified), assembled, conv_state,
    conv_state_scan, bucket_turns, bucket_pauses, dur_histogram.

    ``persist`` caches the parse for the fan-out; the caller unpersists
    ``parsed`` when done.
    """
    parsed = parse_lines(transcripts)
    if persist:
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)

    sinks = route(parsed)
    groups = assemble_groups(supported_types_filter(parsed))
    assembled = assembled_pauses_from_groups(groups)
    dead = assembly_dead_letters_from_groups(groups)

    # unified dead-letter sink: grammar-unmatched rows + assembly-error groups
    # (FIXTURES.md §3 unmatched sink definition)
    dead_letter = sinks["unmatched"].unionByName(
        dead.select(
            "conv_id",
            F.lit(None).cast("int").alias("turn_idx"),
            F.col("error_message").alias("text"),
            F.col("error_code").alias("reason_code"),
            "ts",
        )
    )

    return {
        "parsed": parsed,
        "pause_events": sinks["pause_events"],
        "tool_calls": sinks["tool_calls"],
        "unmatched": sinks["unmatched"],
        "assembly_errors": dead,
        "dead_letter": dead_letter,
        "assembled": assembled,
        "conv_state": conv_state_final(assembled),
        "conv_state_scan": conv_state_scan(assembled),
        "bucket_turns": bucket_turn_counts(transcripts),
        "bucket_pauses": bucket_pause_stats(assembled),
        "dur_histogram": duration_histogram(assembled),
    }


def write_counted(df: DataFrame, table: TableRef | str) -> int:
    """Write ``df`` to ``table``; returns the rows fed to the writer, counted
    by an ``Observation`` on the write job itself."""
    obs = Observation()
    write_table(df.observe(obs, F.count(F.lit(1)).alias("rows")), table)
    return int(obs.get["rows"])


def write_sinks(
    transcripts: DataFrame,
    sink_location: Callable[[str], TableRef | str],
) -> tuple[int, dict[str, int]]:
    """Run the pipeline once: write every sink in ``SINKS`` to
    ``sink_location(sink)``; returns ``(rows_in, sink_rows)``.

    ``rows_in`` is observed on the input below the parse cache (the parse
    is 1:1), so the first sink write's cache fill reports it — 0 for an
    empty input — and no separate count action runs.
    """
    rows_in = Observation()
    dfs = build(transcripts.observe(rows_in, F.count(F.lit(1)).alias("rows")))
    try:
        sink_rows = {s: write_counted(dfs[s], sink_location(s)) for s in SINKS}
    finally:
        dfs["parsed"].unpersist()
    return int(rows_in.get["rows"]), sink_rows
