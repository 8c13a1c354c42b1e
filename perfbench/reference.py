"""Correctness gate: per-sink row counts and order-independent content hashes.

Expected values come from DuckDB re-deriving each sink from the generated
input's parameters (the q03-q08 oracles of ``__spark_entry__.oracle_sql()``, re-keyed
like the input), never from the Spark parse. Observed values come
from DuckDB reading the parquet the pipeline committed. Both sides go through
the same canonical row hash, so a match means the same multiset of rows.
"""

from __future__ import annotations

import glob
import os

import duckdb

import __spark_entry__ as E
import gen

#: the five sinks ``main.py`` writes in batch and checkpoint mode
SINKS = ("pause_events", "tool_calls", "dead_letter", "assembled", "conv_state")


def oracle_sql() -> dict[str, str]:
    """sink -> the shipped DuckDB oracle for it (q03, q04, q05+q07, q06, q08),
    re-keyed like the benchmark's input."""
    shipped = E.oracle_sql()
    q = {k: gen.rekey(shipped[k], expected=2) for k in (
        "q03_pause_events_sink", "q04_tool_calls_sink", "q05_unmatched_sink",
        "q06_assembled_pauses", "q07_assembly_errors", "q08_conv_state_final")}
    return {
        "pause_events": q["q03_pause_events_sink"],
        "tool_calls": q["q04_tool_calls_sink"],
        "dead_letter": (
            f"SELECT conv_id, turn_idx, text, reason_code, ts "
            f"FROM ({q['q05_unmatched_sink']}) UNION ALL "
            f"SELECT conv_id, CAST(NULL AS INT) AS turn_idx, "
            f"error_message AS text, error_code AS reason_code, ts "
            f"FROM ({q['q07_assembly_errors']})"
        ),
        "assembled": q["q06_assembled_pauses"],
        "conv_state": q["q08_conv_state_final"],
    }


#: streaming assembler output restricted to ok events whose PauseEnd turn
#: was fed (the stream emits an event once its end and parts have arrived)
STREAM_ASSEMBLED_SQL = """
SELECT e.conv_id, e.event_id, e.pause_type, e.reason, e.offset_ms,
       e.duration_ms, e.heap_before, e.heap_after, e.heap_total,
       e.eden_after, e.survivor_after, e.old_after, e.humongous_after
FROM easm e
JOIN prow p ON p.conv_id = e.conv_id AND CAST(p.gc_seq AS INT) = e.event_id
           AND p.slot = 5
JOIN fed f ON f.conv_id = p.conv_id AND f.turn_idx = p.turn_idx
WHERE e.verdict = 'ok'
"""


def canonical_digest(con: duckdb.DuckDBPyConnection, relation: str) -> dict:
    """Row count and an order-independent content hash of ``relation``.

    Timestamps hash as UTC epoch microseconds, so a naive parquet timestamp
    and the oracle's ``TIMESTAMPTZ`` of the same instant agree; every other
    value hashes as its text form, so integer widths do not matter.
    """
    cols = con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        if typ.startswith("TIMESTAMP"):
            parts.append(f"CAST(epoch_us({name}) AS VARCHAR)")
        else:
            parts.append(f"CAST({name} AS VARCHAR)")
    rows, digest = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(hash({', '.join(parts)})), 0) "
        f"FROM ({relation})"
    ).fetchone()
    return {"rows": int(rows), "hash": str(digest)}


def expected_sinks(seed: int, n_turns: int) -> dict:
    """Oracle digest of every shipped sink for the ``(seed, n_turns)`` input."""
    con = gen.connect(seed, n_turns)
    out = {s: canonical_digest(con, sql) for s, sql in oracle_sql().items()}
    con.close()
    return out


def parquet_relation(path: str) -> str:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    listed = ", ".join(f"'{f}'" for f in files)
    # hive_partitioning off: checkpoint sinks sit under batch=<id>/ dirs and
    # that key is not a sink column
    return f"SELECT * FROM read_parquet([{listed}], hive_partitioning = false)"


def observed_sinks(out_root: str, columns: dict[str, list[str]]) -> dict:
    """Digest of each committed sink under ``out_root/<sink>``, restricted to
    the oracle's columns for that sink."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    out = {}
    for s in SINKS:
        rel = parquet_relation(os.path.join(out_root, s))
        out[s] = canonical_digest(
            con, f"SELECT {', '.join(columns[s])} FROM ({rel})"
        )
    con.close()
    return out


def sink_columns() -> dict[str, list[str]]:
    """Column names of each oracle sink query (no data scanned)."""
    con = gen.connect(0, 8)
    out = {
        s: [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()]
        for s, sql in oracle_sql().items()
    }
    con.close()
    return out


def compare(expected: dict, observed: dict) -> list[str]:
    """Names of the sinks whose digest differs."""
    return [s for s in expected if expected[s] != observed.get(s)]
