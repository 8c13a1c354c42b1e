"""Seeded transcript inputs for the benchmark.

The rows come from the package's shared transcripts SQL
(``sources.transcripts.transcripts_sql``, the SQL behind ``synth_transcripts``),
run by DuckDB over a generated ``events`` relation. Running it in DuckDB rather
than Spark keeps input generation out of the JVM, so the measured set-up time
starts from a cold session.

Three changes to the shipped synthesis, all made by the seed or by one SQL
substitution that the oracle side applies identically:

* event ids are shifted by ``seed_offset(seed)``, so each seed yields other GC
  ids, pause-type phases and malformed-event positions;
* conversations are re-keyed from ``gc_seq % 50`` (about 51 huge
  conversations) to ``gc_seq // CONV_GC_EVENTS``: a few hundred turns each,
  and one GC event (``floor(event_id/8)``) never straddles two conversations;
* ``conv-hot`` keeps every ``gc_seq % 10 < 3`` event, about 30% of all rows.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from java9_gc_log_parser_spark import oracle as O
from java9_gc_log_parser_spark.sources.transcripts import transcripts_sql

#: GC events per non-hot conversation; 7 of every 10 are non-hot, so a
#: conversation carries about 50 * 0.7 * 8 = 280 turns.
CONV_GC_EVENTS = 50

_SHIPPED_CONV = "'conv-' || CAST(gc_seq % 50 AS STRING)"
_REKEYED_CONV = (
    f"'conv-' || CAST(CAST(FLOOR(gc_seq / {CONV_GC_EVENTS}) AS BIGINT) AS STRING)"
)
_SEED_STRIDE = 1 << 24  # events per seed slot; keeps GC ids inside int32


def seed_offset(seed: int) -> int:
    """First event id of ``seed``'s input (a multiple of 8: whole GC events)."""
    return (seed % 997) * _SEED_STRIDE


def rekey(sql: str, expected: int) -> str:
    """Swap the shipped conversation key for the benchmark's re-keyed one.

    ``expected`` is how many times the shipped expression must occur; a
    mismatch means the package's synthesis SQL changed under the benchmark.
    """
    n = sql.count(_SHIPPED_CONV)
    if n != expected:
        raise RuntimeError(
            f"expected {expected} conv_id expressions in the shipped SQL, "
            f"found {n}"
        )
    return sql.replace(_SHIPPED_CONV, _REKEYED_CONV)


def events_sql(seed: int, n_turns: int) -> str:
    """The generated ``events`` relation: one row per turn."""
    off = seed_offset(seed)
    if n_turns > _SEED_STRIDE:
        raise ValueError(f"at most {_SEED_STRIDE} turns per input")
    return f"""
SELECT {off} + i AS event_id,
       TIMESTAMPTZ '2024-01-01 00:00:00+00'
         + to_milliseconds(i * 1500 + hash(i, {seed}) % 1000) AS ts
FROM range({n_turns}) r(i)
"""


def connect(seed: int, n_turns: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with ``events`` registered for ``(seed, n_turns)``."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    con.execute(f"CREATE VIEW events AS {events_sql(seed, n_turns)}")
    return con


def transcripts_query() -> str:
    return rekey(transcripts_sql("events"), expected=1)


def oracle_ctes() -> str:
    """``WITH transcripts, prow, easm, dims`` re-keyed like the input."""
    return rekey(O.with_ctes(), expected=2)


def write_input(seed: int, n_turns: int, dest: str, n_files: int) -> dict:
    """Write the seeded transcripts as ``n_files`` parquet files under
    ``dest`` (skipped when ``dest/_SUCCESS`` exists) and return its measured
    properties, cached beside it."""
    props_path = os.path.join(dest, "_PROPERTIES.json")
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        with open(props_path) as f:
            return json.load(f)
    os.makedirs(dest, exist_ok=True)
    con = connect(seed, n_turns)
    table: pa.Table = con.execute(
        f"SELECT * FROM ({transcripts_query()}) ORDER BY conv_id, turn_idx"
    ).arrow()
    # contiguous slices in (conv_id, turn_idx) order, as a log shipper would
    # write them; one file per scan task keeps every core busy
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(dest, f"part-{k:04d}.parquet"))
    props = properties(con)
    con.close()
    with open(props_path, "w") as f:
        json.dump(props, f)
    open(os.path.join(dest, "_SUCCESS"), "w").close()
    return props


def properties(con: duckdb.DuckDBPyConnection) -> dict:
    """Workload properties the pipeline's behaviour depends on, measured on
    the generated input by the oracle's own classification."""
    row = con.execute(oracle_ctes() + """
SELECT COUNT(*) AS turns,
       COUNT(DISTINCT conv_id) AS conversations,
       AVG(CASE WHEN conv_id = 'conv-hot' THEN 1.0 ELSE 0.0 END) AS hot_share,
       AVG(CASE WHEN event_class = 'unmatched' THEN 1.0 ELSE 0.0 END)
         AS unmatched_share,
       AVG(CASE WHEN event_class = 'nr_regions'
                  OR (event_class IN ('pause_start', 'pause_end')
                      AND ptype <> 'Cleanup') THEN 1.0 ELSE 0.0 END)
         AS supported_share
FROM prow
""").fetchone()
    keys = ("turns", "conversations", "hot_share", "unmatched_share",
            "supported_share")
    out = dict(zip(keys, row))
    for k in ("hot_share", "unmatched_share", "supported_share"):
        out[k] = round(float(out[k]), 4)
    return out


def conversation_ids(con: duckdb.DuckDBPyConnection, min_turns: int) -> list[str]:
    """Non-hot conversations of the input with at least ``min_turns`` turns,
    in key order."""
    rows = con.execute(
        "SELECT conv_id FROM (" + transcripts_query() + ") "
        f"WHERE conv_id <> 'conv-hot' GROUP BY conv_id "
        f"HAVING COUNT(*) >= {int(min_turns)} ORDER BY conv_id"
    ).fetchall()
    return [r[0] for r in rows]
