"""Contract of the role/tool lookup dims (sources/dims.py).

The dims are literal ``VALUES`` relations. Their literal columns are
non-nullable, but the sinks that left-join them must keep the schemas they
had as ``createDataFrame`` dims. q76's inner join, the one place a
non-nullable dim column reaches an output, is in the value-hash pin sample
(tests/test_query_hash_pin.py).
"""

from __future__ import annotations

from java9_gc_log_parser_spark.plans.pipeline import build
from java9_gc_log_parser_spark.sources.dims import ROLE_DIM, TOOL_DIM, role_dim, tool_dim
from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts


def _cols(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def test_dim_rows_and_columns(spark):
    role, tool = role_dim(spark), tool_dim(spark)
    assert [tuple(r) for r in role.collect()] == ROLE_DIM
    assert [tuple(r) for r in tool.collect()] == TOOL_DIM
    assert _cols(role) == [("role", "string"), ("role_group", "string"),
                           ("is_agent", "boolean")]
    assert _cols(tool) == [("tool", "string"), ("tool_family", "string"),
                           ("is_side_effecting", "boolean")]


def test_enriched_sink_schemas_unchanged(spark, sf_dir):
    """Names, types and nullability of the two enriched sinks; the left
    joins keep every dim column nullable."""
    dfs = build(synth_transcripts(spark, sf_dir), persist=False)
    pause, tools = dfs["pause_events"].schema, dfs["tool_calls"].schema
    assert pause.simpleString() == (
        "struct<conv_id:string,turn_idx:int,event_id:int,event_class:string,"
        "pause_type:string,reason:string,offset_ms:bigint,heap_before:bigint,"
        "heap_after:bigint,heap_total:bigint,duration_ms:double,region:string,"
        "region_before:bigint,region_after:bigint,role_group:string,"
        "tool_family:string,ts:timestamp_ntz>"
    )
    assert [f.name for f in pause.fields if not f.nullable] == [
        "turn_idx", "event_class"]
    assert tools.simpleString() == (
        "struct<conv_id:string,turn_idx:int,tool:string,tool_family:string,"
        "is_side_effecting:boolean,ts:timestamp_ntz>"
    )
    assert [f.name for f in tools.fields if not f.nullable] == ["turn_idx"]

