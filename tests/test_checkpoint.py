"""Resumability tests: crash mid-run, resume, identical sinks (SURVEY §7.7)."""

from __future__ import annotations

import os

import pytest

from java9_gc_log_parser_spark import commit_log
from java9_gc_log_parser_spark.plans import checkpoint as cp
from java9_gc_log_parser_spark.plans.pipeline import SINKS, build, write_sinks
from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def source_path(spark, sf_dir, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ckpt") / "transcripts.parquet")
    synth_transcripts(spark, sf_dir).write.mode("overwrite").parquet(p)
    return p


def _collect_sorted(df, cols):
    return sorted([tuple(r) for r in df.select(*cols).collect()], key=repr)


def _assert_matches_single_shot(spark, root, source_path):
    """Every sink of the run under ``root`` equals the single-shot pipeline."""
    single = build(spark.read.parquet(source_path))
    for sink, cols in [
        ("assembled", ["conv_id", "event_id", "pause_type", "duration_ms"]),
        ("pause_events", ["conv_id", "turn_idx", "event_class"]),
        ("dead_letter", ["conv_id", "text", "reason_code"]),
        ("conv_state", ["conv_id", "young_gcs", "remarks", "heap_size"]),
    ]:
        got = _collect_sorted(cp.read_sink(spark, root, sink), cols)
        want = _collect_sorted(single[sink], cols)
        assert got == want, f"{sink}: resumed output differs from single-shot"
    single["parsed"].unpersist()


def test_crash_resume_identical(spark, source_path, tmp_path):
    root = str(tmp_path / "out")
    n_batches = 4

    # run 2 of 4 batches, then "crash"
    r1 = cp.run(spark, source_path, root, n_batches, stop_after=2)
    assert len(r1) == 2
    assert set(commit_log.committed(spark, root)) == {0, 1}

    # resume: only the remaining batches run
    r2 = cp.run(spark, source_path, root, n_batches)
    assert sorted(b.batch_id for b in r2) == [2, 3]

    # resumed output == single-shot pipeline output, sink by sink
    _assert_matches_single_shot(spark, root, source_path)


def test_crash_at_commit_then_resume(spark, source_path, tmp_path,
                                     monkeypatch, crash_at_commit):
    """A crash after batch 1's sinks are written but before its record is
    committed: the resume re-runs batch 1 in place, every record appears
    once, and the sinks equal the single-shot pipeline (no double count)."""
    root = str(tmp_path / "out_crash")
    n_batches = 3
    crash_at_commit(1)
    with pytest.raises(RuntimeError, match="commit of batch 1"):
        cp.run(spark, source_path, root, n_batches)
    assert set(commit_log.committed(spark, root)) == {0}

    monkeypatch.undo()
    resumed = cp.run(spark, source_path, root, n_batches)
    assert [r.batch_id for r in resumed] == [1, 2]
    recs = commit_log.committed(spark, root)
    assert sorted(recs) == list(range(n_batches))
    assert sorted(os.listdir(os.path.join(root, commit_log.COMMITS))) == sorted(
        [f"{i}.json" for i in range(n_batches)]
        + [f".{i}.json.crc" for i in range(n_batches)]
    )
    assert sum(r["rows_in"] for r in recs.values()) == (
        spark.read.parquet(source_path).count()
    )
    _assert_matches_single_shot(spark, root, source_path)


def test_uri_root_resumes_from_bare_path(spark, source_path, tmp_path):
    """The commit log lives under ``root`` however it is spelled: a run
    under a ``file://`` URI is complete when resumed with the bare path,
    and nothing lands under the working directory."""
    root = str(tmp_path / "out_uri")
    cp.run(spark, source_path, "file://" + root, 2)
    assert [r.batch_id for r in cp.run(spark, source_path, root, 2)] == []
    assert not os.path.exists(os.path.join(os.getcwd(), "file:"))


def test_rerun_is_idempotent(spark, source_path, tmp_path):
    root = str(tmp_path / "out2")
    cp.run(spark, source_path, root, 2)
    n_before = cp.read_sink(spark, root, "assembled").count()
    # simulate a crash after sink write but before the commit: re-run
    # batch 0 directly — overwrite makes it idempotent
    cp.run_batch(spark, source_path, root, 0, 2)
    assert cp.read_sink(spark, root, "assembled").count() == n_before


def test_manifest_lineage_and_metrics(spark, source_path, tmp_path):
    root = str(tmp_path / "out3")
    cp.run(spark, source_path, root, 2)
    recs = list(commit_log.committed(spark, root).values())
    assert len(recs) == 2
    for rec in recs:
        assert rec["rows_in"] > 0
        assert "pause_events" in rec["sink_rows"]
        assert rec["wall_s"] > 0
        assert "xxhash64(conv_id)" in rec["lineage"]["predicate"]
        assert rec["lineage"]["source"] == source_path
    # batches partition the input exactly
    total_in = sum(r["rows_in"] for r in recs)
    assert total_in == spark.read.parquet(source_path).count()


def test_prepared_source_prunes_scans(spark, sf_dir, tmp_path):
    """With a bucket-partitioned source each micro-batch scans ~1/n of the
    data (commit records hold the pruned file set), and results still equal the
    single-shot pipeline."""
    src = str(tmp_path / "psrc")
    root = str(tmp_path / "pout")
    n_batches = 4
    cp.prepare_source(spark, synth_transcripts(spark, sf_dir), src, n_batches)

    cp.run(spark, src, root, n_batches)
    recs = list(commit_log.committed(spark, root).values())
    assert len(recs) == n_batches
    total_bytes = sum(r["lineage"]["scan_bytes"] for r in recs)
    for rec in recs:
        assert rec["lineage"]["predicate"] == f"batch_bucket = {rec['batch_id']}"
        # pruned scan: each batch reads well under half the total source
        assert rec["lineage"]["scan_bytes"] < total_bytes / 2
        assert rec["lineage"]["scan_files"] >= 1

    # batches still partition the input exactly, and outputs match single-shot
    total_in = sum(r["rows_in"] for r in recs)
    plain = synth_transcripts(spark, sf_dir)
    assert total_in == plain.count()
    single = build(plain)
    got = _collect_sorted(
        cp.read_sink(spark, root, "assembled"),
        ["conv_id", "event_id", "pause_type", "duration_ms"],
    )
    want = _collect_sorted(
        single["assembled"], ["conv_id", "event_id", "pause_type", "duration_ms"]
    )
    assert got == want
    single["parsed"].unpersist()


def test_runner_counts_match_committed_sinks(spark, source_path, tmp_path):
    """The batch runner's Observation counts equal what a read-back of the
    committed sinks finds — the guarantee main.py once paid a re-read of
    every sink per run for."""
    root = str(tmp_path / "batch")
    rows_in, sink_rows = write_sinks(
        spark.read.parquet(source_path), lambda sink: f"{root}/{sink}"
    )
    assert rows_in == spark.read.parquet(source_path).count()
    assert list(sink_rows) == list(SINKS)
    for sink in SINKS:
        assert sink_rows[sink] == spark.read.parquet(f"{root}/{sink}").count(), sink
    assert min(sink_rows.values()) > 0


def test_empty_micro_batch_counts_zero_and_commits(spark, source_path,
                                                  tmp_path):
    """A bucket id past the last one selects no rows: every count is 0,
    each sink still commits a readable empty batch dir, and the batch's
    record is still committed."""
    root = str(tmp_path / "empty")
    r = cp.run_batch(spark, source_path, root, 2, 2)
    assert r.rows_in == 0
    assert r.sink_rows == {sink: 0 for sink in SINKS}
    for sink in SINKS:
        committed = spark.read.parquet(os.path.join(root, sink, "batch=2"))
        assert committed.count() == 0, sink
    recs = commit_log.committed(spark, root)
    assert [(rec["batch_id"], rec["rows_in"]) for rec in recs.values()] == [
        (2, 0)
    ]
    assert recs[2]["sink_rows"] == {sink: 0 for sink in SINKS}
