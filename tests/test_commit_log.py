"""The shared commit log (``commit_log``): atomic records on the Hadoop
FileSystem API and the foreachBatch replay rule every streaming writer uses."""

from __future__ import annotations

import os

from java9_gc_log_parser_spark import commit_log


def _log_files(root):
    return sorted(os.listdir(os.path.join(root, commit_log.COMMITS)))


def test_empty_log_reads_empty(spark, tmp_path):
    root = str(tmp_path / "never_written")
    assert commit_log.committed(spark, root) == {}
    assert commit_log.last_committed(spark, root) is None


def test_record_round_trips(spark, tmp_path):
    root = str(tmp_path / "log")
    rec = {"rows_in": 7, "sink_rows": {"a": 3}, "lineage": {"x": None}}
    commit_log.commit(spark, root, 0, rec)
    commit_log.commit(spark, root, 2, {})
    assert commit_log.committed(spark, root) == {
        0: {"batch_id": 0, **rec},
        2: {"batch_id": 2},
    }
    assert commit_log.last_committed(spark, root) == 2


def test_recommit_replaces_record_and_leaves_no_temp_file(spark, tmp_path):
    root = str(tmp_path / "log")
    commit_log.commit(spark, root, 0, {"v": 1})
    commit_log.commit(spark, root, 0, {"v": 2})
    assert commit_log.committed(spark, root) == {0: {"batch_id": 0, "v": 2}}
    # the record and Hadoop's checksum of it, nothing else
    assert _log_files(root) == [".0.json.crc", "0.json"]


def test_uri_root_and_bare_path_see_same_log(spark, tmp_path):
    root = str(tmp_path / "log")
    commit_log.commit(spark, "file://" + root, 0, {"via": "uri"})
    commit_log.commit(spark, root, 1, {"via": "path"})
    want = {0: {"batch_id": 0, "via": "uri"}, 1: {"batch_id": 1, "via": "path"}}
    assert commit_log.committed(spark, root) == want
    assert commit_log.committed(spark, "file://" + root) == want


def test_foreach_batch_applies_each_id_once(spark, tmp_path):
    """New ids are applied and committed with the last committed id passed
    in; an id at or below the last commit is drained, not applied."""
    root = str(tmp_path / "log")
    applied = []

    def apply(batch_df, batch_id, last):
        applied.append((batch_id, last))
        return {"rows": batch_df.count()}

    emit = commit_log.foreach_batch(spark, root, apply)
    df = spark.range(3)
    for batch_id in (0, 1, 0, 1, 2):
        emit(df, batch_id)
    assert applied == [(0, None), (1, 0), (2, 1)]
    assert commit_log.committed(spark, root) == {
        i: {"batch_id": i, "rows": 3} for i in range(3)
    }
