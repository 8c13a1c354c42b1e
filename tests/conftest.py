from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from java9_gc_log_parser_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gclp-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def crash_at_commit(monkeypatch):
    """``crash_at_commit(n)`` lets ``commit_log.commit`` publish ``n``
    records, then makes it raise: a crash after a batch's output is written,
    before its record is. ``monkeypatch.undo()`` restores the real commit."""
    from java9_gc_log_parser_spark import commit_log

    real = commit_log.commit

    def arm(n: int) -> None:
        done = []

        def commit(spark, root, batch_id, record):
            if len(done) >= n:
                raise RuntimeError(
                    f"injected crash at the commit of batch {batch_id}"
                )
            real(spark, root, batch_id, record)
            done.append(batch_id)

        monkeypatch.setattr(commit_log, "commit", commit)

    return arm
