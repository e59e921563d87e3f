"""The suite's two registry decisions live in `chroma_rs_spark.suite`:
which rows are declared (`DECLARED`) and when a built fixture may be
reused (`fixture`)."""

from __future__ import annotations

import os
import shutil

import pytest

from chroma_rs_spark import suite
from chroma_rs_spark.suite import DECLARED, all_queries
from tests.conftest import SF001_DIR


def test_declared_rows_are_unique_and_oracle_checked():
    assert len(DECLARED) == 50 and len(set(DECLARED)) == 50
    full = all_queries(include_extra=True)
    assert all(full[name].oracle for name in DECLARED)


def test_all_queries_returns_declared_rows_in_order():
    assert list(all_queries()) == list(DECLARED)
    full = list(all_queries(include_extra=True))
    assert full[: len(DECLARED)] == list(DECLARED)
    assert len(full) == len(set(full)) > len(DECLARED)


def test_all_queries_rejects_undefined_declared_name(monkeypatch):
    monkeypatch.setattr(suite, "DECLARED", DECLARED + ("no_such_row",))
    with pytest.raises(ValueError, match="no_such_row"):
        all_queries()


def test_fixture_memo_keys_on_session_dir_and_corpus_mtime(spark, tmp_path):
    from chroma_rs_spark.suite.streaming import _ingest_inbox

    copy = tmp_path / "sf"
    copy.mkdir()
    for name in os.listdir(SF001_DIR):
        shutil.copyfile(os.path.join(SF001_DIR, name), copy / name)
    sf_dir = str(copy)

    first = _ingest_inbox(spark, sf_dir)
    assert _ingest_inbox(spark, sf_dir) is first

    # a corpus regenerated under the same path is rebuilt
    parquet = copy / "embeddings.parquet"
    st = os.stat(parquet)
    os.utime(parquet, ns=(st.st_atime_ns, st.st_mtime_ns + 10**10))
    rebuilt = _ingest_inbox(spark, sf_dir)
    assert rebuilt != first
    assert _ingest_inbox(spark, sf_dir) is rebuilt

    assert _ingest_inbox(spark, SF001_DIR) not in (first, rebuilt)
