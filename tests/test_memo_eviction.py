"""The one session memo (``queries.materialized``): entries of other —
necessarily stopped — SparkContexts are dropped on insert, every sf_dir
of the live session is kept, and an entry whose input files changed is
rebuilt."""

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hpctoolkit_dataframe_spark import queries
from hpctoolkit_dataframe_spark.queries import load_table, materialized
from hpctoolkit_dataframe_spark.queries.dedup import fingerprint_split


@pytest.fixture
def memo(monkeypatch):
    """A private memo store, so stub sessions cannot evict the live
    test session's entries."""
    store: dict = {}
    monkeypatch.setattr(queries, "_MEMO", store)
    return store


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counting_build():
    calls = []

    def build():
        calls.append(1)
        return object()

    return build, calls


def test_insert_drops_foreign_session(memo, tmp_path):
    build, _ = _counting_build()
    materialized(_session("app-old"), str(tmp_path), "x", build)
    materialized(_session("app-old"), str(tmp_path), "y", build)
    materialized(_session("app-new"), str(tmp_path), "x", build)
    assert [k[0] for k in memo] == ["app-new"]


def test_live_session_keeps_every_sf_dir(memo, tmp_path):
    # scale_bench alternates two sf_dirs per flagship; neither may
    # evict the other
    d1, d2 = tmp_path / "d1", tmp_path / "d2"
    d1.mkdir()
    d2.mkdir()
    build, calls = _counting_build()
    sess = _session("app")
    first = {d: materialized(sess, str(d), "x", build) for d in (d1, d2)}
    for d in (d1, d2):
        assert materialized(sess, str(d), "x", build) is first[d]
    assert len(calls) == 2 and len(memo) == 2


def test_changed_fingerprint_rebuilds_unchanged_hits(memo, tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"1234")
    build, calls = _counting_build()
    sess = _session("app")
    v1 = materialized(sess, str(tmp_path), "x", build)
    assert materialized(sess, str(tmp_path), "x", build) is v1
    assert len(calls) == 1
    (tmp_path / "t.parquet").write_bytes(b"123456")
    v2 = materialized(sess, str(tmp_path), "x", build)
    assert v2 is not v1 and len(calls) == 2
    assert materialized(sess, str(tmp_path), "x", build) is v2


def _write_documents(spark, sf_dir, n, writer):
    rows = [(i, f"doc {i} alpha bravo charlie delta echo foxtrot golf",
             "en", "s", 40) for i in range(n)]
    path = os.path.join(sf_dir, "documents.parquet")
    if writer == "spark":
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long").write.mode("overwrite").parquet(path)
    else:
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": cols[1], "lang": cols[2], "source": cols[3],
            "n_chars": pa.array(cols[4], pa.int64())}), path)


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
def test_overwritten_table_is_not_served_stale(spark, tmp_path, writer):
    sf_dir = str(tmp_path / "corpus")
    os.makedirs(sf_dir)
    _write_documents(spark, sf_dir, 4, writer)
    assert fingerprint_split(spark, sf_dir).count() == 4
    assert load_table(spark, sf_dir, "documents").count() == 4
    _write_documents(spark, sf_dir, 6, writer)
    assert fingerprint_split(spark, sf_dir).count() == 6
    assert load_table(spark, sf_dir, "documents").count() == 6
