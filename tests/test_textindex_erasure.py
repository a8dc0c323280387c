"""Right-to-erasure on the text index (the Lucene liveDocs pattern, as
`ManagedTextIndex` deletion-vector commits): erased docs vanish from
every query surface immediately, BM25 corpus stats stay pre-delete
until compaction (Lucene semantics), and `compact` makes the index
indistinguishable from a fresh build over the remaining documents."""

from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
    load_table,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (
    ManagedTextIndex,
)

from .conftest import SF_SMALL

TERMS = ["spark", "merge", "window"]
PRED = "doc_id % 3 = 1"


def _docs(spark):
    return load_table(spark, SF_SMALL, "documents")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _built(spark, path, docs):
    idx = ManagedTextIndex(spark, path)
    idx.upsert(docs)
    return idx


def test_tombstoned_search_equals_rebuild_on_remaining(spark, tmp_path):
    docs = _docs(spark)
    full = _built(spark, str(tmp_path / "full"), docs)
    full.delete(docs.filter(F.expr(PRED)).select("doc_id"))

    fresh = _built(spark, str(tmp_path / "fresh"), docs.filter(~F.expr(PRED)))

    got = _rows(full.search(TERMS, k=10))
    want = _rows(fresh.search(TERMS, k=10))
    assert got == want
    assert all(r[0] % 3 != 1 for r in got)


def test_delete_is_idempotent(spark, tmp_path):
    docs = _docs(spark)
    idx = _built(spark, str(tmp_path / "idx"), docs)
    ids = docs.filter(F.expr(PRED)).select("doc_id")
    idx.delete(ids)
    once = _rows(idx.search(TERMS, k=10))
    idx.delete(ids)
    assert _rows(idx.search(TERMS, k=10)) == once


def test_compact_purges_and_equals_fresh_build(spark, tmp_path):
    docs = _docs(spark)
    full = _built(spark, str(tmp_path / "full"), docs)
    full.delete(docs.filter(F.expr(PRED)).select("doc_id"))
    full.compact()

    fresh = _built(spark, str(tmp_path / "fresh"), docs.filter(~F.expr(PRED)))

    # deletion vectors materialized; postings physically purged
    remaining = full.table.read()
    assert remaining.filter(F.expr(PRED)).count() == 0

    # BM25 ranks identically to the fresh build: compaction rewrote the
    # corpus stats, so N/avgdl (idf + norms) are exact again
    assert _rows(full.bm25(TERMS, k=10)) == _rows(fresh.bm25(TERMS, k=10))
    assert full._stats_at(None) == fresh._stats_at(None)


def test_bm25_stats_stale_until_compact_lucene_semantics(spark, tmp_path):
    """Before compaction, deleted docs are invisible in RESULTS but
    still count in N/avgdl — exactly Lucene's deletes-don't-touch-
    stats-until-merge.  After compaction the stats are exact."""
    docs = _docs(spark)
    idx = _built(spark, str(tmp_path / "idx"), docs)
    n_before = idx._stats_at(None)["n_docs"]
    idx.delete(docs.filter(F.expr(PRED)).select("doc_id"))
    got = _rows(idx.bm25(TERMS, k=10))
    assert all(r[0] % 3 != 1 for r in got)  # results: live docs only
    assert idx._stats_at(None)["n_docs"] == n_before  # stats: untouched
    idx.compact()
    assert idx._stats_at(None)["n_docs"] < n_before


def test_positional_index_erasure(spark, tmp_path):
    docs = _docs(spark)
    idx = _built(spark, str(tmp_path / "pos"), docs)
    phrase = ["the", "spark"]
    before = _rows(idx.phrase_search(phrase, k=10))
    if not before:
        import pytest

        pytest.skip("fixture has no phrase hits to erase")
    victim = before[0][0]
    idx.delete([victim])
    after = _rows(idx.phrase_search(phrase, k=10))
    assert all(r[0] != victim for r in after)
    idx.compact()
    assert _rows(idx.phrase_search(phrase, k=10)) == after


def test_string_id_iterable_delete(spark, tmp_path):
    """delete() takes an iterable of ids or a DataFrame of them, so
    string-id indexes work on both paths and alternating the two
    forms erases the union."""
    docs = _docs(spark).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    idx = _built(spark, str(tmp_path / "sidx"), docs)
    hit_ids = [r.doc_id for r in idx.search(TERMS, k=3).collect()]
    idx.delete(hit_ids[:1])  # iterable of strings
    idx.delete(
        spark.createDataFrame([(hit_ids[1],)], "doc_id string"),
    )  # DataFrame form, a second deletion-vector commit
    left = {r.doc_id for r in idx.search(TERMS, k=10).collect()}
    assert hit_ids[0] not in left and hit_ids[1] not in left
    idx.compact()
    after = {r.doc_id for r in idx.search(TERMS, k=10).collect()}
    assert after == left
