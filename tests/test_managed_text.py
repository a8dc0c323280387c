"""ManagedTextIndex: the inverted index routed through the manifest
table — pruned MERGE appends, DV-based liveDocs erasure, OPTIMIZE
compaction, snapshot-isolated bucket-pruned queries with version time
travel.  It is the package's one text index; textindex.py holds only
the scoring kernels its queries share.  Parity checks compare against
a one-batch build, the brute-force `text.text_search` scan, or values
computed by hand in Python."""

import os
import re

import pytest
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
    load_table,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (
    ManagedTextIndex,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.text import (
    text_search,
)

from .conftest import SF_SMALL

TERMS = ["spark", "merge", "window"]


def _docs(spark):
    return load_table(spark, SF_SMALL, "documents")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _one_batch(spark, path, docs):
    idx = ManagedTextIndex(spark, path)
    idx.upsert(docs)
    return idx


def _two_appends(spark, path, docs):
    idx = ManagedTextIndex(spark, path)
    idx.upsert(docs.filter(F.col("doc_id") % 2 == 0))
    idx.upsert(docs.filter(F.col("doc_id") % 2 == 1))
    return idx


def test_incremental_build_equals_plain_index(spark, tmp_path):
    """Two pruned-MERGE appends must serve IDENTICAL search and BM25
    results to a one-batch build over the same corpus — the shared
    scoring kernel plus equal live postings and stats guarantee it —
    and the match ranking must equal the brute-force scan's."""
    docs = _docs(spark)
    plain = _one_batch(spark, str(tmp_path / "plain"), docs)
    idx = _two_appends(spark, str(tmp_path / "mgd"), docs)

    assert _rows(idx.search(TERMS, k=10)) == _rows(plain.search(TERMS, k=10))
    assert _rows(idx.search(TERMS, k=10)) == _rows(
        text_search(docs, TERMS, k=10)
    )
    assert _rows(idx.bm25(TERMS, k=10)) == _rows(plain.bm25(TERMS, k=10))
    assert idx._stats_at(None) == plain._stats_at(None)


def test_append_rewrites_only_touched_buckets(spark, tmp_path):
    """The second append's commit must move ONLY the bucket fragments
    its terms hash into; untouched buckets are inherited by manifest
    reference — ingest cost tracks the batch."""
    docs = _docs(spark)
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs.filter(F.col("doc_id") != 1))
    v1 = idx.table.versions()[-1]

    one = docs.filter(F.col("doc_id") == 1)
    idx.upsert(one)
    v2 = idx.table.versions()[-1]
    n_terms = (
        one.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
        )
        .filter(F.col("t") != "")
        .distinct()
        .count()
    )
    moved = [k for k, v in idx.table.manifest().items() if v == v2]
    kept = [k for k, v in idx.table.manifest().items() if v == v1]
    assert 0 < len(moved) <= n_terms
    assert kept, "append must inherit untouched buckets by reference"


def test_dv_erasure_and_compaction_lucene_stats(spark, tmp_path):
    """delete() is a deletion-vector commit: queries exclude the doc
    immediately (liveDocs anti-join on read), BM25 corpus stats stay
    pre-delete until compact() re-exactifies them — at which point
    results equal a fresh build over the remaining docs."""
    docs = _docs(spark)
    pred = "doc_id % 3 = 1"
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    idx.delete(docs.filter(F.expr(pred)).select("doc_id"))

    fresh = _one_batch(spark, str(tmp_path / "fresh"), docs.filter(~F.expr(pred)))

    # match semantics don't touch corpus stats: identical right away
    got = _rows(idx.search(TERMS, k=10))
    assert got == _rows(fresh.search(TERMS, k=10))
    assert all(r[0] % 3 != 1 for r in got)

    # BM25: stale N/avgdl until the merge — ranked ids may match but
    # scores use pre-delete constants; after compact they are EQUAL
    stale = idx._stats_at(None)
    assert stale["n_docs"] == docs.count()
    idx.compact()
    exact = idx._stats_at(None)
    assert exact["n_docs"] == docs.filter(~F.expr(pred)).count()
    assert _rows(idx.bm25(TERMS, k=10)) == _rows(fresh.bm25(TERMS, k=10))
    # DVs physically materialized: no postings of erased docs remain
    live = idx.table.read()
    assert live.filter(F.expr(pred)).count() == 0


def test_time_travel_reads_pre_erasure_snapshot(spark, tmp_path):
    """version= pins the snapshot: a query at the pre-delete version
    still sees the erased doc's postings; the post-delete version does
    not (Delta DV semantics)."""
    docs = _docs(spark)
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    v_full = idx.table.versions()[-1]
    victim = [r.doc_id for r in idx.search(TERMS, k=1, version=v_full).collect()]
    idx.delete(victim)
    after = {r.doc_id for r in idx.search(TERMS, k=10).collect()}
    then = {
        r.doc_id for r in idx.search(TERMS, k=10, version=v_full).collect()
    }
    assert victim[0] in then and victim[0] not in after
    # bm25 time travel rides the same snapshot + version-stamped stats
    assert victim[0] in {
        r.doc_id for r in idx.bm25(TERMS, k=10, version=v_full).collect()
    }


def test_reindex_changes_term_set_without_ghosts(spark, tmp_path):
    """A re-written document must not leave postings of its dropped
    terms behind: upsert(reindex=True) DV-deletes the ids first."""
    rows = [(1, "alpha beta gamma"), (2, "alpha delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    assert {r.doc_id for r in idx.search(["beta"], k=5).collect()} == {1}

    rewritten = spark.createDataFrame(
        [(1, "epsilon zeta")], "doc_id long, text string"
    )
    idx.upsert(rewritten, reindex=True)
    assert idx.search(["beta"], k=5).count() == 0  # ghost would match
    assert {r.doc_id for r in idx.search(["epsilon"], k=5).collect()} == {1}
    assert {r.doc_id for r in idx.search(["alpha"], k=5).collect()} == {2}


def test_empty_and_missing_cases(spark, tmp_path):
    docs = _docs(spark)
    empty = ManagedTextIndex(spark, str(tmp_path / "none"))
    with pytest.raises(ValueError, match="empty"):
        empty.search(TERMS, k=5)

    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs.limit(50))
    # terms hashing to buckets with no live fragments → typed empty
    out = idx.search(["zzzznosuchterm"], k=5)
    assert out.columns == ["doc_id", "n_terms_matched", "total_tf"]
    hl = idx.highlight(docs, ["zzzznosuchterm"])
    assert hl.count() == 0
    assert hl.dtypes == [
        ("doc_id", "bigint"),
        ("bm25", "double"),
        ("first_pos", "int"),
        ("snippet", "string"),
    ]
    # deleting nothing is a no-op version-wise
    v = idx.table.versions()[-1]
    assert idx.delete([]) == v
    # stats survive on disk and are crash-tolerant (missing file for a
    # version falls back to the newest below it — here there is none,
    # so to the empty-corpus default rather than raising)
    assert idx._stats_at(v)["n_docs"] == 50
    os.remove(
        os.path.join(str(tmp_path / "mgd"), "stats", f"v={v:05d}.json")
    )
    assert idx._stats_at(v) == {"n_docs": 0, "total_dl": 0}
    idx._write_stats(v, 50, 1234)
    assert idx._stats_at(None) == {"n_docs": 50, "total_dl": 1234}


def test_stream_built_equals_batch_built(spark, tmp_path):
    """4 micro-batch pruned commits (availableNow + maxFilesPerTrigger)
    must leave an index identical to one batch build: same version
    count floor, same live postings, same search/bm25 results."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.streaming_q import (
        stream_built_managed_text,
    )

    docs = _docs(spark)
    streamed = stream_built_managed_text(spark, SF_SMALL)
    assert len(streamed.table.versions()) >= 4
    assert streamed.table.read().count() > 0

    batch = ManagedTextIndex(spark, str(tmp_path / "b"))
    batch.upsert(docs)
    assert _rows(streamed.search(TERMS, k=10)) == _rows(
        batch.search(TERMS, k=10)
    )
    assert _rows(streamed.bm25(TERMS, k=10)) == _rows(
        batch.bm25(TERMS, k=10)
    )
    assert streamed._stats_at(None) == batch._stats_at(None)


def test_bucket_stats_metadata_only_occupancy(spark, tmp_path):
    """bucket_stats mirrors cell_stats: per-bucket live rows/files from
    manifest metadata, exact against the real postings distribution,
    and the DV erasure moves the live counts without a rewrite."""
    docs = _docs(spark)
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    want = {
        r["__b"]: r["n"]
        for r in idx.table.read().groupBy("__b").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    stats = idx.bucket_stats()
    got = {b: s["rows"] for b, s in stats["buckets"].items()}
    assert got == want
    assert stats["rows_total"] == sum(want.values())
    assert stats["skew"] >= 1.0

    before = stats["rows_total"]
    idx.delete(docs.limit(10).select("doc_id"))
    after = idx.bucket_stats()
    assert after["rows_total"] < before  # DV cardinality subtracted


def test_msearch_identical_to_per_query_bm25_per_version(spark, tmp_path):
    """The managed msearch contract: each query's (doc, bm25) rows are
    bit-identical to bm25() alone at the SAME version — including a
    time-traveled pre-erasure snapshot."""
    docs = _docs(spark)
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    v_full = idx.table.versions()[-1]
    victims = [r.doc_id for r in idx.bm25(TERMS, k=2).collect()]
    idx.delete(victims)

    queries = {1: TERMS, 2: ["join", "hash"], 3: ["nosuchterm"]}
    for ver in (None, v_full):
        got = idx.msearch(queries, k=10, version=ver).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.q_id, []).append((r.doc_id, r.bm25))
        for qid, terms in queries.items():
            single = [
                (r.doc_id, r.bm25)
                for r in idx.bm25(terms, k=10, version=ver).collect()
            ]
            assert by_q.get(qid, []) == single, (qid, ver)
    # the live head really excludes the erased docs; the pinned
    # snapshot really retains them
    live_ids = {r.doc_id for r in idx.msearch({1: TERMS}, k=10).collect()}
    then_ids = {
        r.doc_id
        for r in idx.msearch({1: TERMS}, k=10, version=v_full).collect()
    }
    assert not set(victims) & live_ids
    assert set(victims) <= then_ids


_PHRASE = ["part", "filter"]


def _top(counts: dict, k: int) -> list[tuple]:
    ranked = sorted((-n, d) for d, n in counts.items() if n > 0)
    return [(d, -n) for n, d in ranked[:k]]


def test_phrase_equals_frozen_positional_index(spark, tmp_path):
    """The managed index's phrase/proximity results over two appends
    must equal a brute-force position scan of the same corpus in
    Python (same analyzer: lowercase, split on ASCII whitespace, drop
    empty tokens; same ranking and tie-breaks)."""
    docs = _docs(spark)
    idx = _two_appends(spark, str(tmp_path / "mgd"), docs)

    toks = {
        r.doc_id: [t for t in re.split(r"\s+", r.text.lower(), flags=re.A) if t]
        for r in docs.select("doc_id", "text").collect()
    }
    a, b = _PHRASE
    phrase = {
        d: sum(1 for i in range(len(t) - 1) if t[i] == a and t[i + 1] == b)
        for d, t in toks.items()
    }
    prox = {
        d: sum(
            1
            for i, x in enumerate(t)
            if x == a
            and any(y == b and abs(j - i) <= 3 and j != i for j, y in enumerate(t))
        )
        for d, t in toks.items()
    }
    assert _top(phrase, 10), "test corpus must contain the phrase"
    assert _rows(idx.phrase_search(_PHRASE, k=10)) == _top(phrase, 10)
    assert _rows(idx.proximity_search(*_PHRASE, slop=3, k=10)) == _top(prox, 10)


def test_phrase_respects_dv_erasure_and_time_travel(spark, tmp_path):
    """A DV erasure must stop a doc from phrase-matching at the live
    head IMMEDIATELY (no compaction needed), while a version= pin at
    the pre-erasure snapshot still serves it — the match/BM25 contract
    extended to positional queries."""
    docs = _docs(spark)
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    v_full = idx.table.versions()[-1]
    before = idx.phrase_search(_PHRASE, k=10).collect()
    assert before, "test corpus must contain the phrase"
    victim = before[0].doc_id
    idx.delete([victim])

    live_ids = {r.doc_id for r in idx.phrase_search(_PHRASE, k=10).collect()}
    then = idx.phrase_search(_PHRASE, k=10, version=v_full).collect()
    assert victim not in live_ids
    assert [tuple(r) for r in then] == [tuple(r) for r in before]
    # proximity honors the same liveDocs contract
    prox_live = {
        r.doc_id
        for r in idx.proximity_search(*_PHRASE, slop=3, k=50).collect()
    }
    assert victim not in prox_live


def test_suggest_snapshot_consistency_and_staleness(spark, tmp_path):
    """suggest(version=) is derived from the postings snapshot, so an
    append with a NEW term changes old/new suggestions by exactly that
    term, and a DV erasure drops the erased doc from df at the live
    head — the frozen-dictionary staleness class is gone."""
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(
        spark.createDataFrame(
            [(1, "zebra apple"), (2, "zebra banana")], ["doc_id", "text"]
        )
    )
    v1 = idx.table.versions()[-1]
    idx.upsert(spark.createDataFrame([(3, "zenith zebra")], ["doc_id", "text"]))

    old = {(r.term, r.df) for r in idx.suggest("ze", k=10, version=v1).collect()}
    new = {(r.term, r.df) for r in idx.suggest("ze", k=10).collect()}
    assert old == {("zebra", 2)}
    assert new == {("zebra", 3), ("zenith", 1)}

    idx.delete([3])
    live = {(r.term, r.df) for r in idx.suggest("ze", k=10).collect()}
    assert live == {("zebra", 2)}
    # empty prefix rejected; unknown prefix is an empty frame
    with pytest.raises(ValueError):
        idx.suggest("")
    assert idx.suggest("zzz").count() == 0


def test_match_docs_and_mlt_equal_frozen_index(spark, tmp_path):
    """The unranked match aggregate must equal the brute-force scan
    over EVERY matching doc, and MLT over two appends must equal MLT
    over a one-batch build (shared kernels + equal postings + equal
    corpus stats)."""
    docs = _docs(spark)
    plain = _one_batch(spark, str(tmp_path / "plain"), docs)
    idx = _two_appends(spark, str(tmp_path / "mgd"), docs)

    key = lambda r: r[0]  # noqa: E731
    assert sorted(_rows(idx.match_docs(TERMS)), key=key) == sorted(
        _rows(text_search(docs, TERMS, k=docs.count())), key=key
    )
    assert _rows(idx.more_like_this(docs, 7, m=5, k=10)) == _rows(
        plain.more_like_this(docs, 7, m=5, k=10)
    )


def test_mlt_and_facets_respect_dv_erasure(spark, tmp_path):
    """After a DV erasure the erased docs must vanish from match_docs
    (and therefore every facet bucket) and from MLT neighborhoods at
    the live head, while a version= pin replays the old answers —
    with MLT's df taken from the LIVE postings but N/avgdl from the
    stale pre-delete stats (the Lucene contract)."""
    docs = _docs(spark)
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    v_full = idx.table.versions()[-1]
    before_match = {r.doc_id for r in idx.match_docs(TERMS).collect()}
    before_mlt = _rows(idx.more_like_this(docs, 7, m=5, k=10))
    victims = {r.doc_id for r in idx.more_like_this(docs, 7, m=5, k=3).collect()}
    idx.delete(sorted(victims))

    live_match = {r.doc_id for r in idx.match_docs(TERMS).collect()}
    assert not victims & live_match
    assert live_match == before_match - victims or live_match <= before_match

    live_mlt = {r.doc_id for r in idx.more_like_this(docs, 7, m=5, k=10).collect()}
    assert not victims & live_mlt
    then_mlt = _rows(idx.more_like_this(docs, 7, m=5, k=10, version=v_full))
    assert then_mlt == before_mlt


def test_highlight_snippets_from_term_vectors(spark, tmp_path):
    """Snippets come from the postings' position lists (no corpus
    re-analysis): exact ±window token windows around the first matched
    term, clipped at document edges; DV-erased docs can't be hits."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta spark gamma delta epsilon zeta"),
            (2, "spark at the very start of this document"),
            (3, "ending with the query term spark"),
            (4, "no match here at all"),
        ],
        ["doc_id", "text"],
    )
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    got = {
        r.doc_id: (r.first_pos, r.snippet)
        for r in idx.highlight(docs, ["spark"], k=10, window=2).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (3, "alpha beta spark gamma delta")
    assert got[2] == (1, "spark at the")
    assert got[3] == (6, "query term spark")

    idx.delete([2])
    live = {r.doc_id for r in idx.highlight(docs, ["spark"], k=10).collect()}
    assert live == {1, 3}


def test_materialize_dictionary_pinned_snapshot(spark, tmp_path):
    """materialize_dictionary freezes the first-char-partitioned
    serving artifact FROM a pinned snapshot and reports the derivation
    version — the rebuild-cadence contract: the artifact equals
    suggest() at that pin even after the index advances."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (  # noqa: E501
        suggest_terms,
    )

    docs = _docs(spark)
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    dict_path = str(tmp_path / "dict")
    v = idx.materialize_dictionary(dict_path)
    assert v == idx.table.versions()[-1]

    idx.upsert(
        spark.createDataFrame([(10**6, "zzznew zzznew")], ["doc_id", "text"])
    )
    frozen = _rows(suggest_terms(spark, dict_path, "s", k=10))
    assert frozen == _rows(idx.suggest("s", k=10, version=v))
    # the frozen artifact is stale vs the live head by design — the
    # recorded version makes that detectable
    assert v < idx.table.versions()[-1]
    assert suggest_terms(spark, dict_path, "zzz", k=10).count() == 0
    assert idx.suggest("zzz", k=10).count() == 1


# ---------------------------------------------------------------------------
# Model-based property test (the text twin of the ANN index's
# dict-model test): ANY interleaving of upsert-new / reindex / delete
# must leave the index equal to a plain {doc_id: text} model — in
# POSTINGS content and in SEARCH results (match ranking computed
# brute-force over the model, same tie-breaks).
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon"]
_TEXT = st.lists(
    st.sampled_from(_WORDS), min_size=1, max_size=6
).map(" ".join)
_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("up"),
            st.dictionaries(st.integers(0, 9), _TEXT, min_size=1, max_size=3),
        ),
        st.tuples(
            st.just("reindex"),
            st.dictionaries(st.integers(0, 9), _TEXT, min_size=1, max_size=3),
        ),
        st.tuples(
            st.just("del"),
            st.lists(st.integers(0, 9), min_size=1, max_size=3).map(
                lambda xs: dict.fromkeys(xs)
            ),
        ),
    ),
    min_size=1,
    max_size=4,
)


def _model_search(model, terms, k):
    scored = []
    for d, text in model.items():
        toks = text.split()
        n = len(set(toks) & set(terms))
        tf = sum(1 for t in toks if t in terms)
        if n > 0:
            scored.append((-n, -tf, d))
    return [
        (d, -n, -tf) for n, tf, d in sorted(scored)[:k]
    ]


@given(ops=_OPS)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_text_index_matches_dict_model(spark, tmp_path_factory, ops):
    idx = ManagedTextIndex(
        spark, str(tmp_path_factory.mktemp("mtx_prop"))
    )
    model: dict[int, str] = {}
    for kind, payload in ops:
        if kind == "del":
            ids = list(payload)
            if model:
                idx.delete(ids)
            for i in ids:
                model.pop(i, None)
            continue
        batch = dict(payload)
        if kind == "up":
            # plain upsert's contract: NEW documents only
            batch = {i: t for i, t in batch.items() if i not in model}
            if not batch:
                continue
        df = spark.createDataFrame(
            list(batch.items()), "doc_id long, text string"
        )
        idx.upsert(df, reindex=(kind == "reindex" and bool(model)))
        model.update(batch)

    if not model:
        return
    # postings equal the model's exact term multiset per doc
    got = sorted(
        (r["doc_id"], r["term"], r["tf"], r["dl"])
        for r in idx.table.read().collect()
    )
    want = sorted(
        (d, t, text.split().count(t), len(text.split()))
        for d, text in model.items()
        for t in set(text.split())
    )
    assert got == want
    # search ≡ brute-force model ranking (same tie-breaks)
    terms = ["alpha", "gamma"]
    hits = [
        (r.doc_id, r.n_terms_matched, r.total_tf)
        for r in idx.search(terms, k=5).collect()
    ]
    assert hits == _model_search(model, terms, 5)
    # positions column: phrase ≡ brute-force adjacency over the model
    # (round 14 — the postings carry Lucene position lists)
    phrase = ["alpha", "beta"]
    want_phrase = sorted(
        (
            -sum(
                1
                for i in range(len(toks) - 1)
                if toks[i] == phrase[0] and toks[i + 1] == phrase[1]
            ),
            d,
        )
        for d, text in model.items()
        for toks in [text.split()]
        if any(
            toks[i] == phrase[0] and toks[i + 1] == phrase[1]
            for i in range(len(toks) - 1)
        )
    )
    got_phrase = [
        (r.doc_id, r.n_matches)
        for r in idx.phrase_search(phrase, k=10).collect()
    ]
    assert got_phrase == [(d, -n) for n, d in want_phrase[:10]]


def test_fuzzy_search_snapshot_consistent_with_frozen_parity(
    spark, tmp_path
):
    """Fuzzy search equals BM25 over the hand-computed AUTO expansion
    ('sparc', 5 chars -> 1 edit: spar, spark, spars; sparse is 2
    edits away); pinning the pre-append version keeps BOTH the
    expansion dfs and the ranking on the old snapshot (a term
    introduced by the append is invisible at the pinned version)."""
    docs = spark.createDataFrame(
        [
            (0, "spark spark spars"),
            (1, "spar xy"),
            (2, "sparse spark"),
        ],
        "doc_id long, text string",
    )
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    v1 = idx.table.versions()[-1]

    assert _rows(idx.fuzzy_search(["sparc"], k=10)) == _rows(
        idx.bm25(["spar", "spark", "spars"], k=10)
    )

    # append introduces 'sparc' itself: live expansion now has an
    # exact dist-0 hit, but the pinned version still ranks without it
    idx.upsert(
        spark.createDataFrame(
            [(9, "sparc sparc")], "doc_id long, text string"
        )
    )
    live_exp = {
        (r.term, r.dist) for r in idx.fuzzy_expand(["sparc"]).collect()
    }
    old_exp = {
        (r.term, r.dist)
        for r in idx.fuzzy_expand(["sparc"], version=v1).collect()
    }
    assert ("sparc", 0) in live_exp
    assert ("sparc", 0) not in old_exp
    assert 9 in {r.doc_id for r in idx.fuzzy_search(["sparc"], k=10).collect()}
    assert 9 not in {
        r.doc_id
        for r in idx.fuzzy_search(["sparc"], k=10, version=v1).collect()
    }


def test_bm25_after_pages_stable_under_concurrent_append(spark, tmp_path):
    """Keyset pages at a pinned version concatenate to the pinned
    full ranking even when an append lands mid-pagination — the PIT
    guarantee ES needs a point-in-time context for."""
    docs = spark.createDataFrame(
        [(i, "common filler" if i % 2 else "common alone")
         for i in range(8)],
        "doc_id long, text string",
    )
    idx = ManagedTextIndex(spark, str(tmp_path / "pidx"))
    idx.upsert(docs)
    v1 = idx.table.versions()[-1]
    full = _rows(idx.bm25(["common"], k=100, version=v1))
    assert len(full) == 8

    paged, after, appended = [], None, False
    while True:
        page = _rows(
            idx.bm25_after(
                ["common"], after=after, page_size=3, version=v1
            )
        )
        if not page:
            break
        paged.extend(page)
        after = (page[-1][1], page[-1][0])
        if not appended:  # land an append between pages 1 and 2
            idx.upsert(
                spark.createDataFrame(
                    [(99, "common common common")],
                    "doc_id long, text string",
                )
            )
            appended = True
    assert paged == full
    # and the live head DOES see the new doc at the top
    assert idx.bm25_after(["common"], page_size=1).head().doc_id == 99


def test_collapse_equals_frozen_and_respects_version(spark, tmp_path):
    """Collapse equals the collapse computed by hand from the BM25
    ranking (best hit per group, groups by their top score, ties to
    the smaller group), and pinning the pre-append version keeps a
    later-appended better hit out of its group."""
    docs = spark.createDataFrame(
        [
            (0, "hit hit hit", "en"),
            (1, "hit filler pad pad", "en"),
            (2, "hit pad pad pad pad", "fr"),
            (3, "hit hit hit hit", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    idx = ManagedTextIndex(spark, str(tmp_path / "mgd"))
    idx.upsert(docs)
    v1 = idx.table.versions()[-1]

    lang = {r.doc_id: r.lang for r in docs.collect()}
    best: dict[str, tuple] = {}
    for d, s in _rows(idx.bm25(["hit"], k=10)):  # (bm25 desc, id asc)
        best.setdefault(lang[d], (lang[d], d, s, 1))
    want = sorted(best.values(), key=lambda r: (-r[2], r[0]))
    assert _rows(idx.collapse(docs, ["hit"], "lang", k=10)) == want

    extra = spark.createDataFrame(
        [(9, "hit hit hit hit hit hit", "en")],
        "doc_id long, text string, lang string",
    )
    idx.upsert(extra)
    all_docs = docs.unionByName(extra)
    live = _rows(idx.collapse(all_docs, ["hit"], "lang", k=10, inner_k=1))
    old = _rows(
        idx.collapse(all_docs, ["hit"], "lang", k=10, inner_k=1, version=v1)
    )
    assert 9 in {r[1] for r in live}
    assert 9 not in {r[1] for r in old}
