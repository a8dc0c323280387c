"""Round-4 additions: PageRank fixed-point invariants, Markov
transition-matrix row-normalization, unigram-LM scoring, and product
quantization (codes, ADC recall, map-side-only plans).  Value parity
with DuckDB is covered by test_oracle_parity; these pin the semantic
invariants and the 100 TB plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
    load_table,
)
from .conftest import SF_SMALL


def _q(name):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    return all_queries()[name].fn


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _buckets_read(df) -> int:
    """Number of distinct term-bucket fragments the index scan reads
    (`ManagedTextIndex` lists only the query terms' `__b=` buckets)."""
    import re

    files = df.inputFiles()
    assert files and all("__b=" in f for f in files), files
    return len({re.search(r"__b=(\d+)", f).group(1) for f in files})


class TestPageRank:
    def test_mass_conservation_and_floor(self, spark):
        # ranks are BIGINT micro-units; integer floors only ever LOSE
        # mass, and the damping teleport floor is 0.15 exactly
        df = _q("graph_pagerank_topk")(spark, SF_SMALL)
        rows = df.collect()
        assert len(rows) == 100
        assert all(r.rank_micro >= 150000 for r in rows)
        # descending, deterministic tiebreak
        ranks = [(r.rank_micro, r.node) for r in rows]
        assert ranks == sorted(ranks, key=lambda t: (-t[0], t[1]))
        # suppliers aggregate many customers' mass: the top hub must be
        # a supplier node and far above the teleport floor
        assert rows[0].node.startswith("s")
        assert rows[0].rank_micro > 1_000_000


class TestEventTransitions:
    def test_rows_normalize_to_one(self, spark):
        df = _q("event_transition_probs")(spark, SF_SMALL)
        agg = df.groupBy("src").agg(
            F.sum("p").alias("sp"), F.sum("n").alias("sn")
        )
        for r in agg.collect():
            # per-src probabilities sum to 1 within the 1e-6 edge
            # quantization (one rounding per dst)
            assert abs(r.sp - 1.0) < 1e-4, (r.src, r.sp)
            assert r.sn > 0


class TestUnigramLM:
    def test_logprob_bounds_and_rare_penalty(self, spark):
        df = _q("doc_lm_logprob")(spark, SF_SMALL)
        rows = df.collect()
        docs = load_table(spark, SF_SMALL, "documents").count()
        assert len(rows) == docs  # every (non-empty) doc scored
        # unigram probabilities are < 1 ⇒ mean log-prob strictly negative
        assert all(r.avg_logprob < 0 for r in rows)
        assert all(r.n_tok > 0 for r in rows)


class TestProductQuantization:
    def test_codes_shape_and_error_monotone(self, spark):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators import (
            similarity as S,
        )

        emb = load_table(spark, SF_SMALL, "embeddings")
        fine = S.train_pq_codebooks_portable(
            emb, "embedding", "vec_id", m=8, k=64, iters=8, sample_size=256
        )
        coarse = S.train_pq_codebooks_portable(
            emb, "embedding", "vec_id", m=8, k=1, iters=1, sample_size=256
        )

        def avg_err(books):
            enc = S.pq_encode(emb, "embedding", books)
            err = F.col("__pq0")["d"]
            for j in range(1, len(books)):
                err = err + F.col(f"__pq{j}")["d"]
            return enc.agg(F.avg(err)).head()[0]

        # a 64-entry codebook must beat the 1-entry (centroid-only)
        # codebook on mean residual error — quantization is doing work
        assert avg_err(fine) < 0.5 * avg_err(coarse)

        codes = _q("embedding_pq_codes")(spark, SF_SMALL).collect()
        assert len(codes) == emb.count()
        for r in codes[:50]:
            parts = [int(p) for p in r.codes.split("|")]
            assert len(parts) == 8
            assert all(0 <= p < 64 for p in parts)
            assert r.recon_err >= 0.0

    def test_adc_recall_vs_exact(self, spark):
        # ADC top-10 must contain the query itself and overlap the
        # exact-distance top-10 (near-uniform fixture vectors are the PQ
        # worst case; observed 7/10 at sf0.01 — pin a safe floor)
        emb = load_table(spark, SF_SMALL, "embeddings")
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        v = F.col("embedding").cast("array<double>")
        qa = F.array(*[F.lit(x) for x in q])
        d2 = F.aggregate(
            F.zip_with(v, qa, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        exact = {
            r.vec_id
            for r in emb.select("vec_id", d2.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        }
        adc = {r.vec_id for r in _q("ann_pq_adc_topk")(spark, SF_SMALL).collect()}
        assert 0 in adc
        assert len(adc & exact) >= 3

    def test_pq_plans_are_map_side_only(self, spark):
        # the entire encode is scan → one-row codebook broadcast →
        # project: ZERO shuffle exchanges (the only Exchange allowed is
        # the single-row BroadcastExchange carrying the codebooks as
        # data — see pq_encode's docstring); ADC top-k ends in
        # TakeOrdered (no global sort shuffle).  This is the property
        # that makes PQ encode embarrassingly parallel at 100 TB.
        def no_shuffle(plan: str) -> bool:
            return all(
                "Broadcast" in ln
                for ln in plan.splitlines()
                if "Exchange" in ln
            )

        codes_plan = _plan(_q("embedding_pq_codes")(spark, SF_SMALL))
        assert no_shuffle(codes_plan), codes_plan
        adc_plan = _plan(_q("ann_pq_adc_topk")(spark, SF_SMALL))
        assert no_shuffle(adc_plan), adc_plan
        assert "TakeOrdered" in adc_plan


class TestHistogramQuantileSketch:
    def test_error_bounded_by_bin_width(self, spark):
        # the sketch's contract: |estimate − exact quantile| ≤ one bin
        # width (left-edge pick inside the covering bin)
        est = {
            r.event_type: r
            for r in _q("histogram_quantile_sketch")(spark, SF_SMALL).collect()
        }
        import math

        e = load_table(spark, SF_SMALL, "events").filter(
            F.col("value").isNotNull()
        )
        by_type: dict[str, list[float]] = {}
        for r in e.select("event_type", "value").collect():
            by_type.setdefault(r.event_type, []).append(r.value)
        assert set(est) == set(by_type)
        for t, vals in by_type.items():
            vals.sort()
            n = len(vals)
            w = (vals[-1] - vals[0]) / 1024.0
            r = est[t]
            for q, got in [(0.5, r.p50_est), (0.9, r.p90_est), (0.99, r.p99_est)]:
                # the sketch returns the LEFT EDGE of the bin holding the
                # type-1 (inverse-CDF) quantile, so the exact ⌈qn⌉-th
                # order statistic lies within one bin width above it
                t1 = vals[math.ceil(q * n) - 1]
                assert -1e-6 <= t1 - got <= w + 1e-6, (t, q, got, t1, w)


class TestInvertedIndex:
    def test_index_search_equals_scan_and_prunes(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.text import (
            text_search,
        )
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = load_table(spark, SF_SMALL, "documents")
        terms = ["spark", "merge", "window"]
        mti = ManagedTextIndex(spark, str(tmp_path / "tidx"))
        mti.upsert(docs)
        idx = mti.search(terms, k=10)
        scan = text_search(docs, terms, k=10)
        assert [tuple(r) for r in idx.collect()] == [
            tuple(r) for r in scan.collect()
        ]
        # the index read must prune to the query terms' hash-bucket
        # fragments (≤ one per distinct term)
        assert 0 < _buckets_read(idx) <= len(terms)


class TestBM25:
    def test_incremental_append_equals_full_build(self, spark, tmp_path):
        # index maintenance contract: building on half the corpus then
        # appending the other half's postings must serve IDENTICAL
        # search and BM25 results to a single full build
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = load_table(spark, SF_SMALL, "documents")
        terms = ["spark", "merge", "window"]
        full = ManagedTextIndex(spark, str(tmp_path / "full"))
        full.upsert(docs)
        inc = ManagedTextIndex(spark, str(tmp_path / "inc"))
        inc.upsert(docs.filter(F.col("doc_id") % 2 == 0))
        inc.upsert(docs.filter(F.col("doc_id") % 2 == 1))
        for fn in ("search", "bm25"):
            a = [tuple(r) for r in getattr(full, fn)(terms, k=10).collect()]
            b = [tuple(r) for r in getattr(inc, fn)(terms, k=10).collect()]
            assert a == b, fn

    def test_bm25_scores_positive_and_rank_sane(self, spark):
        rows = _q("bm25_search_topk")(spark, SF_SMALL).collect()
        assert len(rows) == 10
        assert all(r.bm25 > 0 for r in rows)
        scores = [r.bm25 for r in rows]
        assert scores == sorted(scores, reverse=True)
        # the top doc must actually contain at least one query term
        top = (
            load_table(spark, SF_SMALL, "documents")
            .filter(F.col("doc_id") == rows[0].doc_id)
            .head()
        )
        assert any(
            t in top.text.lower().split() for t in ["spark", "merge", "window"]
        )

    def test_msearch_identical_to_per_query_single_path(self, spark, tmp_path):
        # the _msearch contract: each query's (doc, bm25) rows are
        # bit-identical to running bm25 alone, and the batched index
        # read prunes to the UNION of the queries' term buckets
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = load_table(spark, SF_SMALL, "documents")
        idx = ManagedTextIndex(spark, str(tmp_path / "midx"))
        idx.upsert(docs)
        queries = {
            1: ["spark", "merge", "window"],
            2: ["join", "hash"],
            3: ["nosuchterm"],
        }
        batched = idx.msearch(queries, k=10)
        got = batched.collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.q_id, []).append((r.doc_id, r.bm25))
        for qid, terms in queries.items():
            single = [
                (r.doc_id, r.bm25) for r in idx.bm25(terms, k=10).collect()
            ]
            assert by_q.get(qid, []) == single, qid
        # ranks are 1..n per query, ordered with the single path
        for qid, rows in by_q.items():
            n = len(rows)
            ranks = sorted(
                r.rank for r in got if r.q_id == qid
            )
            assert ranks == list(range(1, n + 1))
        n_terms = len({t for ts in queries.values() for t in ts})
        assert 0 < _buckets_read(batched) <= n_terms


class TestIVFPQ:
    def test_ivfpq_subset_of_probed_cells_and_no_shuffle(self, spark):
        # IVF-PQ = candidate pruning then ADC: the result must (a)
        # contain the query itself, (b) stay within the probed cells'
        # candidates, and (c) plan as scan → broadcast-stamp → project →
        # TakeOrdered with NO shuffle exchange (single corpus pass)
        df = _q("ann_ivfpq_topk")(spark, SF_SMALL)
        rows = df.collect()
        assert len(rows) == 10
        assert rows[0].vec_id == 0  # query's own cell always probed
        ds = [r.approx_d2 for r in rows]
        assert ds == sorted(ds)
        plan = _plan(df)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "TakeOrdered" in plan


class TestStreamIndexMaintenance:
    def test_batch_boundary_independent(self, spark, tmp_path):
        # stream the corpus one FILE per micro-batch; the per-batch
        # upserts must serve the same search as a single batch build
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = load_table(spark, SF_SMALL, "documents")
        src = str(tmp_path / "docs")
        docs.repartition(3).write.parquet(src)
        schema = spark.read.parquet(src).schema

        idx = ManagedTextIndex(spark, str(tmp_path / "idx"))
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        (
            sdf.writeStream.foreachBatch(lambda b, _i: idx.upsert(b))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        # >1 micro-batch actually ran (one commit per input file)
        assert len(idx.table.versions()) >= 3

        full = ManagedTextIndex(spark, str(tmp_path / "full"))
        full.upsert(docs)
        terms = ["spark", "merge", "window"]
        a = [tuple(r) for r in idx.search(terms, k=10).collect()]
        b = [tuple(r) for r in full.search(terms, k=10).collect()]
        assert a == b
        assert idx._stats_at(None) == full._stats_at(None)


class TestPrefixFilterJoin:
    def test_candidates_pruned_on_diverse_corpus(self, spark):
        # completeness on the real fixture is certified by the
        # brute-force oracle parity (the fixture is near-dup DENSE — 24%
        # of all pairs qualify at τ=0.8, so little CAN be pruned there).
        # The pruning property itself is pinned on a diverse corpus:
        # mostly-unique token sets + planted near-dups — candidates must
        # collapse to a small fraction of the O(n²) cross product while
        # every planted pair survives.
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.dedup import (
            portable_hash64,
        )
        from pyspark.sql import Window as W

        rows = []
        for i in range(100):
            base = [f"w{i}_{j}" for j in range(20)]
            rows.append((i, " ".join(base)))
            if i % 10 == 0:  # plant a 19/21-overlap near-dup (J ≈ 0.905)
                rows.append((1000 + i, " ".join(base[:-1] + [f"x{i}"])))
        docs = spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id",
            F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("toks"),
        )
        n_docs = docs.count()
        toks = docs.select(
            "doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok")
        )
        dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        ranked = toks.join(dfreq, "tok").select(
            "doc_id",
            "n",
            portable_hash64(F.col("tok")).alias("h"),
            F.row_number()
            .over(W.partitionBy("doc_id").orderBy("df", "tok"))
            .alias("pos"),
        )
        prefix = ranked.filter(
            F.col("pos") <= F.col("n") - F.expr("(4 * n + 4) div 5") + F.lit(1)
        ).select("doc_id", "h")
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), "h")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()
        )
        pairs = {(r.id_a, r.id_b) for r in cand.collect()}
        all_pairs = n_docs * (n_docs - 1) // 2
        assert len(pairs) < 0.05 * all_pairs, (len(pairs), all_pairs)
        for i in range(0, 100, 10):  # every planted near-dup is a candidate
            assert (i, 1000 + i) in pairs


class TestMomentStatistics:
    def test_corr_bounds_and_ols_matches_numpy(self, spark):
        import numpy as np

        rows = _q("numeric_corr_matrix")(spark, SF_SMALL).collect()
        assert len(rows) == 3
        assert all(-1.0 <= r.corr <= 1.0 for r in rows)
        # every pair must agree with numpy's corrcoef on the same data
        li_all = load_table(spark, SF_SMALL, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount"
        ).collect()
        cols = {
            c: np.array([getattr(r, c) for r in li_all])
            for c in ("l_quantity", "l_extendedprice", "l_discount")
        }
        for r in rows:
            ref = float(np.corrcoef(cols[r.col_x], cols[r.col_y])[0, 1])
            assert abs(r.corr - ref) < 1e-6, (r, ref)

        ols = {r.l_returnflag: r for r in _q("ols_price_vs_qty")(spark, SF_SMALL).collect()}
        li = load_table(spark, SF_SMALL, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
        by_flag: dict[str, list[tuple[float, float]]] = {}
        for r in li.collect():
            by_flag.setdefault(r.l_returnflag, []).append(
                (r.l_quantity, r.l_extendedprice)
            )
        assert set(ols) == set(by_flag)
        for flag, pts in by_flag.items():
            x = np.array([p[0] for p in pts])
            y = np.array([p[1] for p in pts])
            slope, intercept = np.polyfit(x, y, 1)
            assert abs(ols[flag].slope - slope) < 1e-3 * max(1.0, abs(slope))
            assert abs(ols[flag].intercept - intercept) < 1e-2 * max(
                1.0, abs(intercept)
            )
            assert 0.0 <= ols[flag].r2 <= 1.0


class TestWeightedSampling:
    def test_exactly_k_deterministic_and_weight_biased(self, spark):
        df1 = _q("weighted_sample_topk")(spark, SF_SMALL).collect()
        df2 = _q("weighted_sample_topk")(spark, SF_SMALL).collect()
        assert [tuple(r) for r in df1] == [tuple(r) for r in df2]  # replayable
        assert len(df1) == 50
        # weight-proportional sampling overrepresents heavy docs: the
        # sample's mean weight exceeds the corpus mean (306.3 vs 338.5
        # observed — deterministic, so a fixed margin is safe to pin)
        corpus_mean = (
            load_table(spark, SF_SMALL, "documents")
            .agg(F.avg("n_chars"))
            .head()[0]
        )
        sample_mean = sum(r.weight for r in df1) / len(df1)
        assert sample_mean > corpus_mean * 1.05


class TestParetoSkyline:
    def test_skyline_matches_brute_force_dominance(self, spark):
        o = [
            (r.o_orderkey, r.o_totalprice, r.day)
            for r in load_table(spark, SF_SMALL, "orders")
            .select(
                "o_orderkey",
                "o_totalprice",
                F.datediff(
                    F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
                )
                .cast("long")
                .alias("day"),
            )
            .collect()
        ]
        got = {r.o_orderkey for r in _q("pareto_front_orders")(spark, SF_SMALL).collect()}

        def dominated(k, p, d):
            return any(
                ((p2 >= p and d2 > d) or (p2 > p and d2 >= d))
                or (p2 == p and d2 == d and k2 < k)  # distinct-skyline ties
                for k2, p2, d2 in o
                if k2 != k
            )

        want = {k for k, p, d in o if not dominated(k, p, d)}
        assert got == want


class TestPhraseSearch:
    def test_positional_pruning_and_planted_phrase(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        rows = [(1, "alpha beta gamma alpha beta"), (2, "beta alpha"),
                (3, "alpha gamma beta"), (4, "alpha beta")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        idx = ManagedTextIndex(spark, str(tmp_path / "pidx"))
        idx.upsert(docs)
        got = {(r.doc_id, r.n_matches)
               for r in idx.phrase_search(["alpha", "beta"], k=10).collect()}
        # doc 1 has the phrase twice; doc 4 once; docs 2/3 have both
        # terms but never adjacent in order
        assert got == {(1, 2), (4, 1)}
        assert 0 < _buckets_read(idx.phrase_search(["alpha", "beta"], k=10)) <= 2


class TestStagingCollision:
    def test_user_columns_named_like_staging_survive(self, spark):
        """with_cluster / pq_encode stage broadcast data under __cent /
        __books and drop them afterwards; a user DataFrame that already
        has those columns must neither break the plan nor lose its data
        (ADVICE r6)."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators import (
            similarity as S,
        )

        df = (
            spark.createDataFrame(
                [(1, [1.0, 2.0]), (2, [3.0, 4.0])],
                "id int, v array<double>",
            )
            .withColumn("__cent", F.lit("mine"))
            .withColumn("__books", F.lit("mine"))
        )
        clustered = S.with_cluster(df, "v", [[1.0, 2.0], [3.0, 4.0]])
        rows = {r.id: r for r in clustered.collect()}
        assert rows[1]["__c"] == 0 and rows[2]["__c"] == 1
        assert rows[1]["__cent"] == "mine"  # user column intact

        enc = S.pq_encode(df, "v", [[[1.0], [3.0]], [[2.0], [4.0]]])
        rows = {r.id: r for r in enc.collect()}
        assert rows[1]["__pq0"]["i"] == 0 and rows[2]["__pq0"]["i"] == 1
        assert rows[1]["__books"] == "mine"  # user column intact


class TestMoreLikeThis:
    def test_mlt_sane_and_missing_doc_raises(self, spark, tmp_path):
        import pytest

        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = load_table(spark, SF_SMALL, "documents")
        idx = ManagedTextIndex(spark, str(tmp_path / "mlt"))
        idx.upsert(docs)
        hits = idx.more_like_this(docs, 7, m=5, k=10).collect()
        assert 0 < len(hits) <= 10
        assert all(r.doc_id != 7 for r in hits)  # source excluded
        scores = [r.bm25 for r in hits]
        assert scores == sorted(scores, reverse=True)
        # every hit shares at least one term with the source document
        src_terms = set(
            docs.filter(F.col("doc_id") == 7).head().text.lower().split()
        )
        top = docs.filter(F.col("doc_id") == hits[0].doc_id).head()
        assert src_terms & set(top.text.lower().split())

        with pytest.raises(ValueError, match="not found"):
            idx.more_like_this(docs, -999)


class TestSuggest:
    def test_prefix_completion_prunes_to_one_partition(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (
            suggest_terms,
        )
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = load_table(spark, SF_SMALL, "documents")
        idx = ManagedTextIndex(spark, str(tmp_path / "idx"))
        idx.upsert(docs)
        d = str(tmp_path / "dict")
        idx.materialize_dictionary(d)
        got = suggest_terms(spark, d, "s", k=10)
        rows = got.collect()
        assert rows and all(r.term.startswith("s") for r in rows)
        dfs = [r.df for r in rows]
        assert dfs == sorted(dfs, reverse=True)
        # df is the true per-term distinct-doc count
        term0 = rows[0].term
        want = (
            docs.filter(
                F.array_contains(
                    F.split(F.lower("text"), r"\s+"), term0
                )
            ).count()
        )
        assert rows[0].df == want
        # the scan partition-prunes to the single first-char directory
        plan = got._jdf.queryExecution().executedPlan().toString()
        import re

        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf and "__c1" in pf.group(1), plan[:1500]

        import pytest

        with pytest.raises(ValueError, match="non-empty"):
            suggest_terms(spark, d, "")


class TestRrfFusion:
    def test_rrf_known_lists(self, spark):
        """Hand-computed RRF over two 3-row rank lists: shared id 1
        gets both contributions, singles get one; order by fused
        score desc, ties to the smaller id."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (  # noqa: E501
            rrf_fuse,
        )

        a = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
        )
        b = spark.createDataFrame(
            [(4, 1), (1, 2), (5, 3)], "doc_id long, rank int"
        )
        got = [(r.doc_id, r.rrf) for r in rrf_fuse([a, b], k=10).collect()]
        want = sorted(
            [
                (1, 1 / 61 + 1 / 62),
                (2, 1 / 62),
                (3, 1 / 63),
                (4, 1 / 61),
                (5, 1 / 63),
            ],
            key=lambda t: (-t[1], t[0]),
        )
        assert got == want
        # missing-from-one-list contributes exactly 0 (id 1 tops both
        # singles even though its best single rank ties id 4's)
        assert got[0][0] == 1

    def test_rrf_single_list_and_k(self, spark):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (  # noqa: E501
            rrf_fuse,
        )
        import pytest

        a = spark.createDataFrame(
            [(i, i) for i in range(1, 6)], "doc_id long, rank int"
        )
        got = [r.doc_id for r in rrf_fuse([a], k=3).collect()]
        assert got == [1, 2, 3]
        with pytest.raises(ValueError):
            rrf_fuse([])


class TestSignificantTerms:
    def test_jlh_hand_computed(self, spark, tmp_path):
        """4-doc corpus, fg term 'x' in docs 0,1.  Term 'a' is in both
        fg docs and nowhere else (max JLH); 'b' is in one fg and one
        bg doc; the fg term itself is excluded."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = spark.createDataFrame(
            [
                (0, "x a b"),
                (1, "x a c"),
                (2, "b c d"),
                (3, "c d d"),
            ],
            "doc_id long, text string",
        )
        idx = ManagedTextIndex(spark, str(tmp_path / "sig"))
        idx.upsert(docs)
        got = {
            r.term: (r.fg_df, r.bg_df, r.jlh)
            for r in idx.significant_terms(["x"], k=10).collect()
        }
        assert "x" not in got

        def jlh(a, b, f=2, n=4):
            import math

            v = a * n * (a * n - b * f) / (f * f * n * b)
            return math.floor(v * 1e9 + 0.5) / 1e9

        assert got["a"] == (2, 2, jlh(2, 2))
        assert got["b"] == (1, 2, jlh(1, 2))
        assert got["c"] == (1, 3, jlh(1, 3))
        # 'd' never appears in a foreground doc -> no row
        assert "d" not in got
        # ranking: 'a' strictly dominates
        top = idx.significant_terms(["x"], k=1).head()
        assert top.term == "a"

    def test_empty_fg_terms_rejected(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )
        import pytest

        with pytest.raises(ValueError, match="foreground"):
            ManagedTextIndex(spark, str(tmp_path / "nope")).significant_terms([])


class TestNgramDecontaminate:
    def test_shared_ngram_counts(self, spark):
        """Train doc 10 embeds an exact 3-gram of bench doc 0 twice
        (counted once — distinct), doc 11 shares two different
        3-grams, doc 12 shares none, doc 13 is too short to produce
        any 3-gram."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.dedup import (  # noqa: E501
            ngram_decontaminate,
        )

        bench = spark.createDataFrame(
            [(0, "p q r s t")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [
                (10, "p q r u u p q r"),
                (11, "p q r x q r s"),
                (12, "u v w x y z"),
                (13, "p q"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.shared_ngrams
            for r in ngram_decontaminate(train, bench, n=3).collect()
        }
        assert got == {10: 1, 11: 2}

    def test_case_folding_matches_tokenizer(self, spark):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.dedup import (  # noqa: E501
            ngram_decontaminate,
        )

        bench = spark.createDataFrame(
            [(0, "Alpha Beta Gamma")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [(1, "alpha beta gamma delta")], "doc_id long, text string"
        )
        got = ngram_decontaminate(train, bench, n=3).collect()
        assert [(r.doc_id, r.shared_ngrams) for r in got] == [(1, 1)]


class TestFuzzySearch:
    def _fixture(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = spark.createDataFrame(
            [
                (0, "spark spark spars"),
                (1, "spar xy"),
                (2, "sparse spark"),
                (3, "xy zz"),
            ],
            "doc_id long, text string",
        )
        idx = ManagedTextIndex(spark, str(tmp_path / "fidx"))
        idx.upsert(docs)
        return idx

    def test_expansion_ranking_and_auto(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (  # noqa: E501
            auto_fuzziness,
        )

        idx = self._fixture(spark, tmp_path)
        assert [auto_fuzziness(t) for t in ("a", "xy", "abc", "abcde",
                                            "abcdef")] == [0, 0, 1, 1, 2]
        # q len 5 -> AUTO f=1: spark/spars/spar at dist 1; sparse is 2
        got = idx.fuzzy_expand(["sparc"]).collect()
        assert [(r.term, r.dist) for r in got] == [
            ("spark", 1),  # df 2 beats spars/spar (df 1 each)
            ("spar", 1),
            ("spars", 1),
        ]
        # len<=2 -> f=0: exact term only
        got = idx.fuzzy_expand(["xy"]).collect()
        assert [(r.term, r.dist) for r in got] == [("xy", 0)]
        # max_expansions caps the per-term list
        got = idx.fuzzy_expand(["sparc"], max_expansions=2).collect()
        assert [r.term for r in got] == ["spark", "spar"]

    def test_fuzzy_search_equals_bm25_over_expansion(self, spark, tmp_path):
        idx = self._fixture(spark, tmp_path)
        got = idx.fuzzy_search(["sparc"], k=10).collect()
        want = idx.bm25(["spar", "spark", "spars"], k=10).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert got[0].doc_id == 0  # the spark-heavy doc wins

    def test_no_expansion_is_empty_with_index_schema(self, spark, tmp_path):
        idx = self._fixture(spark, tmp_path)
        out = idx.fuzzy_search(["qqqqqqqq"], fuzziness=0)
        assert out.count() == 0
        assert dict(out.dtypes) == {"doc_id": "bigint", "bm25": "double"}


class TestSearchAfter:
    def test_pages_concatenate_to_full_ranking(self, spark, tmp_path):
        """Paging 3-at-a-time through the whole result set reproduces
        the one-shot ranking exactly — no skip, no dup, including
        across score ties (every doc here shares tf=1 so ties abound)."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = spark.createDataFrame(
            [(i, "common filler" if i % 2 else "common alone")
             for i in range(10)],
            "doc_id long, text string",
        )
        idx = ManagedTextIndex(spark, str(tmp_path / "pidx"))
        idx.upsert(docs)
        full = [tuple(r) for r in idx.bm25(["common"], k=100).collect()]
        assert len(full) == 10
        paged, after = [], None
        while True:
            page = [tuple(r) for r in idx.bm25_after(
                ["common"], after=after, page_size=3
            ).collect()]
            if not page:
                break
            paged.extend(page)
            after = (page[-1][1], page[-1][0])
        assert paged == full

    def test_first_page_equals_topk(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = spark.createDataFrame(
            [(i, f"t{i} shared") for i in range(6)],
            "doc_id long, text string",
        )
        idx = ManagedTextIndex(spark, str(tmp_path / "pidx2"))
        idx.upsert(docs)
        a = [tuple(r) for r in idx.bm25(["shared"], k=4).collect()]
        b = [tuple(r) for r in idx.bm25_after(
            ["shared"], page_size=4).collect()]
        assert a == b


class TestCollapseSearch:
    def test_collapse_groups_and_inner_hits(self, spark, tmp_path):
        """Groups ranked by their best hit; inner_k bounds hits per
        group; hit_rank is the within-group BM25 order."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.managed_text import (  # noqa: E501
            ManagedTextIndex,
        )

        docs = spark.createDataFrame(
            [
                (0, "hit hit hit", "en"),
                (1, "hit hit filler pad", "en"),
                (2, "hit pad pad pad pad", "fr"),
                (3, "hit hit hit hit", "fr"),
                (4, "nope", "de"),
            ],
            "doc_id long, text string, lang string",
        )
        idx = ManagedTextIndex(spark, str(tmp_path / "cidx"))
        idx.upsert(docs)
        full = {r.doc_id: r.bm25 for r in idx.bm25(["hit"], k=10).collect()}

        got = idx.collapse(docs, ["hit"], "lang", k=10, inner_k=1).collect()
        # one row per matched group, ordered by its best hit's score
        assert [(r.lang, r.doc_id, r.hit_rank) for r in got] == [
            ("fr", 3, 1),
            ("en", 0, 1),
        ] or [(r.lang, r.doc_id, r.hit_rank) for r in got] == [
            ("en", 0, 1),
            ("fr", 3, 1),
        ]
        # scores carried through unchanged from the BM25 ranking
        for r in got:
            assert r.bm25 == full[r.doc_id]

        got2 = idx.collapse(docs, ["hit"], "lang", k=1, inner_k=2).collect()
        assert len(got2) == 2  # one group survives k=1, two inner hits
        assert {r.lang for r in got2} == {got2[0].lang}
        assert [r.hit_rank for r in got2] == [1, 2]


class TestRrfFusionGrouped:
    def test_grouped_equals_per_group_rrf_fuse(self, spark):
        """rrf_fuse_grouped over two groups must reproduce rrf_fuse
        run independently per group."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (  # noqa: E501
            rrf_fuse,
            rrf_fuse_grouped,
        )

        a = spark.createDataFrame(
            [(1, 1, 1), (1, 2, 2), (2, 5, 1), (2, 6, 2)],
            "q_id long, doc_id long, rank int",
        )
        b = spark.createDataFrame(
            [(1, 2, 1), (1, 3, 2), (2, 6, 1), (2, 1, 2)],
            "q_id long, doc_id long, rank int",
        )
        got = rrf_fuse_grouped([a, b], k=10).collect()
        for q in (1, 2):
            aq = a.filter(F.col("q_id") == q).drop("q_id")
            bq = b.filter(F.col("q_id") == q).drop("q_id")
            want = [
                (q, r.doc_id, r.rrf)
                for r in rrf_fuse([aq, bq], k=10).collect()
            ]
            sub = [
                (r.q_id, r.doc_id, r.rrf) for r in got if r.q_id == q
            ]
            assert sub == want
        # rank is 1-based dense within each group
        for q in (1, 2):
            assert [r.rank for r in got if r.q_id == q] == [1, 2, 3]

    def test_k_caps_per_group(self, spark):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (  # noqa: E501
            rrf_fuse_grouped,
        )

        a = spark.createDataFrame(
            [(1, d, d) for d in range(1, 6)]
            + [(2, d, d) for d in range(1, 4)],
            "q_id long, doc_id long, rank int",
        )
        got = rrf_fuse_grouped([a], k=2).collect()
        assert [(r.q_id, r.doc_id) for r in got] == [
            (1, 1), (1, 2), (2, 1), (2, 2),
        ]


class TestDeterministicShuffle:
    def test_reproducible_and_seed_independent(self, spark):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.sampling import (  # noqa: E501
            deterministic_shuffle,
        )

        df = spark.createDataFrame(
            [(i,) for i in range(200)], "doc_id long"
        )
        o1 = [r.doc_id for r in deterministic_shuffle(
            df, F.col("doc_id"), seed=1
        ).orderBy("shuffle_key", "doc_id").collect()]
        o1b = [r.doc_id for r in deterministic_shuffle(
            df.repartition(7), F.col("doc_id"), seed=1
        ).orderBy("shuffle_key", "doc_id").collect()]
        o2 = [r.doc_id for r in deterministic_shuffle(
            df, F.col("doc_id"), seed=2
        ).orderBy("shuffle_key", "doc_id").collect()]
        assert o1 == o1b            # partitioning-independent
        assert o1 != o2             # epochs differ
        assert o1 != sorted(o1)     # actually shuffled
        assert sorted(o1) == sorted(o2) == list(range(200))


class TestWeightedRrf:
    def test_weights_bias_a_leg(self, spark):
        """Weighted RRF (the ES 8.16 retriever knob): with weight 2 on
        list b, its top doc overtakes the doc that tops list a."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.textindex import (  # noqa: E501
            rrf_fuse,
        )
        import pytest

        a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
        b = spark.createDataFrame([(3, 1), (4, 2)], "doc_id long, rank int")
        # unweighted: docs 1 and 3 tie at 1/61 -> smaller id wins
        flat = [r.doc_id for r in rrf_fuse([a, b], k=1).collect()]
        assert flat == [1]
        # weight 2 on list b: doc 3 = 2/61 overtakes doc 1 = 1/61
        biased = rrf_fuse([a, b], k=1, weights=[1.0, 2.0]).collect()
        assert biased[0].doc_id == 3
        assert biased[0].rrf == pytest.approx(2 / 61)
        with pytest.raises(ValueError, match="one weight"):
            rrf_fuse([a, b], weights=[1.0])
