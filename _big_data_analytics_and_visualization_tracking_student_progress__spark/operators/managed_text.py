"""Manifest-managed inverted text index — the package's one full-text
index, the text twin of `ann_index.ManagedIvfIndex`.

Every full-text query (match, BM25, msearch, facets, more-like-this,
phrase/proximity, fuzzy, search_after, collapse, suggest,
significant_terms, highlight) is a method of `ManagedTextIndex`,
served from term-hash-bucketed positional postings in one
`ManifestSnapshotTable`; the pure scoring kernels the methods share
live in `textindex.py`.  A frozen corpus is simply an index that has
stopped taking commits — a query pinned to ``version=`` reads exactly
that snapshot.  The storage lifecycle comes from the manifest, so
every state change is one atomic commit:

- **Appends** are pruned MERGE commits on (term, doc) keys: only the
  bucket fragments the batch's terms hash into rewrite, every other
  bucket is inherited by reference — ingest cost tracks the batch.
- **Erasure** is a deletion-vector commit (`delete_where_dv`): a doc's
  postings scatter across every term bucket (that is WHY eager
  rewrites don't scale), so the DV commit writes one (file, row_index)
  sidecar row per doomed posting and every read anti-joins them out —
  Lucene's liveDocs, expressed as the manifest's merge-on-read DELETE.
- **Compaction** (`compact`) materializes the vectors physically and
  re-exactifies the BM25 corpus stats — Lucene's segment merge.
- **Queries** are snapshot-isolated, bucket-pruned `read_partitions`
  probes with `version=` time travel: a reader can never observe a
  half-applied append, and yesterday's ranking is a parameter away.

Reference parity: the reference delegates retrieval to Elasticsearch
(README.md:26-27 — index + Kibana); this is the ES/Lucene index
lifecycle (versioned segments, deletes-as-liveDocs, merges)
re-expressed as manifest commits, Spark-first.

Corpus stats (BM25's N and avgdl) are one tiny JSON per postings
version (driver-side atomic write — they are two longs, not data):
`bm25(version=v)` uses the newest stats at-or-below v, so stats follow
the Lucene contract — exact after build/append/compact, stale across
DV erasure until the next compaction re-exactifies them.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localframe import empty_frame, local_frame

from .dedup import portable_hash64
from .similarity import _portable_hash_py
from .text import ws_tokens
from .textindex import (
    N_BUCKETS,
    auto_fuzziness,
    bm25_fixed_point,
    collapse_from_scores,
    phrase_scores,
    proximity_scores,
)
from .upsert import ManifestSnapshotTable

__all__ = ["ManagedTextIndex"]


class ManagedTextIndex:
    """Inverted index with manifest-backed incremental maintenance.

    Contract mirrors Lucene: `upsert` is for NEW documents (the corpus
    grows); a CHANGED document must go through ``upsert(reindex=True)``
    (delete-then-insert) because its term SET changes — a keyed MERGE
    alone would update shared (term, doc) rows but leave the doc's
    dropped terms' postings behind.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = N_BUCKETS,
        keep_versions: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.n_buckets = n_buckets
        # stable_partitions: __b = f(term, n_buckets) is a pure function
        # of the key's term component, so a (term, doc) row can never
        # change bucket — the pruned-MERGE soundness condition.
        self.table = ManifestSnapshotTable(
            spark,
            os.path.join(path, "postings"),
            keys=["term", id_col],
            order_cols=["__seq"],
            partition_by=["__b"],
            stable_partitions=True,
            keep_versions=keep_versions,
            stats_cols=[id_col],
        )

    # -- write path -----------------------------------------------------
    def _postings(self, docs: DataFrame, seq: int) -> DataFrame:
        """POSITIONAL postings (term, doc, tf, dl, positions): the
        index carries the Lucene position-list shape, so phrase and
        proximity queries serve from the same manifest-maintained
        postings as BM25 — ES serves match AND match_phrase from one
        index, and so does this tier.  Positions are 1-based indices
        into the non-empty token sequence, sorted ascending."""
        nonempty = F.filter(
            ws_tokens(F.col(self.text_col)), lambda t: t != F.lit("")
        )
        toks = docs.select(
            F.col(self.id_col),
            F.posexplode(nonempty).alias("pos0", "term"),
            F.size(nonempty).alias("dl"),
        ).select(
            self.id_col,
            "term",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            "dl",
        )
        return (
            toks.groupBy("term", self.id_col)
            .agg(
                F.count(F.lit(1)).cast("int").alias("tf"),
                F.first("dl").cast("int").alias("dl"),
                F.array_sort(F.collect_list("pos")).alias("positions"),
            )
            .withColumn(
                "__b",
                F.pmod(portable_hash64(F.col("term")), F.lit(self.n_buckets)),
            )
            .withColumn("__seq", F.lit(seq))
        )

    def _next_seq(self) -> int:
        vs = self.table.versions()
        return (vs[-1] + 1) if vs else 1

    def upsert(self, docs: DataFrame, reindex: bool = False) -> int:
        """Index a document batch: tokenize → (term, doc) postings with
        denormalized dl → pruned MERGE into the term-bucket partitions.
        With ``reindex`` the ids are DV-deleted first so a re-written
        document cannot leave postings of its dropped terms behind.

        Stats note: a reindexed document counts toward n_docs/total_dl
        AGAIN (its DV-deleted postings never decremented them) — the
        Lucene maxDoc semantics, where an updated doc occupies two
        slots until a merge; `compact` re-exactifies."""
        if reindex and self.table.versions():
            self.delete(docs.select(self.id_col))
        batch = self._postings(docs, self._next_seq())
        v = self.table.upsert(batch)
        # corpus stats advance EXACTLY on append: new docs add their
        # counts on top of the version the merge was based on
        prev = self._stats_at(None)
        add = docs.select(
            F.size(
                F.filter(
                    ws_tokens(F.col(self.text_col)),
                    lambda t: t != F.lit(""),
                )
            ).alias("dl")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("t"),
        ).head()
        self._write_stats(
            v,
            prev["n_docs"] + int(add["n"]),
            prev["total_dl"] + int(add["t"]),
        )
        return v

    def delete(self, ids) -> int:
        """Right-to-erasure as a deletion-vector commit: no posting
        file rewrites — one sidecar row per doomed posting, anti-joined
        out of every subsequent read (and of time-travel reads AT or
        AFTER this version; earlier snapshots still serve the doc,
        exactly like Delta DVs).  ``ids``: DataFrame or iterable.
        The id batch becomes an IN-list literal, so this path is for
        erasure-sized batches (operational metadata, like the GDPR
        request itself); corpus-scale deletion is a rebuild.
        Stats stay at their pre-delete values until `compact` —
        Lucene's deletes-don't-touch-stats-until-merge semantics."""
        if isinstance(ids, DataFrame):
            vals = [r[0] for r in ids.select(self.id_col).distinct().collect()]
        else:
            vals = sorted(set(ids))
        if not vals:
            vs = self.table.versions()
            return vs[-1] if vs else 0
        return self.table.delete_where_dv(F.col(self.id_col).isin(vals))

    def compact(self) -> int:
        """Lucene's segment merge as one manifest OPTIMIZE commit:
        materializes deletion vectors physically, bin-packs each
        bucket (one task's output per bucket), and re-exactifies the
        corpus stats from the surviving postings (dl rides
        denormalized — one row per doc recovers the exact length
        without the corpus)."""
        v = self.table.compact()
        live = self.table.read()
        if live is None:
            self._write_stats(v, 0, 0)
            return v
        row = (
            live.groupBy(self.id_col)
            .agg(F.first("dl").alias("dl"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("t"),
            )
            .head()
        )
        self._write_stats(v, int(row["n"]), int(row["t"]))
        return v

    # -- corpus stats -----------------------------------------------------
    def _stats_dir(self) -> str:
        return os.path.join(self.path, "stats")

    def _write_stats(self, version: int, n_docs: int, total_dl: int) -> None:
        """Two longs per postings version, written atomically (tmp +
        rename) driver-side — never a Spark job."""
        d = self._stats_dir()
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, f"v={version:05d}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"n_docs": n_docs, "total_dl": total_dl}, fh)
        os.replace(tmp, final)

    def _stats_at(self, version: int | None) -> dict:
        """Newest recorded stats at-or-below ``version`` (latest when
        None).  A missing file for an intermediate version (crash
        between postings commit and stats write) falls back to the
        previous version's stats — the documented stale-stats regime;
        the next append/compact re-exactifies."""
        d = self._stats_dir()
        if os.path.isdir(d):
            # select by PARSED version int, not filename order: past
            # v=99999 the zero-padded name sorts wrong (v=100000 <
            # v=99999 lexicographically) but the int comparison doesn't
            cands = [
                int(name[2:-5])
                for name in os.listdir(d)
                if name.startswith("v=") and name.endswith(".json")
            ]
            cands = [v for v in cands if version is None or v <= version]
            if cands:
                best = f"v={max(cands):05d}.json"
                with open(os.path.join(d, best)) as fh:
                    return json.load(fh)
        return {"n_docs": 0, "total_dl": 0}

    # -- read path --------------------------------------------------------
    def _pruned(
        self, query_terms: list[str], version: int | None
    ) -> DataFrame | None:
        buckets = sorted(
            {_portable_hash_py(t) % self.n_buckets for t in query_terms}
        )
        cand, _, total = self.table.read_partitions(
            [(b,) for b in buckets], version=version
        )
        if cand is None:
            if total == 0:
                raise ValueError("index is empty — nothing to search")
            return None
        return cand.filter(F.col("term").isin(query_terms))

    def search(
        self,
        query_terms: list[str],
        k: int = 10,
        version: int | None = None,
    ) -> DataFrame:
        """Analyzed `match` (same contract as the brute-force
        `text.text_search`): (distinct terms matched, total tf) ranking
        over the snapshot's live postings."""
        postings = self._pruned(query_terms, version)
        if postings is None:
            return empty_frame(
                self.spark,
                f"{self.id_col} {self._id_type(version)}, "
                "n_terms_matched int, total_tf int",
            )
        scored = postings.groupBy(self.id_col).agg(
            F.count_distinct(F.col("term"))
            .cast("int")
            .alias("n_terms_matched"),
            F.sum("tf").cast("int").alias("total_tf"),
        )
        return scored.orderBy(
            F.col("n_terms_matched").desc(),
            F.col("total_tf").desc(),
            F.col(self.id_col),
        ).limit(k)

    def bm25(
        self,
        query_terms: list[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        version: int | None = None,
    ) -> DataFrame:
        """BM25 top-k over the (optionally time-traveled) snapshot
        through the `textindex.bm25_fixed_point` kernel: bucket-pruned
        postings carry tf and dl (Lucene norms-in-postings), df comes
        from the pruned postings themselves and N/avgdl from the
        version's corpus stats — scoring never touches the corpus."""
        agg = self._bm25_agg(query_terms, k1, b, version)
        if agg is None:
            return empty_frame(
                self.spark,
                f"{self.id_col} {self._id_type(version)}, bm25 double"
            )
        return (
            agg.orderBy(F.col("s").desc(), F.col(self.id_col))
            .limit(k)
            .select(
                self.id_col,
                (F.col("s") / F.lit(10000.0)).alias("bm25"),
            )
        )

    def _bm25_agg(
        self,
        query_terms: list[str],
        k1: float,
        b: float,
        version: int | None,
    ):
        """The unlimited (id, s) fixed-point aggregate `bm25` tops-k
        and `bm25_after` paginates; None when no bucket has live
        postings for the terms."""
        stats = self._stats_at(version)
        if stats["n_docs"] <= 0:
            raise ValueError("index has no recorded corpus stats")
        n_docs = int(stats["n_docs"])
        avgdl = float(stats["total_dl"]) / n_docs
        postings = self._pruned(query_terms, version)
        if postings is None:
            return None
        scored = bm25_fixed_point(
            postings, n_docs, avgdl, k1, b, self.id_col
        )
        return scored.groupBy(self.id_col).agg(F.sum("s_fp").alias("s"))

    def bm25_after(
        self,
        query_terms: list[str],
        after: tuple[float, object] | None = None,
        page_size: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        version: int | None = None,
    ) -> DataFrame:
        """ES ``search_after`` keyset pagination over the snapshot's
        BM25 ranking: the boundary compares on the
        exact 1e-4 fixed-point integer (no skip/dup at score ties),
        and pinning ``version`` makes deep paging IMMUNE to concurrent
        appends/erasures — every page reads the same snapshot, the
        consistency ES approximates with its point-in-time (PIT)
        contexts."""
        import math

        agg = self._bm25_agg(query_terms, k1, b, version)
        if agg is None:
            return empty_frame(
                self.spark,
                f"{self.id_col} {self._id_type(version)}, bm25 double"
            )
        if after is not None:
            a_bm25, a_id = after
            a_s = int(math.floor(a_bm25 * 10000.0 + 0.5))
            agg = agg.filter(
                (F.col("s") < F.lit(a_s))
                | (
                    (F.col("s") == F.lit(a_s))
                    & (F.col(self.id_col) > F.lit(a_id))
                )
            )
        return (
            agg.orderBy(F.col("s").desc(), F.col(self.id_col))
            .limit(page_size)
            .select(
                self.id_col,
                (F.col("s") / F.lit(10000.0)).alias("bm25"),
            )
        )

    def fuzzy_expand(
        self,
        query_terms: list[str],
        fuzziness: int | None = None,
        max_expansions: int = 50,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot-consistent ES fuzzy term expansion: candidate
        terms and their df come from ONE aggregate over the pinned
        version's live (term, doc) postings — like `suggest`, the
        expansion can never rank by dfs from a different snapshot
        than the search that consumes it.  Ranking and caps follow ES
        (distance asc, df desc, term asc, ``max_expansions`` per query
        term; AUTO:3,6 edit budgets).
        Term-hash buckets cannot prune an edit neighborhood (ES walks
        a Levenshtein automaton over its FST for the same reason), so
        this is a postings-metadata scan with the length-band filter
        pushed ahead of the levenshtein evaluation."""
        if not query_terms:
            raise ValueError("need at least one query term")
        live = self.table.read(version=version)
        out = None
        for q in query_terms:
            q = q.lower()
            f = auto_fuzziness(q) if fuzziness is None else fuzziness
            if live is None:
                cand = empty_frame(
                    self.spark,
                    "q_term string, term string, dist int, df bigint"
                )
            else:
                cand = (
                    live.filter(
                        (F.length("term") >= F.lit(len(q) - f))
                        & (F.length("term") <= F.lit(len(q) + f))
                    )
                    .groupBy("term")
                    .agg(F.count(F.lit(1)).cast("long").alias("df"))
                    .withColumn(
                        "dist", F.levenshtein(F.lit(q), F.col("term"))
                    )
                    .filter(F.col("dist") <= F.lit(f))
                    .orderBy(
                        F.col("dist").asc(),
                        F.col("df").desc(),
                        F.col("term"),
                    )
                    .limit(max_expansions)
                    .select(
                        F.lit(q).alias("q_term"), "term", "dist", "df"
                    )
                )
            out = cand if out is None else out.unionByName(cand)
        return out

    def collapse(
        self,
        docs: DataFrame,
        query_terms: list[str],
        group_col: str,
        k: int = 10,
        inner_k: int = 1,
        k1: float = 1.2,
        b: float = 0.75,
        version: int | None = None,
    ) -> DataFrame:
        """ES field collapsing over the snapshot's BM25 ranking (the
        `collapse_from_scores` kernel over the `bm25` aggregate, so
        collapsed scores equal the ranking's); ``version`` pins the
        postings snapshot the hits come from.  ``docs`` supplies the group
        attribute; only the df-bounded hit set joins it."""
        agg = self._bm25_agg(query_terms, k1, b, version)
        if agg is None:
            gt = docs.schema[group_col].dataType.simpleString()
            return empty_frame(
                self.spark,
                f"{group_col} {gt}, {self.id_col} "
                f"{self._id_type(version)}, bm25 double, hit_rank int",
            )
        return collapse_from_scores(
            agg, docs, group_col, self.id_col, k, inner_k
        )

    def fuzzy_search(
        self,
        query_terms: list[str],
        k: int = 10,
        fuzziness: int | None = None,
        max_expansions: int = 50,
        version: int | None = None,
    ) -> DataFrame:
        """ES ``match`` with fuzziness, snapshot-consistent end to
        end: the expansion and the BM25 scoring read the SAME pinned
        version.  The expansion collect is bounded by n_query_terms ×
        max_expansions rows."""
        exp = self.fuzzy_expand(
            query_terms, fuzziness, max_expansions, version
        )
        expanded = sorted({r["term"] for r in exp.collect()})
        if not expanded:
            return empty_frame(
                self.spark,
                f"{self.id_col} {self._id_type(version)}, bm25 double"
            )
        return self.bm25(expanded, k=k, version=version)

    def msearch(
        self,
        queries: dict[object, list[str]],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        version: int | None = None,
    ) -> DataFrame:
        """Batched multi-query BM25 over one snapshot (the ES
        `_msearch` shape): the UNION of all queries' term buckets is
        read once (snapshot-isolated, DV-filtered),
        the per-(doc, term) kernel score is computed once per posting,
        and a broadcast (q_id, term) join fans postings out to their
        queries.  Per-query results are bit-identical to `bm25` alone
        at the same version.  Returns (q_id, <id_col>, bm25, rank)."""
        stats = self._stats_at(version)
        if stats["n_docs"] <= 0:
            raise ValueError("index has no recorded corpus stats")
        n_docs = int(stats["n_docs"])
        avgdl = float(stats["total_dl"]) / n_docs
        pairs = sorted(
            {(qid, t) for qid, terms in queries.items() for t in terms}
        )
        if not pairs:
            raise ValueError("msearch needs at least one query with terms")
        all_terms = sorted({t for _q, t in pairs})
        postings = self._pruned(all_terms, version)
        if postings is None:
            # empty-result schema must agree with the non-empty path,
            # which infers q_id's type from the dict keys — derive the
            # DDL the same way instead of hardcoding long
            q_ddl = "string" if isinstance(pairs[0][0], str) else "long"
            return empty_frame(
                self.spark,
                f"q_id {q_ddl}, {self.id_col} {self._id_type(version)}, "
                "bm25 double, rank int",
            )
        scored = bm25_fixed_point(
            postings, n_docs, avgdl, k1, b, self.id_col
        )
        qt = local_frame(self.spark, pairs, ["q_id", "term"])
        per_q = (
            scored.join(F.broadcast(qt), "term")
            .groupBy("q_id", self.id_col)
            .agg(F.sum("s_fp").alias("s"))
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("s").desc(), F.col(self.id_col)
        )
        return (
            per_q.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "q_id",
                self.id_col,
                (F.col("s") / F.lit(10000.0)).alias("bm25"),
                "rank",
            )
        )

    def match_docs(
        self,
        query_terms: list[str],
        version: int | None = None,
    ) -> DataFrame:
        """Unranked match aggregate (every doc matching ≥1 query term,
        with n_terms_matched / total_tf) — the facet feed: join it to
        a dimension and aggregate for the ES terms-aggregation-on-query
        shape, snapshot-isolated like every other managed read.
        Bounded by the query terms' document frequencies."""
        postings = self._pruned(query_terms, version)
        if postings is None:
            return empty_frame(
                self.spark,
                f"{self.id_col} {self._id_type(version)}, "
                "n_terms_matched int, total_tf int",
            )
        return postings.groupBy(self.id_col).agg(
            F.count_distinct(F.col("term"))
            .cast("int")
            .alias("n_terms_matched"),
            F.sum("tf").cast("int").alias("total_tf"),
        )

    def significant_terms(
        self,
        fg_terms: list[str],
        k: int = 15,
        version: int | None = None,
    ) -> DataFrame:
        """Elasticsearch `significant_terms` aggregation over the
        snapshot: terms over-represented in the FOREGROUND (docs
        matching ``fg_terms``) relative to the whole corpus, ranked by
        the JLH heuristic (fg% − bg%) × (fg% / bg%) — ES's default
        sig-terms score.  The query terms themselves are excluded
        (they are 100% foreground by construction, exactly as ES
        excludes them).

        Determinism: with a = fg_df, b = bg_df, F = |foreground|,
        B = N docs, JLH = a·B·(a·B − b·F) / (F²·B·b) — numerator and
        denominator are exact int64 products, so the one double
        division (and hence the ranking) is bit-identical across
        engines; ties to the term.  B is the version's corpus stat,
        so it follows the Lucene contract (stale across DV erasure
        until `compact`).

        Scale posture: the fg doc set (bounded by the query's
        document frequency, never the corpus) broadcasts a membership
        flag into ONE scan of the snapshot's live postings that
        partial-aggregates fg_df and bg_df together — the one-pass
        field-data walk ES performs; all shuffled rows are
        (term, count, count) triples."""
        if not fg_terms:
            raise ValueError("need at least one foreground term")
        n_docs = int(self._stats_at(version)["n_docs"])
        fgd = self.match_docs(fg_terms, version).select(self.id_col)
        post = self.table.read(version=version)
        tot = fgd.agg(F.count(F.lit(1)).cast("long").alias("__f"))
        stats = (
            post.join(
                F.broadcast(fgd.withColumn("__fg", F.lit(1))),
                self.id_col,
                "left",
            )
            .groupBy("term")
            .agg(
                F.count(F.lit(1)).cast("long").alias("bg_df"),
                F.count("__fg").cast("long").alias("fg_df"),
            )
            .filter((F.col("fg_df") > 0) & ~F.col("term").isin(fg_terms))
        )
        a, b = F.col("fg_df"), F.col("bg_df")
        ftot, btot = F.col("__f"), F.lit(n_docs).cast("long")
        num = (a * btot * (a * btot - b * ftot)).cast("double")
        den = (ftot * ftot * btot * b).cast("double")
        jlh = F.floor(num / den * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        return (
            stats.crossJoin(F.broadcast(tot))
            .select("term", "fg_df", "bg_df", jlh.alias("jlh"))
            .orderBy(F.col("jlh").desc(), F.col("term"))
            .limit(k)
        )

    def more_like_this(
        self,
        docs: DataFrame,
        doc_id,
        m: int = 5,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        version: int | None = None,
    ) -> DataFrame:
        """ES `more_like_this`, snapshot-served: rank the source
        doc's own terms by fixed-point tf·idf — df from the
        bucket-pruned LIVE postings at the pinned version, N from the
        version's corpus stats — take the top ``m`` (ties to the
        lexicographically smaller term), BM25-search them with the
        source doc excluded from the hits while its df contribution
        stays (ES behavior).  Driver materialization is bounded by one
        document's vocabulary; after a DV erasure the erased docs
        neither count toward df nor appear in the hits at the live
        head, but a `version=` pin replays the old neighborhood."""
        stats = self._stats_at(version)
        if stats["n_docs"] <= 0:
            raise ValueError("index has no recorded corpus stats")
        n_docs = int(stats["n_docs"])
        avgdl = float(stats["total_dl"]) / n_docs
        nonempty = F.filter(
            ws_tokens(F.col(self.text_col)), lambda t: t != F.lit("")
        )
        src = [
            (r["term"], int(r["tf"]))
            for r in docs.filter(F.col(self.id_col) == doc_id)
            .select(F.explode(nonempty).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
            .collect()
        ]
        if not src:
            raise ValueError(f"document {doc_id!r} not found or has no terms")
        src_terms = sorted(t for t, _tf in src)
        pruned = self._pruned(src_terms, version)
        if pruned is None:
            raise ValueError(
                f"none of document {doc_id!r}'s terms are in the index"
            )
        dfs = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        tf_tbl = local_frame(self.spark, src, ["term", "tf"])
        idf = F.log(
            (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        )
        ranked = (
            dfs.join(F.broadcast(tf_tbl), "term")
            .select(
                "term",
                F.floor(
                    F.col("tf").cast("double") * idf * F.lit(10000.0)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("s_fp"),
            )
            .orderBy(F.col("s_fp").desc(), F.col("term"))
            .limit(m)
        )
        query_terms = [r["term"] for r in ranked.collect()]
        scored = bm25_fixed_point(
            self._pruned(query_terms, version), n_docs, avgdl, k1, b,
            self.id_col,
        )
        agg = (
            scored.filter(F.col(self.id_col) != doc_id)
            .groupBy(self.id_col)
            .agg(F.sum("s_fp").alias("s"))
        )
        return (
            agg.orderBy(F.col("s").desc(), F.col(self.id_col))
            .limit(k)
            .select(
                self.id_col,
                (F.col("s") / F.lit(10000.0)).alias("bm25"),
            )
        )

    def phrase_search(
        self,
        phrase: list[str],
        k: int = 10,
        version: int | None = None,
    ) -> DataFrame:
        """Exact phrase match (ES match_phrase) from the positional
        postings — the `phrase_scores` kernel over the
        snapshot-isolated, DV-filtered, bucket-pruned read: erased
        docs can never phrase-match at the live head, and a
        `version=` pin replays yesterday's corpus exactly."""
        postings = self._pruned(phrase, version)
        if postings is None:
            return empty_frame(
                self.spark,
                f"{self.id_col} {self._id_type(version)}, n_matches int",
            )
        scored = phrase_scores(postings, phrase, self.id_col)
        return scored.orderBy(
            F.col("n_matches").desc(), F.col(self.id_col)
        ).limit(k)

    def proximity_search(
        self,
        term_a: str,
        term_b: str,
        slop: int = 3,
        k: int = 10,
        version: int | None = None,
    ) -> DataFrame:
        """Unordered proximity (Lucene slop) query over the managed
        positional postings; same snapshot/DV/pruning contract as
        `phrase_search`."""
        postings = self._pruned([term_a, term_b], version)
        if postings is None:
            return empty_frame(
                self.spark,
                f"{self.id_col} {self._id_type(version)}, n_matches int",
            )
        scored = proximity_scores(
            postings, term_a, term_b, slop, self.id_col
        )
        return scored.orderBy(
            F.col("n_matches").desc(), F.col(self.id_col)
        ).limit(k)

    def suggest(
        self,
        prefix: str,
        k: int = 10,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot-consistent completion suggester: term completions
        ranked by document frequency, derived FROM THE POSTINGS at the
        pinned version — df per term is one count over the live
        (term, doc) rows, so suggest can never serve terms from a
        different snapshot than search (ES keeps its FST inside the
        live index for the same reason).

        Scale posture: a term-HASH bucket can never prune a PREFIX
        query, so this reads postings metadata across buckets — one
        aggregate over (term, doc) rows, no corpus text.  At serving
        scale, `materialize_dictionary` freezes a first-char-
        partitioned dictionary FROM a pinned snapshot (recorded
        version) for O(one partition) lookups."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        prefix = prefix.lower()
        live = self.table.read(version=version)
        if live is None:
            return empty_frame(self.spark, "term string, df bigint")
        return (
            live.filter(F.col("term").startswith(prefix))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term"))
            .limit(k)
        )

    def materialize_dictionary(
        self, path: str, version: int | None = None
    ) -> int:
        """Freeze the suggester dictionary (term, df) from a pinned
        snapshot into the first-char-partitioned layout
        `textindex.suggest_terms` serves from, and return the postings
        version it was derived from — the documented rebuild cadence
        for high-QPS prefix serving: the artifact is stale the moment
        the index advances past the returned version, and a caller
        comparing it to `table.versions()[-1]` knows exactly when to
        re-freeze."""
        vs = self.table.versions()
        v = vs[-1] if version is None and vs else version
        live = self.table.read(version=v)
        if live is None:
            raise ValueError("index is empty — nothing to materialize")
        terms = (
            live.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .withColumn("__c1", F.substring(F.col("term"), 1, 1))
        )
        (
            terms.repartition(F.col("__c1"))
            .write.mode("overwrite")
            .partitionBy("__c1")
            .parquet(path)
        )
        return int(v)

    def highlight(
        self,
        docs: DataFrame,
        query_terms: list[str],
        k: int = 10,
        window: int = 3,
        k1: float = 1.2,
        b: float = 0.75,
        version: int | None = None,
    ) -> DataFrame:
        """ES highlighting from stored term vectors: BM25 top-k at the
        snapshot, then a snippet of ±``window`` tokens around each
        hit's FIRST matched-term occurrence — the match position comes
        from the postings' position lists (the term-vector highlight
        path: no re-analysis of the corpus; the only text read is the
        k hit documents').  Returns (id, bm25, first_pos, snippet),
        ranked.  Deterministic: the earliest position of any matched
        query term, ties already impossible (positions are distinct).
        """
        # the ranked hit list is k rows by construction — materialize
        # it once driver-side (bounded, like a centroid table) so the
        # three downstream uses don't re-execute the BM25 job and the
        # hit-id filters reach the postings/docs scans as pushed
        # IN-list predicates: highlight cost is O(k) text, one ranking
        hit_rows = self.bm25(
            query_terms, k=k, k1=k1, b=b, version=version
        ).collect()
        id_ddl = self._id_type(version)
        if not hit_rows:
            return empty_frame(
                self.spark,
                f"{self.id_col} {id_ddl}, bm25 double, "
                "first_pos int, snippet string",
            )
        hits = self.spark.createDataFrame(
            [(r[0], float(r[1])) for r in hit_rows],
            f"{self.id_col} {id_ddl}, bm25 double",
        )
        hit_ids = [r[0] for r in hit_rows]
        postings = self._pruned(query_terms, version)
        firsts = (
            postings.filter(F.col(self.id_col).isin(hit_ids))
            .groupBy(self.id_col)
            .agg(
                F.min(F.element_at(F.col("positions"), 1))
                .cast("int")
                .alias("first_pos")
            )
        )
        nonempty = F.filter(
            ws_tokens(F.col(self.text_col)), lambda t: t != F.lit("")
        )
        toks = docs.filter(F.col(self.id_col).isin(hit_ids)).select(
            F.col(self.id_col), nonempty.alias("__toks")
        )
        start = F.greatest(F.lit(1), F.col("first_pos") - F.lit(window))
        end = F.least(
            F.size(F.col("__toks")), F.col("first_pos") + F.lit(window)
        )
        return (
            hits.join(F.broadcast(firsts), self.id_col)
            .join(F.broadcast(toks), self.id_col)
            .select(
                self.id_col,
                "bm25",
                "first_pos",
                F.array_join(
                    F.slice(F.col("__toks"), start, end - start + F.lit(1)),
                    " ",
                ).alias("snippet"),
            )
            .orderBy(F.col("bm25").desc(), F.col(self.id_col))
        )

    def _id_type(self, version: int | None = None) -> str:
        sch = self.table.table_schema(version) or []
        for name, ddl in sch:
            if name == self.id_col:
                return ddl
        return "long"

    # -- telemetry --------------------------------------------------------
    def bucket_stats(self, version: int | None = None) -> dict:
        """Per-term-bucket occupancy from manifest metadata (zero data
        reads) with a max/mean skew summary — the text twin of
        `ManagedIvfIndex.cell_stats`.  Term buckets skew when a few
        very-high-df terms (stopwords, boilerplate) dominate: a hot
        bucket makes its queries and compaction lopsided.  Unlike IVF
        cells, the fix is analyzer-side (stopword filtering at index
        time) or a larger ``n_buckets`` at the next rebuild — the
        bucket function is frozen with the index either way."""
        from .ann_index import occupancy_summary

        buckets = {
            int(frag.split("=", 1)[1]): {
                "rows": s["rows"],
                "files": s["files"],
            }
            for frag, s in self.table.partition_stats(version).items()
        }
        return occupancy_summary("buckets", buckets)
