"""Property-based tests (hypothesis): operator laws that must hold for
ANY input, not just the fixtures — merge idempotency/commutativity-ish,
salted aggregation ≡ plain aggregation, as-of join ≡ naive per-row
lookup, and the pinned grade-bucket boundaries.

Data strategy note: small row counts (≤30) keep each Spark job sub-second
while hypothesis explores the space; `deadline=None` because JVM jobs
have long tails hypothesis would otherwise flag.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

KEYS = st.sampled_from(["a", "b", "c"])
ROWS = st.lists(
    st.tuples(KEYS, st.integers(0, 20), st.integers(-5, 5)),
    min_size=1,
    max_size=30,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, s, float(v)) for k, s, v in rows], "k string, seq bigint, v double"
    )


# ---------------------------------------------------------------------------
# merge_by_key: upsert twice with the same source == upsert once
# (idempotency — the T2 effectively-once foundation).
# ---------------------------------------------------------------------------
@given(tgt=ROWS, src=ROWS)
@settings(**SETTINGS)
def test_merge_idempotent(spark, tgt, src):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        merge_by_key,
    )

    order = [F.col("seq").desc()]
    once = merge_by_key(_df(spark, tgt), _df(spark, src), ["k"], order)
    twice = merge_by_key(once, _df(spark, src), ["k"], order)
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


# ---------------------------------------------------------------------------
# merge_by_key result: exactly one row per key, and it carries the max
# seq present across target∪source for that key.
# ---------------------------------------------------------------------------
@given(tgt=ROWS, src=ROWS)
@settings(**SETTINGS)
def test_merge_keeps_latest(spark, tgt, src):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        merge_by_key,
    )

    out = merge_by_key(
        _df(spark, tgt), _df(spark, src), ["k"], [F.col("seq").desc()]
    ).collect()
    assert len({r.k for r in out}) == len(out)
    expected_max = {}
    for k, s, _ in tgt + src:
        expected_max[k] = max(expected_max.get(k, -1), s)
    for r in out:
        assert r.seq == expected_max[r.k]


# ---------------------------------------------------------------------------
# salted_agg ≡ plain groupBy for decomposable aggregates, for any salt
# bucket count.
# ---------------------------------------------------------------------------
@given(rows=ROWS, buckets=st.sampled_from([1, 2, 7]))
@settings(**SETTINGS)
def test_salted_agg_equals_plain(spark, rows, buckets):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.relational import (
        salted_agg,
    )

    df = _df(spark, rows)
    salted = salted_agg(
        df,
        ["k"],
        {"n": F.count(F.lit(1)), "s": F.sum(F.col("seq"))},
        salt_buckets=buckets,
    )
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("seq").alias("s")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


# ---------------------------------------------------------------------------
# asof_join ≡ naive per-row "greatest right ts <= left ts" lookup.
# ---------------------------------------------------------------------------
@given(
    left=st.lists(
        st.tuples(KEYS, st.integers(0, 50)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(KEYS, st.integers(0, 50), st.integers(0, 9)),
        min_size=0,
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_asof_equals_naive(spark, left, right):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.relational import (
        asof_join,
    )

    # de-dup right on (key, ts): keep the max payload for determinism of
    # the naive model (the operator breaks exact-ts ties arbitrarily
    # among right rows — exclude that ambiguity from the property).
    rmap = {}
    for k, ts, p in right:
        rmap[(k, ts)] = max(rmap.get((k, ts), -1), p)
    right = [(k, ts, p) for (k, ts), p in rmap.items()]

    ldf = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)],
        "lid bigint, k string, lts bigint",
    )
    rdf = spark.createDataFrame(
        right if right else [("zz", -999, -1)],
        "k string, rts bigint, payload bigint",
    )
    out = asof_join(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts",
        right_cols=["rts", "payload"],
    ).collect()

    naive = {}
    for i, (k, lts) in enumerate(left):
        best = None
        for rk, rts, p in right:
            if rk == k and rts <= lts and (best is None or rts > best[0]):
                best = (rts, p)
        naive[i] = best
    assert len(out) == len(left)
    for r in out:
        exp = naive[r.lid]
        got = None if r.rts is None else (r.rts, r.payload)
        assert got == exp, (r.lid, got, exp)


# ---------------------------------------------------------------------------
# Grade-bucket boundaries pinned from the reference (app.py:39-55),
# including the exact boundary values.
# ---------------------------------------------------------------------------
@given(score=st.one_of(
    st.sampled_from([9.0, 8.0, 7.0, 6.5, 5.5, 5.0, 4.0, 0.0, 10.0, 3.999]),
    st.floats(0, 10, allow_nan=False),
))
@settings(**SETTINGS)
def test_grade_bucket_matches_reference_rules(spark, score):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.functions.scalar import (
        grade_bucket_4pt,
    )

    def ref(x):  # app.py:39-55 rules
        for lo, g in [(9, 4.0), (8, 3.5), (7, 3.0), (6.5, 2.5),
                      (5.5, 2.0), (5, 1.5), (4, 1.0)]:
            if x >= lo:
                return g
        return 0.0

    got = (
        spark.range(1)
        .select(grade_bucket_4pt(F.lit(score)).alias("g"))
        .first()
        .g
    )
    assert got == ref(score)


# ---------------------------------------------------------------------------
# sequential_funnel ≡ naive per-user scan: a user reaches stage k iff a
# strictly increasing event subsequence matches the step prefix.
# ---------------------------------------------------------------------------
EVENT_TYPES = st.sampled_from(["view", "click", "purchase", "other"])
EVENT_ROWS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), EVENT_TYPES),
    min_size=1,
    max_size=30,
)


def _naive_stage(events, steps):
    """Greedy scan = earliest-match funnel; greedy is optimal here (taking
    the earliest possible match for each step never hurts later steps)."""
    stage = 0
    for _, _, typ in sorted(events, key=lambda r: (r[1], r[0])):
        if stage < len(steps) and typ == steps[stage]:
            stage += 1
    return stage


@given(rows=EVENT_ROWS)
@settings(**SETTINGS)
def test_funnel_equals_naive(spark, rows):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.windows import (
        sequential_funnel,
    )

    steps = ["view", "click", "purchase"]
    # unique (user, ts) tiebreak ids
    uniq = [(u, t, typ, i) for i, (u, t, typ) in enumerate(rows)]
    df = spark.createDataFrame(
        uniq, "user_id bigint, ts bigint, event_type string, event_id bigint"
    )
    got = {
        r["step"]: r["users_reached"]
        for r in sequential_funnel(df, steps).collect()
    }
    by_user: dict[int, list] = {}
    for u, t, typ, i in uniq:
        by_user.setdefault(u, []).append((u, t, typ, i))
    stages = [
        _naive_stage([(u, (t, i), typ) for u, t, typ, i in evs], steps)
        for u, evs in by_user.items()
    ]
    for k in range(1, len(steps) + 1):
        assert got[k] == sum(1 for s in stages if s >= k), (rows, got, stages)


# ---------------------------------------------------------------------------
# pack_by_token_budget invariants: offsets are the exclusive running sum
# in id order, pack ids are non-decreasing, and every pack except
# possibly the last per partition spans ≥ budget tokens of layout.
# ---------------------------------------------------------------------------
PACK_ROWS = st.lists(
    st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 4096)),
    min_size=1,
    max_size=30,
)


@given(rows=PACK_ROWS, budget=st.sampled_from([64, 1024]))
@settings(**SETTINGS)
def test_packing_is_concat_then_chunk(spark, rows, budget):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.corpus import (
        pack_by_token_budget,
    )

    uniq = [(part, n, i) for i, (part, n) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "part string, n_tokens bigint, doc_id bigint")
    out = pack_by_token_budget(df, "doc_id", "n_tokens", budget, "part")
    got = {
        (r["part"], r["doc_id"]): (r["offset_tokens"], r["pack_seq"])
        for r in out.collect()
    }
    by_part: dict[str, list] = {}
    for part, n, i in uniq:
        by_part.setdefault(part, []).append((i, n))
    for part, docs in by_part.items():
        cum = 0
        for i, n in sorted(docs):
            assert got[(part, i)] == (cum, cum // budget), (rows, budget, got)
            cum += n


def test_bloom_probe_has_no_false_negatives_and_prunes(spark):
    """Bloom prefilter correctness (every true match survives the probe)
    and effectiveness (a selective dim prunes most fact rows before the
    join shuffle)."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
        load_table,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    dim = (
        load_table(spark, "/root/testdata/sf0.001", "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select("o_orderkey")
    )
    bloom = bloom_build(dim, F.col("o_orderkey"))
    survivors = bloom_probe(li, F.col("l_orderkey"), bloom)

    true_keys = {r[0] for r in dim.collect()}
    expected = li.filter(F.col("l_orderkey").isin(true_keys))
    surv_rows = {tuple(r) for r in survivors.collect()}
    for row in expected.collect():
        assert tuple(row) in surv_rows  # no false negatives
    n_total, n_surv = li.count(), len(surv_rows)
    assert n_surv < n_total * 0.2, (n_surv, n_total)  # real pruning


def test_reconcile_tables_classifies_drift(spark):
    """Added / deleted / changed keys are each recovered exactly; clean
    buckets never contribute rows."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.cdc import (
        reconcile_tables,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.dedup import (
        portable_hash64,
    )

    base = spark.range(0, 500).select(
        F.col("id").alias("k"),
        portable_hash64(F.concat_ws("|", F.col("id"), F.lit("v1"))).alias("fp"),
    )
    # replica: drop k%71==0, change fp for k%53==0, add keys 1000..1004
    replica = (
        spark.range(0, 500)
        .filter(F.col("id") % 71 != 0)
        .select(
            F.col("id").alias("k"),
            portable_hash64(
                F.concat_ws(
                    "|",
                    F.col("id"),
                    F.when(F.col("id") % 53 == 0, F.lit("v2")).otherwise(
                        F.lit("v1")
                    ),
                )
            ).alias("fp"),
        )
        .unionByName(
            spark.range(1000, 1005).select(
                F.col("id").alias("k"),
                portable_hash64(
                    F.concat_ws("|", F.col("id"), F.lit("v1"))
                ).alias("fp"),
            )
        )
    )
    got = {(r["k"], r["diff_type"]) for r in reconcile_tables(base, replica).collect()}
    want = set()
    for k in range(500):
        if k % 71 == 0:
            want.add((k, "deleted"))
        elif k % 53 == 0:
            want.add((k, "changed"))
    for k in range(1000, 1005):
        want.add((k, "added"))
    assert got == want


# ---------------------------------------------------------------------------
# int8 quantization: per-element reconstruction error is bounded by
# scale/2 (half a code step), for ANY vector — the contract that makes
# dequantized scoring trustworthy.
# ---------------------------------------------------------------------------
VECS = st.lists(
    st.lists(
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
        min_size=4,
        max_size=8,
    ),
    min_size=1,
    max_size=8,
)


@given(vecs=VECS)
@settings(**SETTINGS)
def test_quantize_int8_error_bound(spark, vecs):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.similarity import (
        dequantized,
        quantize_int8,
    )

    # pad/truncate to uniform dim (fixed-dim embedding contract)
    dim = 4
    rows = [(i, [float(x) for x in (v + [0.0] * dim)[:dim]]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = (
        quantize_int8(df)
        .withColumn("dq", dequantized(F.col("codes"), F.col("scale")))
        .collect()
    )
    for r in out:
        if r.codes is None:
            # scale 0 → NULL codes: the zero vector, or one so tiny that
            # max|x|/127 underflows to 0 (subnormal range) — both are
            # unrepresentable by int8 × double-scale by construction
            assert all(abs(x) / 127.0 == 0.0 for x in r["__v"])
            continue
        assert all(abs(c) <= 127 for c in r.codes)
        for orig, rec in zip(r["__v"], r.dq):
            assert abs(orig - rec) <= r.scale / 2 + 1e-9 * abs(orig)


# ---------------------------------------------------------------------------
# Overlapping chunking: every word appears in at least one chunk, chunk
# starts advance by the stride, and consecutive full chunks overlap by
# window - stride words — for ANY document.
# ---------------------------------------------------------------------------
WORDS = st.lists(
    st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=1, max_size=120
)


@given(words=WORDS)
@settings(**SETTINGS)
def test_overlap_chunks_cover_every_word(spark, words):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.northstar import (
        _CHUNK_S,
        _CHUNK_W,
        q_overlap_chunks,
    )
    import os
    import tempfile

    text = " ".join(words)
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    chunks = {r.chunk_id: r.chunk for r in q_overlap_chunks(spark, d).collect()}

    n = len(words)
    expect_chunks = (n - 1) // _CHUNK_S + 1
    assert len(chunks) == expect_chunks
    rebuilt = []
    for i in range(expect_chunks):
        got = chunks[i].split(" ") if chunks[i] else []
        want = words[i * _CHUNK_S : i * _CHUNK_S + _CHUNK_W]
        assert got == want, (i, got, want)
        rebuilt.extend(want)
    assert set(rebuilt) == set(words)


# ---------------------------------------------------------------------------
# Image codec round-trip: for ANY dimensions the stdlib BMP and PNG
# encoders produce files their decoders recover exactly — dims and the
# closed-form index checksum.  Pure-Python (no Spark), so hypothesis
# can sweep the dimension space cheaply; stride padding (BMP) and
# scanline filtering (PNG) are where a hand-rolled codec would break.
# ---------------------------------------------------------------------------
@given(w=st.integers(1, 48), h=st.integers(1, 48))
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_any_dims(w, h):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.multimodal import (
        encode_bmp,
        real_decode,
    )

    got_w, got_h, pixel_sum = real_decode(encode_bmp(w, h))
    assert (got_w, got_h) == (w, h)
    assert pixel_sum == sum(
        i % 256 + (2 * i) % 256 + (3 * i) % 256 for i in range(w * h)
    )


@given(w=st.integers(1, 48), h=st.integers(1, 48))
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_any_dims(w, h):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    got_w, got_h, pixel_sum = decode_png(encode_png(w, h))
    assert (got_w, got_h) == (w, h)
    assert pixel_sum == sum(i % 256 for i in range(w * h))


# ---------------------------------------------------------------------------
# ManifestSnapshotTable: for ANY sequence of batches with arbitrary
# partition touch patterns, every snapshot version equals a plain
# last-write-wins dict model replayed over the batch prefix — i.e.
# manifest inheritance across mixed-version partitions is exactly
# equivalent to full-table recomputation at every point in history.
# ---------------------------------------------------------------------------
BATCHES = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["d1", "d2", "d3"]),
            st.integers(0, 3),
            st.integers(-5, 5),
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@given(batches=BATCHES)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_manifest_snapshots_equal_model(spark, batches):
    import shutil
    import tempfile

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        ManifestSnapshotTable,
    )

    root = tempfile.mkdtemp(prefix="ms_prop_")
    try:
        t = ManifestSnapshotTable(
            spark, root, keys=["day", "k"], order_cols=["seq"],
            partition_by=["day"],
        )
        model: dict[tuple[str, int], float] = {}
        snapshots = []
        for i, batch in enumerate(batches):
            # unique key per batch (keep last) + seq = batch index, so
            # last-write-wins is unambiguous and tie-free
            dedup = {}
            for day, k, v in batch:
                dedup[(day, k)] = float(v)
            rows = [
                (day, k, v, i) for (day, k), v in dedup.items()
            ]
            t.upsert(
                spark.createDataFrame(
                    rows, "day string, k int, v double, seq int"
                )
            )
            model.update(dedup)
            snapshots.append(dict(model))
        for v, expect in enumerate(snapshots, start=1):
            got = {
                (r.day, r.k): r.v for r in t.read(version=v).collect()
            }
            assert got == expect, f"version {v} diverged from model"
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# ManifestSnapshotTable: the partition-pruned merge (only batch-touched
# fragments rewritten, the rest inherited by reference) must be
# observationally identical to the unpartitioned table's whole-fragment
# rewrite for ANY batch sequence.
# ---------------------------------------------------------------------------
@given(batches=BATCHES)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pruned_merge_equals_full_merge(spark, batches):
    import shutil
    import tempfile

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        ManifestSnapshotTable,
    )

    root = tempfile.mkdtemp(prefix="kp_prop_")
    try:
        pruned = ManifestSnapshotTable(
            spark, f"{root}/p", keys=["day", "k"], order_cols=["seq"],
            partition_by=["day"],
        )
        plain = ManifestSnapshotTable(
            spark, f"{root}/f", keys=["day", "k"], order_cols=["seq"],
            partition_by=(),
        )
        for i, batch in enumerate(batches):
            dedup = {}
            for day, k, v in batch:
                dedup[(day, k)] = float(v)
            df = spark.createDataFrame(
                [(day, k, v, i) for (day, k), v in dedup.items()],
                "day string, k int, v double, seq int",
            )
            pruned.upsert(df)
            plain.upsert(df)
        assert set(plain.manifest()) == {""}  # one fragment, whole table
        got_p = sorted(
            (r.day, r.k, r.v, r.seq) for r in pruned.read().collect()
        )
        got_f = sorted(
            (r.day, r.k, r.v, r.seq) for r in plain.read().collect()
        )
        assert got_p == got_f
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# ManifestSnapshotTable maintenance: for ANY interleaving of upsert /
# delete / vacuum / rollback / compact, the set of READABLE snapshots
# and every readable snapshot's content equal a plain model — vacuum's
# holder demotion and rollback's holder sweep never change what a
# retained version reads, version numbering continues correctly after
# rollback, compact() is observationally the identity (a new snapshot
# with the latest content, or a no-op when already single-holder), and
# keyed deletes remove exactly their keys (committing a new version iff
# a live partition was touched, dropping fully-emptied partitions).  The
# partition scheme is an input: the unpartitioned table (one fragment
# "") runs the same model.
# ---------------------------------------------------------------------------
MAINT_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("upsert"),
            st.lists(
                st.tuples(
                    st.sampled_from(["d1", "d2", "d3"]),
                    st.integers(0, 3),
                    st.integers(-5, 5),
                ),
                min_size=1,
                max_size=4,
            ),
        ),
        st.tuples(
            st.just("delete"),
            st.lists(
                st.tuples(
                    st.sampled_from(["d1", "d2", "d3"]),
                    st.integers(0, 3),
                ),
                min_size=1,
                max_size=3,
            ),
        ),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
        st.tuples(st.just("rollback"), st.integers(0, 5)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("ccompact"), st.just(0)),  # cluster_by variant
    ),
    min_size=2,
    max_size=7,
)


@given(ops=MAINT_OPS, scheme=st.sampled_from([("day",), ()]))
@example(
    # the one-fragment table through every maintenance verb
    ops=[
        ("upsert", [("d1", 0, 1), ("d2", 1, 2)]),
        ("upsert", [("d1", 0, 3)]),
        ("delete", [("d2", 1)]),
        ("compact", 0),
        ("ccompact", 0),
        ("rollback", 1),
        ("vacuum", 2),
        ("delete", [("d1", 0)]),
        ("compact", 0),
    ],
    scheme=(),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_manifest_maintenance_equals_model(spark, ops, scheme):
    import shutil
    import tempfile

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        ManifestSnapshotTable,
    )

    root = tempfile.mkdtemp(prefix="ms_maint_prop_")
    try:
        t = ManifestSnapshotTable(
            spark, root, keys=["day", "k"], order_cols=["seq"],
            partition_by=scheme,
        )

        def frag(day):  # the fragment a (day, k) key lives in
            return day if scheme else ""

        states: dict[int, dict] = {}   # version -> expected content
        readable: list[int] = []       # complete snapshot numbers
        model: dict = {}
        seq = 0
        for op, arg in ops:
            if op == "upsert":
                seq += 1
                dedup = {}
                for day, k, v in arg:
                    dedup[(day, k)] = float(v)
                t.upsert(spark.createDataFrame(
                    [(d, k, v, seq) for (d, k), v in dedup.items()],
                    "day string, k int, v double, seq int",
                ))
                model = dict(model)
                model.update(dedup)
                new_v = (readable[-1] + 1) if readable else 1
                states[new_v] = model
                readable.append(new_v)
            elif op == "delete":
                doomed = sorted(set(arg))
                t.delete(spark.createDataFrame(
                    doomed, "day string, k int",
                ))
                live = {frag(d) for d, _k in model}
                if not (readable and {frag(d) for d, _k in doomed} & live):
                    continue  # no live partition touched: no new commit
                model = {
                    kk: v for kk, v in model.items() if kk not in doomed
                }
                new_v = readable[-1] + 1
                states[new_v] = model
                readable.append(new_v)
            elif op == "vacuum":
                t.keep_versions = arg
                t.vacuum()
                t.keep_versions = None
                readable = readable[-arg:]
            elif op == "ccompact":
                # clustered compact: observationally identity, but a
                # LAYOUT change — commits even when already compact
                if not readable or not model:
                    assert t.compact(cluster_by=["k"]) == 0
                    continue
                new_v = readable[-1] + 1
                assert t.compact(cluster_by=["k"], cluster_files=3) == new_v
                assert set(t.manifest().values()) == {new_v}
                states[new_v] = states[readable[-1]]
                readable.append(new_v)
            elif op == "compact":
                if not readable or not model:
                    # empty table OR fully-deleted latest snapshot
                    # (empty manifest): compaction has nothing to do
                    assert t.compact() == 0
                    continue
                # already-compact = latest manifest is single-holder;
                # decided from the table's own manifest (pinned correct
                # by the snapshot-content assertions below)
                already = set(t.manifest().values()) == {readable[-1]}
                res = t.compact()
                if already:
                    assert res == readable[-1]
                else:
                    new_v = readable[-1] + 1
                    assert res == new_v
                    assert set(t.manifest().values()) == {new_v}
                    states[new_v] = states[readable[-1]]
                    readable.append(new_v)
            else:  # rollback to a valid readable version (or skip)
                if not readable:
                    continue
                target = readable[arg % len(readable)]
                t.rollback(target)
                readable = [v for v in readable if v <= target]
                model = states[target]
            assert t.versions() == readable
            for v in readable:
                df = t.read(version=v)  # None = fully-deleted snapshot
                got = {} if df is None else {
                    (r.day, r.k): r.v for r in df.collect()
                }
                assert got == states[v], f"version {v} diverged"
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# fuzzy_dedup_clusters: the collapse-first pipeline's labels must equal
# components over (exact-duplicate edges UNION direct LSH pairs) for
# ANY duplication pattern.  Verbatim copies share every signature/
# bucket/neighbor, so collapsing them onto the min-id representative
# preserves LSH components exactly; the exact edges capture the one
# place collapse is STRICTLY stronger than raw LSH — identical docs
# with fewer than k tokens have no shingles, so banding alone can
# never link them, but exact-collapse does.
# ---------------------------------------------------------------------------
_BASE_TEXTS = [
    "the quick brown fox jumps over the lazy dog tonight",
    "the quick brown fox jumps over the lazy cat tonight",  # near-dup of 0
    "pack my box with five dozen liquor jugs right now",
    "sphinx of black quartz judge my vow said the king",
    "tiny",  # < 3 tokens: no shingles, always a singleton
]


@given(
    spec=st.lists(
        st.tuples(st.integers(0, 4), st.integers(1, 3)),
        min_size=1,
        max_size=5,
    ),
    with_null=st.booleans(),
)
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzzy_clusters_equal_direct_clustering(spark, spec, with_null):
    from pyspark.sql import functions as F

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators import (
        dedup as D,
    )

    rows, nid = [], 0
    for base, copies in spec:
        for _ in range(copies):
            rows.append((nid, _BASE_TEXTS[base]))
            nid += 1
    if with_null:
        rows.append((nid, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    fuzzy = {
        (r.doc_id, r.cluster)
        for r in D.fuzzy_dedup_clusters(
            docs, "doc_id", "text", threshold=0.5,
            num_perm=16, bands=4, shingle_k=3, max_bucket_size=None,
        ).collect()
    }
    lsh_edges = D.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5,
        num_perm=16, bands=4, shingle_k=3, max_bucket_size=None,
    ).select("id_a", "id_b")
    ids = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.md5("text").alias("h")
    )
    exact_edges = (
        ids.alias("a")
        .join(ids.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
    )
    direct_edges = lsh_edges.unionByName(exact_edges)
    direct = {
        (r.doc_id, r.cluster)
        for r in D.connected_components(
            docs.select("doc_id"), direct_edges,
            id_col="doc_id", src_col="id_a", dst_col="id_b",
        ).collect()
    }
    assert fuzzy == direct
