"""Relational operator layer: joins (all types), concat, slicing,
splits, flatten, map/filter shims."""

import pytest
from pyspark.sql import functions as F

from biosets_spark.dataset import BioDataset
from biosets_spark.operators import concat as C
from biosets_spark.operators import joins as J
from biosets_spark.operators import split as S


@pytest.fixture()
def left(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, x int"
    )


@pytest.fixture()
def right(spark):
    return spark.createDataFrame([(2, "B"), (3, "C"), (4, "D")], "k int, w string")


def test_join_types(left, right):
    assert J.join(left, right, "k", join_type="inner").count() == 2
    assert J.join(left, right, "k", join_type="left").count() == 3
    assert J.join(left, right, "k", join_type="right").count() == 3
    assert J.join(left, right, "k", join_type="full outer").count() == 4
    assert J.join(left, right, "k", join_type="left semi").columns == ["k", "v", "x"]
    assert J.join(left, right, "k", join_type="left anti").count() == 1
    # right semi/anti realized by swap
    rs = J.join(left, right, "k", join_type="right semi")
    assert rs.columns == ["k", "w"] and rs.count() == 2
    ra = J.join(left, right, "k", join_type="right anti")
    assert [r.k for r in ra.collect()] == [4]


def test_join_right_keys_coalesce(left, spark):
    other = spark.createDataFrame([(2, "B")], "rk int, w string")
    out = J.join(left, other, keys=["k"], right_keys=["rk"], join_type="left")
    assert "rk" not in out.columns
    assert out.count() == 3


def test_join_suffixes(left, spark):
    other = spark.createDataFrame([(2, "dup")], "k int, v string")
    out = J.join(left, other, "k", join_type="inner", suffixes=("", "_right"))
    assert set(out.columns) == {"k", "v", "v_right", "x"}


def test_join_type_coercion(left, spark):
    other = spark.createDataFrame([("2", "B")], "k string, w string")
    out = J.join(left, other, "k", join_type="inner")
    assert out.count() == 1


def test_list_key_rejected(spark, left):
    arr = spark.createDataFrame([([1, 2],)], "k array<int>")
    with pytest.raises(TypeError, match="struct"):
        J.join(arr, left, "k")


def test_struct_key_join(spark):
    a = spark.createDataFrame([((1, "x"), 10)], "k struct<i:int,s:string>, v int")
    b = spark.createDataFrame([((1, "x"), "hit")], "k struct<i:int,s:string>, w string")
    assert J.join(a, b, "k", join_type="inner").count() == 1


def test_join_sample_metadata_order_and_collision(spark):
    data = spark.createDataFrame([("s1", 1, "stale")], "sample string, h1 int, batch string")
    meta = spark.createDataFrame([("s1", "fresh", "x")], "sample string, batch string, m1 string")
    out = J.join_sample_metadata(data, meta, "sample")
    # metadata first; colliding data column dropped (metadata wins)
    assert out.columns == ["sample", "batch", "m1", "h1"]
    assert out.collect()[0].batch == "fresh"


def test_align_horizontal(spark):
    d = spark.createDataFrame([(1,), (2,)], "h1 int")
    m = spark.createDataFrame([("b1",), ("b2",)], "batch string")
    out = J.align_horizontal(d, m, order_by_left=["h1"], order_by_right=["batch"])
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [("b1", 1), ("b2", 2)]


def test_concat_axis0_promotion(spark):
    d1 = spark.createDataFrame([(1, "x")], "a int, b string")
    d2 = spark.createDataFrame([(2.0,)], "a double")
    out = C.concat([d1, d2], axis=0)
    assert out.count() == 2
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)["a"] == "double"


def test_concat_axis1_dedup_first_wins(spark):
    d1 = spark.createDataFrame([(1, "x")], "a int, b string")
    d2 = spark.createDataFrame([(9, "y")], "a int, c string")
    out = C.concat([d1, d2], axis=1)
    assert out.columns == ["a", "b", "c"]
    assert out.collect()[0].a == 1  # first occurrence wins


def test_slice_and_select_indices(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "i int")
    assert S.slice_rows(df, 2, 5, order_by=["i"]).count() == 3
    assert S.slice_percent(df, 0, 30, order_by=["i"]).count() == 3
    got = [r.i for r in S.select_indices(df, [0, 3, 7], order_by=["i"]).collect()]
    assert got == [0, 3, 7]


def test_train_test_split_stratified(spark):
    df = spark.createDataFrame([(i, "a" if i % 2 else "b") for i in range(200)], "i int, y string")
    parts = S.train_test_split(df, test_size=0.3, seed=7, stratify_by_column="y")
    n_train, n_test = parts["train"].count(), parts["test"].count()
    assert n_train + n_test == 200
    assert 30 <= n_test <= 90  # ~60 expected
    # disjoint
    assert parts["train"].join(parts["test"], "i", "inner").count() == 0


def test_kfold(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], "i int")
    folds = S.kfold(df, 4, order_by=["i"])
    assert len(folds) == 4
    assert all(te.count() == 5 and tr.count() == 15 for tr, te in folds)


def test_shuffle_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "i int")
    a = [r.i for r in S.shuffle(df, seed=3).collect()]
    b = [r.i for r in S.shuffle(df, seed=3).collect()]
    assert a == b and sorted(a) == list(range(50))


def test_shuffle_scale_safe(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "i int")
    a = [r.i for r in S.shuffle(df, seed=3, scale_safe=True).collect()]
    # same seed reproduces, even from a different input partitioning
    b = [r.i for r in S.shuffle(df.repartition(7), seed=3, scale_safe=True).collect()]
    c = [r.i for r in S.shuffle(df, seed=4, scale_safe=True).collect()]
    assert sorted(a) == list(range(200))
    assert a == b          # content-deterministic permutation
    assert a != c          # seed changes the permutation
    assert a != list(range(200))  # actually shuffled


def test_dataset_flatten(spark):
    df = spark.createDataFrame([((1, "x"), 5)], "s struct<i:int,n:string>, v int")
    flat = BioDataset(df).flatten()
    assert flat.columns == ["s.i", "s.n", "v"]


def test_dataset_map_exprs_and_fn(spark):
    ds = BioDataset(spark.createDataFrame([(1,), (2,)], "x int"))
    out = ds.map(exprs={"y": F.col("x") * 2})
    assert sorted(r.y for r in out.df.collect()) == [2, 4]

    def double(pdf):
        pdf["x"] = pdf["x"] * 10
        return pdf

    out2 = ds.map(fn=double)
    assert sorted(r.x for r in out2.df.collect()) == [10, 20]


def test_dataset_filter_python_fn(spark):
    ds = BioDataset(spark.createDataFrame([(1,), (2,), (3,)], "x int"))
    out = ds.filter(lambda row: row["x"] > 1)
    assert out.num_rows == 2


def test_dataset_filter_batched_mask(spark):
    """batched=True: predicate gets the whole pandas batch, returns a
    boolean mask — the vectorized fast path for opaque predicates."""
    ds = BioDataset(spark.createDataFrame([(1,), (2,), (3,), (4,)], "x int"))
    out = ds.filter(lambda pdf: pdf["x"] % 2 == 0, batched=True)
    assert sorted(r.x for r in out.df.collect()) == [2, 4]


def test_zip_with_index_contiguous(spark):
    df = spark.createDataFrame([(c,) for c in "edcba"], "c string")
    out = J.zip_with_index(df, order_by=["c"])
    rows = {r.c: r._row_id for r in out.collect()}
    assert rows == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}


def test_zip_with_index_release_pinned(spark):
    """r5 verdict task #3: the pinned partition-layout cache inside
    zip_with_index has an explicit lifecycle — after materializing the
    derived results, release_pinned_indexes() leaves NO lingering
    cached RDDs (asserted via the JVM persistent-RDD registry)."""
    import biosets_spark as B
    from biosets_spark.operators import split as S_

    def persistent_ids():
        # delta-based: earlier tests' localCheckpoint RDDs legitimately
        # stay registered; this test asserts only that ITS pins vanish
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    B.release_pinned_indexes()  # drain pins from earlier tests
    before = persistent_ids()

    df = spark.createDataFrame([(i,) for i in range(100)], "i int")
    J.zip_with_index(df, order_by=["i"]).collect()
    for train, test in S_.kfold(df, 4, order_by=["i"]):
        train.collect()
        test.collect()
    assert len(persistent_ids() - before) > 0
    released = B.release_pinned_indexes()
    assert released > 0
    assert persistent_ids() - before == set()


def test_pin_registry_has_no_bound(spark):
    """Every registered pin stays reachable until a release: 65 cached
    frames are all freed, and the CacheManager is left empty."""
    import biosets_spark as B

    B.release_pinned_indexes()  # drain pins from earlier tests
    spark.catalog.clearCache()
    for i in range(65):
        J.pin_intermediate(spark.range(i + 1).cache()).count()
    assert B.release_pinned_indexes() == 65
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_salted_join_matches_plain(spark):
    from biosets_spark.operators.skew import salted_join

    large = spark.createDataFrame([(i % 3, i) for i in range(300)], "k int, v int")
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, w string")
    plain = large.join(small, "k").groupBy("k", "w").count()
    salted = salted_join(large, small, "k").groupBy("k", "w").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_no_shuffle(spark, tmp_path):
    from biosets_spark.operators.skew import save_bucketed

    a = spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, v long")
    b = spark.createDataFrame([(i, str(i)) for i in range(100)], "k long, w string")
    save_bucketed(a, "bkt_a", "k", n_buckets=4)
    save_bucketed(b, "bkt_b", "k", n_buckets=4)
    # tables this small would broadcast; disable it to surface the
    # bucketed sort-merge path the layout is built for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # co-located buckets join shuffle-free
        assert "SortMergeJoin" in plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dataset_sort_and_head(spark):
    ds = BioDataset(spark.createDataFrame([(3,), (1,), (None,), (2,)], "x int"))
    asc = [r["x"] for r in ds.sort("x").head(4)]
    assert asc == [1, 2, 3, None]  # nulls at end by default
    desc = [r["x"] for r in ds.sort("x", reverse=True, null_placement="at_start").head(4)]
    assert desc == [None, 3, 2, 1]


def test_dataset_cast_column_keeps_metadata(spark):
    from biosets_spark.schema import roles

    df = spark.createDataFrame([(1.0,)], "f float")
    df = roles.with_role(df, "f", roles.ROLE_FEATURE, feature_type="expression")
    ds = BioDataset(df).cast_column("f", "double")
    assert ds.schema["f"].dataType.simpleString() == "double"
    assert roles.get_role(ds.df, "f") == roles.ROLE_FEATURE


def test_dataset_select_range_and_rename(spark):
    ds = BioDataset(spark.createDataFrame([(i,) for i in range(10)], "i int"))
    sel = ds.select(range(2, 6), order_by=["i"])
    assert [r["i"] for r in sel.head(10)] == [2, 3, 4, 5]
    renamed = ds.rename_columns({"i": "j"})
    assert renamed.columns == ["j"]


def test_join_right_key_collides_with_left_nonkey(spark):
    """Regression (review): right join-key named like a left non-key
    column must not break the join condition."""
    left = spark.createDataFrame([(1, 100), (2, 200)], "k int, id int")
    right = spark.createDataFrame([(1, "x")], "id int, v string")
    out = J.join(left, right, keys=["k"], right_keys=["id"], join_type="left")
    rows = {r.k: r.v for r in out.collect()}
    assert rows == {1: "x", 2: None}
    assert "id" in out.columns  # left payload survives


def test_join_mixed_key_names_no_duplicate_columns(spark):
    """Regression (review): mixed same/differing key names must not
    leave an ambiguous duplicate key column."""
    left = spark.createDataFrame([(1, 2, "p")], "a int, b int, p string")
    right = spark.createDataFrame([(1, 2, "r")], "a int, c int, r string")
    out = J.join(left, right, keys=["a", "b"], right_keys=["a", "c"], join_type="inner")
    assert out.columns.count("a") == 1
    assert out.select("a").collect()[0].a == 1


def test_join_no_coalesce_keys(spark):
    left = spark.createDataFrame([(1, "l")], "k int, v string")
    right = spark.createDataFrame([(1, "r")], "k int, w string")
    out = J.join(left, right, "k", join_type="inner", coalesce_keys=False)
    assert "k" in out.columns and "k_right" in out.columns


def test_salted_join_rejects_outer(spark):
    from biosets_spark.operators.skew import salted_join

    large = spark.createDataFrame([(1, 1)], "k int, v int")
    small = spark.createDataFrame([(1, "a")], "k int, w string")
    import pytest as _pt

    with _pt.raises(ValueError, match="spurious"):
        salted_join(large, small, "k", how="full")


def test_quantize_int8_properties(spark):
    """Randomized property check in ONE job: q8 in [-127,127], exact
    agreement with the numpy reference formula, dequant error bounded
    by 0.5/scale per element."""
    import numpy as np
    from pyspark.sql import functions as F

    from biosets_spark.functions.vectors import dequantize_int8, quantize_int8, quantize_scale

    rng = np.random.default_rng(7)
    vecs = [rng.normal(0, s, 16).tolist() for s in (1e-6, 0.1, 1.0, 100.0) for _ in range(50)]
    vecs.append([0.0] * 16)  # all-zero guard path
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "i long, v array<double>")
    out = df.select(
        "i", "v",
        quantize_scale(F.col("v")).alias("sc"),
        quantize_int8(F.col("v")).alias("q8"),
    ).withColumn("back", dequantize_int8(F.col("q8"), F.col("sc"))).collect()
    for r in out:
        q = np.array(r.q8)
        assert q.min() >= -127 and q.max() <= 127
        ref_scale = 127.0 / max(np.abs(np.array(r.v)).max(), 1e-12)
        ref_q = np.floor(np.array(r.v) * ref_scale + 0.5).astype(int)
        assert (q == ref_q).all()
        err = np.abs(np.array(r.back) - np.array(r.v))
        assert (err <= 0.5 / r.sc + 1e-12).all()


def test_pack_bins_properties(spark):
    """Randomized property check: bins are non-decreasing in layout
    order, bin ids match the python reference cumsum, token totals are
    preserved, and no bin's starting offset exceeds the budget
    boundary it belongs to."""
    import random

    from pyspark.sql import functions as F

    from biosets_spark.operators.text import pack_bins

    rnd = random.Random(13)
    rows = [(i, rnd.choice("ab"), rnd.randint(1, 700)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, n_tok long")
    packed = pack_bins(df, token_col="n_tok", order_col="doc_id", budget=512,
                       key_cols=["grp"]).collect()
    by_grp = {}
    for r in sorted(packed, key=lambda r: (r.grp, r.doc_id)):
        by_grp.setdefault(r.grp, []).append(r)
    total = 0
    for grp, rs in by_grp.items():
        cum = 0
        prev_bin = 0
        for r in rs:
            assert r._cum_before == cum
            assert r._bin == cum // 512
            assert r._bin >= prev_bin
            prev_bin = r._bin
            cum += r.n_tok
            total += r.n_tok
    assert total == sum(n for _, _, n in rows)


def test_sessionize_and_keep_latest(spark):
    """Batch sessionization (gap > 30 min starts a new session) and
    keep-latest compaction with timestamp-collision tie-breaks."""
    from biosets_spark.operators import events as E

    rows = [
        # user 1: 3 events in one session, then a 2-hour gap
        (1, "2024-01-01 10:00:00", 1, "a"),
        (2, "2024-01-01 10:10:00", 1, "b"),
        (3, "2024-01-01 10:20:00", 1, "c"),
        (4, "2024-01-01 12:30:00", 1, "d"),
        # user 2: single event; plus a ts collision with event 6
        (5, "2024-01-01 09:00:00", 2, "x"),
        (6, "2024-01-01 09:00:00", 2, "y"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    sess = E.sessionize(df, gap_minutes=30)
    got = {r["event_id"]: r["session_id"] for r in sess.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == 2                       # after the 2-hour gap
    assert got[5] == got[6] == 1

    latest = {r["user_id"]: r["event_id"] for r in E.keep_latest(df).collect()}
    assert latest[1] == 4
    assert latest[2] == 6                    # ts tie -> higher event_id wins


def test_doubled_midranks_worked_example(spark):
    """operators/ranking.py: exact midranks from a bucketed histogram —
    the shared scale path of q_mann_whitney / q_auc_roc. Values
    [1,1,2,3,3,3] rank as 1.5,1.5,3,5,5,5 (ties at the mean rank);
    mr2 = 2*midrank must come out 3, 6, 10 regardless of how the
    bucket boundary splits the value range."""
    from biosets_spark.operators import ranking

    rows = [("g", 1, 0, 2), ("g", 2, 0, 1), ("g", 3, 1, 3),
            # second group: one value only, midrank 1 -> mr2 = 2
            ("h", 9, 4, 1)]
    hist = spark.createDataFrame(rows, "grp string, v long, bkt long, nt long")
    got = {(r["grp"], r["v"]): r["mr2"]
           for r in ranking.doubled_midranks(hist, ["grp"]).collect()}
    assert got == {("g", 1): 3, ("g", 2): 6, ("g", 3): 10, ("h", 9): 2}


def test_dataset_corpus_surface(spark):
    """The BioDataset convenience entry points delegate to the operator
    modules with identical semantics (dedup survivors = min id per
    normalized text; near-dup pairs find the planted duplicate; the
    composed pipeline keeps originals and drops the near-copy)."""
    from biosets_spark.dataset import BioDataset

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again today"),
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "an entirely different document about spark aggregation plans"),
        (3, "the quick brown fox jumps over the lazy dog again tomorrow"),
    ]
    ds = BioDataset(
        spark.createDataFrame(rows, "doc_id long, text string")
    )

    kept = sorted(r["doc_id"] for r in ds.dedup_exact().df.collect())
    assert kept == [0, 2, 3]  # 1 is an exact copy of 0

    pairs = ds.near_dup_pairs(method="ngram", threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(0, 1)}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ds.near_dup_pairs(method="nope")

    cleaned = sorted(r["doc_id"] for r in ds.clean_corpus().df.collect())
    assert 2 in cleaned and 1 not in cleaned

    q = ds.quality_scores().df
    assert "keep" in q.columns and q.count() == 4

    decided = ds.near_dup_clusters(method="ngram", threshold=0.5).df
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in decided.collect()}
    # 0 and 1 are exact copies (also near-dups); 3 is a near-dup of both;
    # all three land in cluster 0 with only doc 0 kept. 2 is a singleton.
    assert rows[0] == (0, True)
    assert rows[1][0] == 0 and rows[1][1] is False
    assert rows[3][0] == 0 and rows[3][1] is False
    assert rows[2] == (2, True)
