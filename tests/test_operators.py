"""Semantic tests for operators beyond oracle parity: LSH recall,
as-of edge cases, approx split, multimodal stub behavior."""

import pytest
from pyspark.sql import functions as F

from collective_als_spark.operators.asof import asof_join
from collective_als_spark.operators.similarity import brute_force_topk, lsh_topk
from collective_als_spark.operators.split import split_chronologically
from collective_als_spark.sources import load_table


def test_lsh_recall_vs_brute_force(spark, sf_med):
    emb = load_table(spark, sf_med, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 50)
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_topk(emb, k=5, n_planes=4, n_tables=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.filter(F.col("query_id") < 50).collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"LSH recall too low: {recall}"


def test_asof_no_prior_match_is_null(spark):
    left = spark.createDataFrame([(1, 100, "p1"), (1, 5, "p0")], "k int, t int, pid string")
    right = spark.createDataFrame([(1, 50, "c1"), (1, 99, "c2"), (2, 1, "cx")],
                                  "k int, t int, cid string")
    out = asof_join(left, right, key="k", left_ts="t", right_ts="t",
                    right_payload=["cid"], tie_break="pid")
    rows = {r.pid: r.asof_cid for r in out.collect()}
    assert rows == {"p1": "c2", "p0": None}


def test_asof_equal_ts_inclusive(spark):
    left = spark.createDataFrame([(1, 50, "p")], "k int, t int, pid string")
    right = spark.createDataFrame([(1, 50, "c")], "k int, t int, cid string")
    out = asof_join(left, right, key="k", left_ts="t", right_ts="t",
                    right_payload=["cid"])
    assert out.collect()[0].asof_cid == "c"


def test_split_approx_mode(spark, sf_med):
    ev = load_table(spark, sf_med, "events")
    train, test = split_chronologically(ev, [0.8, 0.2], "ts", exact=False)
    n, tr, te = ev.count(), train.count(), test.count()
    assert tr + te == n
    assert abs(tr / n - 0.8) < 0.05
    # no time overlap
    assert train.agg(F.max("ts")).collect()[0][0] <= test.agg(F.min("ts")).collect()[0][0]


def test_multimodal_decode_stub():
    from collective_als_spark.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_checked_cast_overflow_raises(spark):
    # reference checkedCast semantics (CollectiveALS.scala:85-92):
    # out-of-Int-range and fractional values error instead of wrapping
    from pyspark.sql import functions as F

    from collective_als_spark.functions.vector import checked_cast

    ok = spark.createDataFrame([(1.0,), (-2147483648.0,), (2147483647.0,), (None,)], "v double")
    got = [r[0] for r in ok.select(checked_cast("v").alias("i")).collect()]
    assert got == [1, -2147483648, 2147483647, None]

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    for bad in [2147483648.0, -2147483649.0, 1.5]:
        df = spark.createDataFrame([(bad,)], "v double")
        with _pytest.raises((PySparkException, Py4JJavaError)):
            df.select(checked_cast("v").alias("i")).collect()


def test_global_rank_matches_window_semantics(spark, sf_med):
    """Two-phase rank (leading-key buckets + per-bucket row_number +
    offset join) must equal a single global window's row_number."""
    from pyspark.sql import Window

    from collective_als_spark.operators.split import global_rank

    ev = load_table(spark, sf_med, "events")
    got = {
        r.event_id: r["_rk"]
        for r in global_rank(ev, [F.col("ts"), F.col("event_id")]).collect()
    }
    w = Window.orderBy("ts", "event_id")
    exp = {
        r.event_id: r.rk
        for r in ev.select(
            "event_id", (F.row_number().over(w) - 1).alias("rk")
        ).collect()
    }
    assert got == exp


def _rank_input(spark, n):
    """n rows with a scrambled time column and a (u, i) tie-break."""
    return spark.range(n).select(
        (F.col("id") * 7919 % 1000).cast("int").alias("u"),
        (F.col("id") * 104729 % 5000).cast("int").alias("i"),
        (F.lit(1_000_000_000) + F.col("id") * 2654435761 % n).alias("ts"),
    )


def test_global_rank_is_permutation_under_aqe(spark):
    """With AQE coalescing on, the ranks are exactly 0..n-1. Keying the
    local rank on spark_partition_id() after the range shuffle broke
    this at 200k rows: the two reads of the exchange coalesced
    differently."""
    from collective_als_spark.operators.split import global_rank

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    n = 200_000
    df = _rank_input(spark, n).persist()
    try:
        got = global_rank(df, [F.col("ts"), F.col("u"), F.col("i")]).agg(
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("_rk").alias("d"),
            F.min("_rk").alias("lo"),
            F.max("_rk").alias("hi"),
            F.max("_n").alias("n"),
        ).first()
        assert got.asDict() == {"c": n, "d": n, "lo": 0, "hi": n - 1, "n": n}

        train, hold = split_chronologically(df, [0.99, 0.01], "ts", tie_break=["u", "i"])
        train, hold = train.persist(), hold.persist()
        try:
            assert (train.count(), hold.count()) == (198_000, 2_000)
            assert train.agg(F.max("ts")).first()[0] <= hold.agg(F.min("ts")).first()[0]
        finally:
            train.unpersist()
            hold.unpersist()
    finally:
        df.unpersist()


def test_global_rank_explicit_sort_orders(spark):
    """A leading key with an explicit direction and NULL placement
    buckets in its sort order."""
    from pyspark.sql import Window

    from collective_als_spark.operators.split import global_cumsum, global_rank

    rows = [(i, (i * 37) % 101 if i % 17 else None) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, n long")
    n = F.col("n")
    for lead in (n.desc(), n.asc_nulls_last(), n.desc_nulls_first()):
        order = [lead, F.col("id")]
        got = {r.id: r._rk for r in global_rank(df, order).collect()}
        w = Window.orderBy(*order)
        exp = {
            r.id: r.rk
            for r in df.select("id", (F.row_number().over(w) - 1).alias("rk")).collect()
        }
        assert got == exp, lead
    order = [n.desc(), F.col("id")]
    filled = df.fillna(0)
    cum = {r.id: r._cum for r in global_cumsum(filled, order, "n").collect()}
    before = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    exp_cum = {
        r.id: r.c
        for r in filled.select(
            "id", F.coalesce(F.sum("n").over(before), F.lit(0)).alias("c")
        ).collect()
    }
    assert cum == exp_cum


def test_exact_split_no_global_window(spark, sf_med):
    """Even exact rank cuts must avoid the single-task window."""
    from collective_als_spark.plans import plan_summary

    ev = load_table(spark, sf_med, "events")
    train, test = split_chronologically(ev, [0.9, 0.1], "ts", tie_break=["event_id"])
    for df in (train, test):
        assert plan_summary(df)["n_global_windows"] == 0
    n, tr, te = ev.count(), train.count(), test.count()
    assert tr + te == n
    assert tr == sum(1 for rk in range(n) if rk < 0.9 * n)  # float bounds


def test_split_approx_keeps_null_timestamps(spark):
    """NULL time rows route into the first slice (exact-mode null-first
    parity) instead of being dropped by the range filters."""
    rows = [(i, float(i)) for i in range(100)] + [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "id long, t double")
    a, b = split_chronologically(df, [0.5, 0.5], "t", exact=False)
    na, nb = a.count(), b.count()
    assert na + nb == 102
    null_ids = {r.id for r in a.filter(F.col("t").isNull()).collect()}
    assert null_ids == {100, 101}


def test_lsh_signatures_wide_embeddings(spark):
    """Hyperplane dim derives from the data: 128-dim embeddings work
    (r01 hardcoded 64 and crashed)."""
    import numpy as np

    from collective_als_spark.operators.similarity import lsh_signatures

    rows = [(i, np.random.RandomState(i).randn(128).tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sigs = lsh_signatures(emb, n_planes=8, n_tables=3)
    assert sigs.count() == 120
    # deterministic across runs
    h1 = sorted(map(tuple, sigs.collect()))
    h2 = sorted(map(tuple, lsh_signatures(emb, n_planes=8, n_tables=3).collect()))
    assert h1 == h2


def test_embedding_neardup_lsh_matches_exact(spark):
    """LSH-bucketed near-dup finds the same pairs as the exact
    crossJoin on planted near-duplicates, with no cartesian in the plan."""
    import numpy as np

    from collective_als_spark.operators.similarity import embedding_neardup_pairs
    from collective_als_spark.plans import plan_summary

    rng = np.random.RandomState(7)
    base = rng.randn(60, 16)
    rows = [(i, base[i].tolist()) for i in range(60)]
    # plant 5 near-dups of existing vectors
    for j in range(5):
        noisy = base[j * 7] + 0.02 * rng.randn(16)
        rows.append((1000 + j, noisy.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = set(map(tuple, embedding_neardup_pairs(emb, threshold=0.9, exact=True).collect()))
    lsh = embedding_neardup_pairs(emb, threshold=0.9)
    assert plan_summary(lsh)["n_cartesian"] == 0
    got = set(map(tuple, lsh.collect()))
    assert got == exact
    assert len(got) >= 5


def test_dense_codes_matches_sorted_order(spark):
    from collective_als_spark.operators.dictionary import dense_codes

    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), ("b",)], "v string"
    )
    got = sorted((r.v, r.code) for r in dense_codes(df, "v").collect())
    assert got == [("a", 0), ("b", 1), ("c", 2)]


def test_asof_tied_right_timestamps_deterministic(spark):
    """Multiple right rows sharing (key, ts): the greatest payload tuple
    wins, stably across runs/partitionings."""
    left = spark.createDataFrame([(1, 100, "p")], "k int, t int, pid string")
    right = spark.createDataFrame(
        [(1, 50, "c1"), (1, 50, "c3"), (1, 50, "c2")], "k int, t int, cid string"
    )
    for n_parts in (1, 3, 7):
        out = asof_join(
            left.repartition(n_parts), right.repartition(n_parts),
            key="k", left_ts="t", right_ts="t", right_payload=["cid"],
        )
        assert out.collect()[0].asof_cid == "c3"


def test_salted_join_rejects_outer_on_replicated_side(spark):
    from collective_als_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k int, va string")
    b = spark.createDataFrame([(1, "y"), (2, "z")], "k int, vb string")
    with pytest.raises(ValueError, match="salted_join does not support"):
        salted_join(a, b, "k", how="right")
    with pytest.raises(ValueError, match="salted_join does not support"):
        salted_join(a, b, "k", how="full_outer")
    # left join still equals a plain join
    got = sorted(map(tuple, salted_join(a, b, "k", how="left").collect()))
    exp = sorted(map(tuple, a.join(b, "k", "left").collect()))
    assert got == exp


def test_connected_components_chains_and_islands(spark):
    """Transitive closure: chains collapse to one component labeled by
    the minimum id; disconnected subgraphs stay separate."""
    from collective_als_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 11),      # chain -> component 3
         (20, 21),                     # pair  -> component 20
         (30, 31), (31, 30)],          # duplicate edge both ways
        "src long, dst long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 11: 3, 20: 20, 21: 20, 30: 30, 31: 30}


def test_connected_components_empty_edges(spark):
    from collective_als_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


def test_simhash_neardup_recall_is_exact(spark):
    """Pigeonhole guarantee: every pair at Hamming <= 3 over 4 bands
    must be found — compare banded result against brute-force pairs."""
    from itertools import combinations

    from collective_als_spark.operators.dedup import simhash_neardup_pairs

    sigs = [(1, 0b1010), (2, 0b1011), (3, 0b1010_0000_0000_0000),
            (4, 0), (5, (1 << 32) - 1), (6, 0b1110)]
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_neardup_pairs(df, "doc_id", "simhash").collect()}
    expect = {}
    for (ia, sa), (ib, sb) in combinations(sigs, 2):
        h = bin(sa ^ sb).count("1")
        if h <= 3:
            expect[(ia, ib)] = h
    assert got == expect


def test_simhash_neardup_rejects_weak_banding(spark):
    import pytest as _pytest

    from collective_als_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(df, max_hamming=4, n_bands=4)


def test_pack_sequences_invariants(spark):
    """Offsets stay inside the budget; seq_id*budget + tok_offset equals
    the shard-local cumulative token count before the doc."""
    from pyspark.sql import functions as F

    from collective_als_spark.operators.packing import pack_sequences

    rows = [(i, "s%d" % (i % 2), 10 + (i * 7) % 50) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, shard string, n int")
    out = pack_sequences(df, "id", "n", budget=64, shard_cols=["shard"])
    got = sorted(map(tuple, out.collect()))
    cum: dict[str, int] = {}
    for i, shard, n in sorted(rows):  # id order within shard
        prev = cum.get(shard, 0)
        expect = (i, shard, n, prev // 64, prev % 64)
        assert expect in [g for g in got if g[0] == i]
        cum[shard] = prev + n
    assert out.filter((F.col("tok_offset") < 0) | (F.col("tok_offset") >= 64)).count() == 0


def test_quantize_int8_roundtrip_error_bound(spark):
    """Dequantized values sit within scale/2 of the original and codes
    stay inside int8 range."""
    from pyspark.sql import functions as F

    from collective_als_spark.functions.vector import quantize_int8, quantize_scale_int8

    rows = [(1, [0.5, -0.25, 0.125, -1.0]), (2, [3.0, 2.0, -3.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, e array<double>")
    out = (
        df.withColumn("scale", quantize_scale_int8("e"))
        .withColumn("codes", quantize_int8("e", F.col("scale")))
        .collect()
    )
    for r in out:
        assert all(-128 <= c <= 127 for c in r.codes), r
        for x, c in zip(r.e, r.codes):
            assert abs(x - c * r.scale) <= r.scale / 2 + 1e-12, (r.vec_id, x, c)
