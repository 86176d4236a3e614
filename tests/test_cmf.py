"""CMF correctness: native trainer vs built-in ALS (metric parity),
3-entity collective fit, implicit mode, nonnegativity, determinism.

Mirrors the reference's validation strategy (SURVEY §5): MovieLens-style
experiments comparing CollectiveALS against stock ALS on the same data.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from collective_als_spark.cmf import CollectiveALS


def _synth_ratings(spark, n_users=60, n_items=40, rank=4, seed=7, implicit=False):
    rng = np.random.default_rng(seed)
    U = rng.normal(size=(n_users, rank)) / math.sqrt(rank)
    V = rng.normal(size=(n_items, rank)) / math.sqrt(rank)
    rows = []
    for u in range(n_users):
        items = rng.choice(n_items, size=12, replace=False)
        for i in items:
            r = float(U[u] @ V[i]) + rng.normal(scale=0.05)
            if implicit:
                r = abs(r) * 4
            rows.append((u, int(i), r))
    return spark.createDataFrame(rows, "user int, item int, rating double")


def _rmse(model, df):
    scored = model.predict(df, "user", "item", left_col="user", right_col="item")
    row = (
        scored.filter(~F.isnan("prediction"))
        .agg(F.sqrt(F.avg(F.pow(F.col("prediction") - F.col("rating"), 2))).alias("rmse"))
        .collect()[0]
    )
    return row.rmse


def test_native_matches_builtin_quality(spark):
    df = _synth_ratings(spark).cache()
    base = CollectiveALS("user", "item", rank=4, max_iter=8, reg_param=0.05, seed=1,
                         num_blocks=4).fit(df)
    native = CollectiveALS("user", "item", rank=4, max_iter=8, reg_param=0.05, seed=1,
                           num_blocks=4, force_native=True).fit(df)
    rmse_b, rmse_n = _rmse(base, df), _rmse(native, df)
    # both should fit the low-rank structure well and be comparable
    assert rmse_b < 0.15
    assert rmse_n < 0.15
    assert abs(rmse_b - rmse_n) < 0.05


def test_three_entity_collective(spark):
    df = _synth_ratings(spark).cache()
    # item -> attribute side relation (like movie->genre membership)
    rng = np.random.default_rng(3)
    side = [(i, int(rng.integers(0, 6)), 1.0) for i in range(40)]
    side_df = spark.createDataFrame(side, "item int, genre int, rating double")
    als = CollectiveALS("user", "item", "genre", rank=4, max_iter=6,
                        reg_param=0.05, seed=1, num_blocks=4)
    model = als.fit({("user", "item"): df, ("item", "genre"): side_df})
    assert set(model.factors) == {"user", "item", "genre"}
    assert _rmse(model, df) < 0.25
    # genre factors exist and have the right shape
    g = model.factors_for("genre").collect()
    assert len(g) == 6
    assert all(len(r.features) == 4 for r in g)


def test_implicit_native_runs(spark):
    df = _synth_ratings(spark, implicit=True)
    als = CollectiveALS("user", "item", rank=4, max_iter=4, reg_param=0.05,
                        implicit_prefs=True, alpha=1.0, seed=1, num_blocks=4,
                        force_native=True)
    model = als.fit(df)
    scored = model.predict(df, "user", "item")
    assert scored.filter(F.isnan("prediction")).count() == 0
    # implicit predictions approximate preference in [0, 1]-ish range
    mx = scored.agg(F.max("prediction")).collect()[0][0]
    assert mx == pytest.approx(1.0, abs=0.6)


def test_nonnegative_native(spark):
    df = _synth_ratings(spark)
    df = df.withColumn("rating", F.abs("rating"))
    als = CollectiveALS("user", "item", rank=4, max_iter=4, reg_param=0.05,
                        nonnegative=True, seed=1, num_blocks=4, force_native=True)
    model = als.fit(df)
    mins = [
        min(min(r.features) for r in model.factors_for(e).collect())
        for e in ("user", "item")
    ]
    assert all(m >= 0.0 for m in mins)


def test_seeded_determinism(spark):
    df = _synth_ratings(spark)
    kw = dict(rank=4, max_iter=3, reg_param=0.05, seed=9, num_blocks=4,
              force_native=True)
    m1 = CollectiveALS("user", "item", **kw).fit(df)
    m2 = CollectiveALS("user", "item", **kw).fit(df)
    f1 = {r.id: r.features for r in m1.factors_for("user").collect()}
    f2 = {r.id: r.features for r in m2.factors_for("user").collect()}
    assert f1.keys() == f2.keys()
    for k in f1:
        np.testing.assert_allclose(f1[k], f2[k], rtol=1e-5)


def test_cold_start_nan(spark):
    df = _synth_ratings(spark)
    als = CollectiveALS("user", "item", rank=4, max_iter=2, seed=1, num_blocks=4)
    model = als.fit(df)
    probe = spark.createDataFrame([(99999, 0), (0, 99999)], "user int, item int")
    rows = model.predict(probe, "user", "item").collect()
    assert all(math.isnan(r.prediction) for r in rows)


def test_recommend_topk_matches_predict_ranking(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.cmf.recommend import recommend_topk

    df = _synth_ratings(spark)
    model = CollectiveALS("user", "item", rank=4, max_iter=5, seed=3).fit(df)
    recs = recommend_topk(model.factors_for("user"), model.factors_for("item"), k=3)

    # oracle: full cross product scored by predict(), window top-3
    users = model.factors_for("user").select(F.col("id").alias("user"))
    items = model.factors_for("item").select(F.col("id").alias("item"))
    scored = model.predict(users.crossJoin(items), "user", "item")
    w = Window.partitionBy("user").orderBy(F.col("prediction").desc(), F.col("item"))
    expect = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("user").alias("id"),
            F.col("item").alias("rec_id"),
            F.round("prediction", 4).alias("score"),
        )
    )
    got = recs.select("id", "rec_id", F.round("score", 4).alias("score"))
    # scores must agree; ordering ties may differ only at equal scores
    g = {(r.id, r.rec_id): r.score for r in got.collect()}
    e = {(r.id, r.rec_id): r.score for r in expect.collect()}
    assert set(g) == set(e)
    assert all(abs(g[k] - e[k]) < 1e-3 for k in g)


def test_recommend_topk_guard(spark):
    import pytest as _pytest

    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.cmf.recommend import recommend_topk

    df = _synth_ratings(spark)
    model = CollectiveALS("user", "item", rank=4, max_iter=1, seed=3).fit(df)
    with _pytest.raises(ValueError, match="max_broadcast_items"):
        recommend_topk(
            model.factors_for("user"), model.factors_for("item"),
            k=3, max_broadcast_items=5,
        )


def test_recommend_topk_empty_items(spark):
    from collective_als_spark.cmf import CollectiveALS
    from collective_als_spark.cmf.recommend import recommend_topk

    df = _synth_ratings(spark)
    model = CollectiveALS("user", "item", rank=4, max_iter=1, seed=3).fit(df)
    items = model.factors_for("item").filter(F.lit(False))
    recs = recommend_topk(model.factors_for("user"), items, k=3)
    assert recs.columns == ["id", "rec_id", "score", "rk"]
    assert recs.collect() == []


def test_per_entity_num_blocks(spark):
    """Reference API parity: numBlocks is per entity
    (CollectiveALS.scala:29-30,63-66). Dict form and the fluent
    per-entity setter give the same factors as a global int (block
    count only changes shuffle layout, not math)."""
    df = _synth_ratings(spark).cache()
    base = CollectiveALS("user", "item", rank=4, max_iter=3, seed=1,
                         num_blocks=4, force_native=True).fit(df)
    perent = CollectiveALS("user", "item", rank=4, max_iter=3, seed=1,
                           num_blocks={"user": 2, "item": 7},
                           force_native=True).fit(df)
    fluent = (
        CollectiveALS("user", "item", rank=4, max_iter=3, seed=1,
                      force_native=True)
        .set_num_blocks(2, "user")
        .set_num_blocks(7, "item")
    )
    assert fluent.num_blocks == {"user": 2, "item": 7}
    fl = fluent.fit(df)

    def feats(model):
        return {
            r.id: tuple(r.features)
            for r in model.factors_for("user").collect()
        }

    fb, fp, ff = feats(base), feats(perent), feats(fl)
    assert set(fb) == set(fp) == set(ff)
    for i in fb:
        np.testing.assert_allclose(fb[i], fp[i], rtol=1e-4)
        np.testing.assert_allclose(fp[i], ff[i], rtol=1e-4)

    with pytest.raises(ValueError, match="unknown entities"):
        CollectiveALS("user", "item", num_blocks={"nope": 3},
                      force_native=True).fit(df)


def test_checkpoint_interval_contract(spark):
    """Documented contract: checkpoint_interval selects WHERE lineage is
    truncated (reliable checkpoint on the interval when a checkpoint dir
    is configured, localCheckpoint otherwise/between — quirk Q2 is the
    no-dir default) but never changes the fitted values."""
    df = _synth_ratings(spark).cache()
    a = CollectiveALS("user", "item", rank=4, max_iter=3, seed=1,
                      checkpoint_interval=1, force_native=True).fit(df)
    b = CollectiveALS("user", "item", rank=4, max_iter=3, seed=1,
                      checkpoint_interval=100, force_native=True).fit(df)
    fa = {r.id: tuple(r.features) for r in a.factors_for("item").collect()}
    fb = {r.id: tuple(r.features) for r in b.factors_for("item").collect()}
    assert set(fa) == set(fb)
    for i in fa:
        np.testing.assert_allclose(fa[i], fb[i], rtol=1e-5)


def test_native_reliable_checkpoint_on_interval(spark, tmp_path):
    """r03 verdict #3: with a checkpoint dir configured, the native
    trainer writes RELIABLE checkpoints every checkpoint_interval-th
    (iter x entity) update — the fault-tolerance a 100-iteration
    production fit needs (localCheckpoint blocks die with an executor;
    reference quirk Q2 always localCheckpoints, its intended interval
    design is commented out at CollectiveALS.scala:446-468)."""
    import os

    sc = spark.sparkContext
    ckpt = str(tmp_path / "reliable_ckpt")
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(ckpt)
    try:
        df = _synth_ratings(spark).cache()
        rng = np.random.default_rng(3)
        side = [(i, int(rng.integers(0, 6)), 1.0) for i in range(40)]
        side_df = spark.createDataFrame(side, "item int, genre int, rating double")
        als = CollectiveALS(
            "user", "item", "genre", rank=4, max_iter=2, reg_param=0.05,
            seed=1, num_blocks=4, checkpoint_interval=2,
        )
        model = als.fit({("user", "item"): df, ("item", "genre"): side_df})
        # 2 iters x 3 entities = 6 updates -> reliable checkpoints at
        # steps 2, 4, 6: the dir must now hold checkpointed-RDD payloads
        rdd_dirs = []
        for root, dirs, files in os.walk(ckpt):
            rdd_dirs += [d for d in dirs if d.startswith("rdd-")]
        assert len(rdd_dirs) == 3, rdd_dirs
        # and the fit is still a real model
        assert _rmse(model, df) < 0.25
    finally:
        if prev is not None:
            sc.setCheckpointDir(prev)


def test_num_blocks_auto_scales_with_parallelism(spark):
    from collective_als_spark.cmf import CollectiveALS

    als = CollectiveALS("user", "item").set_num_blocks("auto")
    got = als._blocks_for("user", spark)
    assert got == max(8, spark.sparkContext.defaultParallelism // 4)
    # per-entity overrides still win over auto
    als.set_num_blocks(12, "item")
    assert als._blocks_for("item", spark) == 12
