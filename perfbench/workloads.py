"""The three benchmark workloads and one pass of each.

A pass is what a user of the package runs: scan the generated parquet,
split chronologically, fit, score the holdout, serve top-k requests in a
closed loop and fold in a cold-start cohort. Each step is one call into a
layer's public function, wrapped in a span, and followed (outside the
timed region) by the correctness checks of that step.

Why these three (the layer -> metric map is in METRICS.md; BENCHMARK.json
lists the first and the last):

- ``cmf_collective_explicit``: 3-entity explicit fit through the native
  trainer; its time is join/union/shuffle, Arrow Cholesky solves and a
  localCheckpoint per (iteration x entity). MLlib is never called.
- ``cmf_collective_implicit_nonneg``: the same trainer through the other
  solver branch (YtY Gramian collect per relation per update, projected
  Gauss-Seidel NNLS) at a higher rank over fewer ratings.
- ``als_fit_serve``: 2-entity fit delegated to pyspark.ml ALS, model
  save/load, ranking metrics and a larger serve phase; it reads factor
  tables where the other two write them and never enters the native
  trainer.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd

from perfbench.inputs import Shape, movielens

RANKING_KS = [5, 10, 20, 50, 100]
TOP_K = 10


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    rank: int
    max_iter: int
    reg: float
    implicit: bool
    nonneg: bool
    alpha: float
    holdout: float  # chronological holdout share
    persist: bool  # save + load the model before scoring
    serve_requests: int  # closed-loop requests per pass
    serve_batch: int  # user ids per request

    @property
    def label(self) -> str:
        return "rating" if self.shape.kind == "explicit" else "thumb"

    @property
    def entities(self) -> list[str]:
        s = self.shape
        return [s.left, s.right] + ([s.side] if s.side else [])


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="cmf_collective_explicit",
            shape=movielens(side=True),
            rank=16, max_iter=3, reg=0.1, implicit=False, nonneg=False, alpha=1.0,
            holdout=0.01, persist=False, serve_requests=10, serve_batch=32,
        ),
        Workload(
            name="cmf_collective_implicit_nonneg",
            shape=Shape("implicit", "profile", "content", "artist", 2000, 1500, 150, 40_000,
                        n_cold=200, min_degree=5),
            rank=32, max_iter=3, reg=0.1, implicit=True, nonneg=True, alpha=2.0,
            holdout=0.05, persist=False, serve_requests=10, serve_batch=32,
        ),
        Workload(
            name="als_fit_serve",
            shape=movielens(side=False),
            rank=16, max_iter=5, reg=0.1, implicit=False, nonneg=False, alpha=1.0,
            holdout=0.01, persist=True, serve_requests=15, serve_batch=32,
        ),
    )
}


def tiny(w: Workload) -> Workload:
    """The same workload at a tenth of the size, for the smoke test; the
    busiest left id is flattened to 5x the mean degree so it still rates
    a minority of the tenfold fewer right ids."""
    s = w.shape
    shape = replace(
        s, n_left=s.n_left // 10, n_right=s.n_right // 10, n_ratings=s.n_ratings // 10,
        n_cold=min(s.n_cold, 20), left_peak=5.0,
    )
    return replace(w, shape=shape, serve_requests=3)


# ----------------------------------------------------------- expectations
@dataclass
class Expected:
    """Pandas-side truths the checks compare Spark's results against."""

    n_train: int
    n_holdout: int
    n_side_rows: int
    train_mean: float
    entity_ids: dict[str, np.ndarray]
    serve_users: np.ndarray
    train_pd: pd.DataFrame
    holdout_pd: pd.DataFrame
    cold_probe: pd.DataFrame


def pref(w: Workload, labels: np.ndarray) -> np.ndarray:
    """The regression target: the rating, or 1/0 preference for thumbs."""
    return labels if not w.implicit else (labels > 0).astype(np.float64)


def expectations(w: Workload, tables: dict[str, pd.DataFrame]) -> Expected:
    """Train/holdout truths of the exact chronological split (rank by
    ts, then the (left, right) tie-break; rank < share * n goes to
    train) and the entity universes a fit must produce factors for."""
    s = w.shape
    r = tables["ratings"].sort_values(["ts", s.left, s.right], kind="stable")
    n = len(r)
    n_train = int(np.sum(np.arange(n) < (1.0 - w.holdout) * n))
    train, hold = r.iloc[:n_train], r.iloc[n_train:]
    ids = {s.left: np.unique(train[s.left].values)}
    right_ids = [train[s.right].values]
    if s.side:
        right_ids.append(tables["side"][s.right].values)
        ids[s.side] = np.unique(tables["side"][s.side].values)
    ids[s.right] = np.unique(np.concatenate(right_ids))
    return Expected(
        n_train=n_train,
        n_holdout=n - n_train,
        n_side_rows=len(tables["side"]) if s.side else 0,
        train_mean=float(np.mean(pref(w, train[w.label].values.astype(np.float64)))),
        entity_ids=ids,
        serve_users=ids[s.left],
        train_pd=train.reset_index(drop=True),
        holdout_pd=hold.reset_index(drop=True),
        cold_probe=tables["cold_probe"],
    )


# ----------------------------------------------------------------- checks
class Checks:
    """Counts attempted operations and failures; keeps failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok


def factor_table(df) -> tuple[np.ndarray, np.ndarray]:
    rows = df.select("id", "features").collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    feats = [r["features"] for r in rows]
    order = np.argsort(ids)
    return ids[order], [feats[i] for i in order]


def check_factors(chk: Checks, w: Workload, exp: Expected, model) -> dict[str, tuple]:
    """Every entity id has a finite factor of length ``rank``; returns
    entity -> (sorted ids, (n, rank) float32 matrix)."""
    out = {}
    for ent in w.entities:
        ids, feats = factor_table(model.factors_for(ent))
        ok_len = all(f is not None and len(f) == w.rank for f in feats)
        mat = np.array(feats, dtype=np.float32) if ok_len else np.zeros((len(ids), w.rank), np.float32)
        ok = (
            ok_len
            and np.array_equal(ids, exp.entity_ids[ent])
            and bool(np.isfinite(mat).all())
        )
        chk.op(ok, f"factors of {ent}: {len(ids)} ids, expected {len(exp.entity_ids[ent])}")
        out[ent] = (ids, mat)
    return out


def lookup(table: tuple, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(found mask, rows) of a sorted factor table for ``ids``."""
    tid, mat = table
    pos = np.clip(np.searchsorted(tid, ids), 0, max(len(tid) - 1, 0))
    found = (len(tid) > 0) & (tid[pos] == ids)
    return found, mat[pos]


def check_topk(chk: Checks, rows, users: np.ndarray, uf: tuple, itf: tuple, k: int) -> None:
    """Each requested user gets k distinct items in score order, and the
    list is a top-k of a numpy recompute (ties allowed)."""
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(int(r["id"]), []).append(r)
    ok = set(by_user) == set(int(u) for u in users)
    found, U = lookup(uf, users)
    ok = ok and bool(found.all())
    scores_all = U.astype(np.float64) @ itf[1].astype(np.float64).T if ok else None
    for i, u in enumerate(users):
        if not ok:
            break
        recs = sorted(by_user[int(u)], key=lambda r: r["rk"])
        items = np.array([r["rec_id"] for r in recs], dtype=np.int64)
        sc = np.array([r["score"] for r in recs], dtype=np.float64)
        kth = np.sort(scores_all[i])[::-1][min(k, len(scores_all[i])) - 1]
        pos = np.searchsorted(itf[0], items)
        ok = (
            len(items) == min(k, len(itf[0]))
            and len(set(items.tolist())) == len(items)
            and [r["rk"] for r in recs] == list(range(1, len(items) + 1))
            and bool(np.all(np.diff(sc) <= 1e-6))
            and bool(np.allclose(sc, scores_all[i][pos], rtol=1e-4, atol=1e-4))
            and bool(np.all(sc >= kth - 1e-4))
        )
    chk.op(ok, "top-k list mismatch")


# ------------------------------------------------------------------- pass
@dataclass
class Ctx:
    """What a pass needs: the session, the input paths, the workload,
    its expectations, a tracer and a scratch directory."""

    spark: object
    w: Workload
    tables: dict[str, pd.DataFrame]
    paths: dict[str, str]
    exp: Expected
    tracer: object
    work_dir: str
    seed: int


@contextmanager
def _timed(ctx: Ctx, times: dict, key: str, name: str):
    """Span ``name`` around the block; its wall time is added to
    ``times[key]``."""
    with ctx.tracer.span(name):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            times[key] = times.get(key, 0.0) + time.perf_counter() - t0


def run_pass(ctx: Ctx, chk: Checks, rng: np.random.Generator, max_iter: int | None = None,
             serve_requests: int | None = None) -> dict:
    """One full workload pass. Returns wall times per step, per-request
    latencies and quality figures."""
    from pyspark.sql import functions as F

    from collective_als_spark.cmf.als import CollectiveALS, CollectiveALSModel
    from collective_als_spark.cmf.foldin import fold_in
    from collective_als_spark.cmf.recommend import recommend_topk
    from collective_als_spark.operators.evaluation import ranking_metrics, regression_metrics
    from collective_als_spark.operators.split import split_chronologically

    spark, w, exp = ctx.spark, ctx.w, ctx.exp
    s = w.shape
    times: dict[str, float] = {}
    out: dict = {"times": times, "latencies": []}
    cached = []

    with _timed(ctx, times, "read", "sources.read"):
        ratings = spark.read.parquet(ctx.paths["ratings"]).persist()
        n_rows = ratings.count()
        cold = spark.read.parquet(ctx.paths["cold_history"]).persist()
        cold.count()
        side = None
        if s.side:
            side = spark.read.parquet(ctx.paths["side"]).persist()
            side.count()
    cached += [ratings, cold] + ([side] if side is not None else [])
    chk.op(n_rows == exp.n_train + exp.n_holdout, "ratings row count")

    with _timed(ctx, times, "split", "split.chrono"):
        train, hold = split_chronologically(
            ratings, [1.0 - w.holdout, w.holdout], "ts", tie_break=[s.left, s.right]
        )
        train, hold = train.persist(), hold.persist()
        n_train, n_hold = train.count(), hold.count()
    cached += [train, hold]
    chk.op(n_train == exp.n_train and n_hold == exp.n_holdout,
           f"split sizes {n_train}/{n_hold} vs {exp.n_train}/{exp.n_holdout}")

    iters = max_iter or w.max_iter
    relations = {(s.left, s.right): train}
    if side is not None:
        relations[(s.right, s.side)] = side
    with _timed(ctx, times, "fit", "als.fit"):
        model = CollectiveALS(
            *w.entities, rank=w.rank, max_iter=iters, reg_param=w.reg,
            implicit_prefs=w.implicit, alpha=w.alpha, nonnegative=w.nonneg,
            rating_col=w.label, num_blocks="auto", seed=ctx.seed,
        ).fit(relations)
    out["train_ratings"] = n_train + exp.n_side_rows
    out["iters"] = iters
    fac = check_factors(chk, w, exp, model)

    # ---- score
    if w.persist:
        path = os.path.join(ctx.work_dir, "model")
        with _timed(ctx, times, "score", "als.persist"):
            model.save(path, mode="overwrite")
            model = CollectiveALSModel.load(spark, path)
    with _timed(ctx, times, "score", "als.predict"):
        pred = model.predict(hold, s.left, s.right).persist()
        pred.count()
    cached.append(pred)
    scored = pred.filter(~F.isnan("prediction"))
    label = F.col(w.label) if not w.implicit else (F.col(w.label) > 0).cast("double")
    with _timed(ctx, times, "score", "evaluation.regression"):
        reg = regression_metrics(
            scored.withColumn("_y", label), label_col="_y", pred_col="prediction"
        ).collect()[0]
    positive = F.col(w.label) >= 4 if not w.implicit else F.col(w.label) > 0
    with _timed(ctx, times, "score", "evaluation.ranking"):
        rank_rows = ranking_metrics(
            scored.select(s.left, s.right, "prediction"),
            scored.filter(positive).select(s.left, s.right),
            s.left, s.right, "prediction", ks=RANKING_KS,
        ).collect()
    out["rmse"] = float("nan") if reg["rmse"] is None else float(reg["rmse"])
    ndcg = {int(r["k"]): float(r["ndcg"]) for r in rank_rows}
    out["ndcg_at_10"] = ndcg.get(10, float("nan"))
    _check_quality(chk, w, exp, fac, out["rmse"], int(reg["n"]), ndcg)

    # ---- serve: one client, closed loop
    uf = model.factors_for(s.left)
    itf = model.factors_for(s.right)
    n_req = serve_requests if serve_requests is not None else w.serve_requests
    batch = min(w.serve_batch, len(exp.serve_users))
    for _ in range(n_req):
        users = np.sort(rng.choice(exp.serve_users, batch, replace=False))
        id_list = [int(u) for u in users]
        t0 = time.perf_counter()
        with ctx.tracer.span("recommend.request"):
            rows = recommend_topk(uf.filter(F.col("id").isin(id_list)), itf, k=TOP_K).collect()
        out["latencies"].append(time.perf_counter() - t0)
        check_topk(chk, rows, users, fac[s.left], fac[s.right], TOP_K)
    times["serve"] = float(sum(out["latencies"]))  # checks excluded
    out["serve_requests"] = n_req

    # ---- fold-in of the cold cohort
    with _timed(ctx, times, "foldin", "foldin.solve"):
        new_rows = fold_in(
            model, cold, new_col=s.left, fixed_entity=s.right, fixed_col=s.right,
            rating_col=w.label, reg_param=w.reg, nonnegative=w.nonneg,
            implicit_prefs=w.implicit, alpha=w.alpha,
        ).collect()
    _check_foldin(chk, w, ctx, new_rows, fac[s.right])

    for df in cached:
        df.unpersist()
    return out


def _check_quality(chk: Checks, w: Workload, exp: Expected, fac: dict,
                   rmse: float, n_scored: int, ndcg: dict) -> None:
    """The model beats a constant predictor on the holdout. Explicit
    ratings: the cmf_quality_gate rule, RMSE on the scored pairs below
    that of predicting the train global mean. Thumbs: implicit ALS
    scores how likely a user engages with an item, not a calibrated
    preference, so the gate is ranking the holdout's up-thumbed pairs
    above pairs of the same users with items they never rated better
    than a constant does (AUC > 0.5). Ranking metrics must lie in [0, 1]."""
    s = w.shape
    hold = exp.holdout_pd
    fl, L = lookup(fac[s.left], hold[s.left].values.astype(np.int64))
    fr, R = lookup(fac[s.right], hold[s.right].values.astype(np.int64))
    both = fl & fr
    y = pref(w, hold[w.label].values.astype(np.float64))[both]
    chk.op(n_scored == len(y) and n_scored >= 10, f"scored pairs {n_scored} vs {len(y)}")
    if not w.implicit:
        base = math.sqrt(float(np.mean((y - exp.train_mean) ** 2))) if len(y) else math.nan
        chk.op(math.isfinite(rmse) and rmse < base, f"holdout rmse {rmse:.4f} vs mean {base:.4f}")
    else:
        rated = pd.concat([exp.train_pd, hold])[[s.left, s.right]]
        rated_by = rated.groupby(s.left)[s.right].agg(set).to_dict()
        items = fac[s.right][0]
        rng = np.random.default_rng(len(hold))
        up = np.flatnonzero(both & (hold[w.label].values > 0))
        users = hold[s.left].values[up].astype(np.int64)
        # one never-rated item per up-thumbed pair, for users that have one
        unrated = [
            np.setdiff1d(items, np.fromiter(rated_by[int(u)], np.int64), assume_unique=True)
            for u in users
        ]
        keep = np.array([len(c) > 0 for c in unrated], dtype=bool)
        neg_items = np.array([rng.choice(c) for c in unrated if len(c)], dtype=np.int64)
        _, Rn = lookup(fac[s.right], neg_items)
        Lu = L[up[keep]].astype(np.float64)
        pos = np.einsum("nk,nk->n", Lu, R[up[keep]].astype(np.float64))
        neg = np.einsum("nk,nk->n", Lu, Rn.astype(np.float64))
        labels = np.r_[np.ones(len(pos), bool), np.zeros(len(neg), bool)]
        auc = _auc(np.r_[pos, neg], labels)
        chk.op(auc > 0.5, f"holdout engagement AUC {auc:.4f}")
    chk.op(
        sorted(ndcg) == RANKING_KS and all(0.0 <= v <= 1.0 + 1e-9 for v in ndcg.values()),
        f"ranking metrics {ndcg}",
    )


def _auc(score: np.ndarray, positive: np.ndarray) -> float:
    """Probability that a random positive outscores a random negative
    (ties count half)."""
    n_pos, n_neg = int(positive.sum()), int((~positive).sum())
    if n_pos == 0 or n_neg == 0:
        return math.nan
    ranks = pd.Series(score).rank(method="average").values
    return float((ranks[positive].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def _check_foldin(chk: Checks, w: Workload, ctx: Ctx, rows, right_table: tuple) -> None:
    """Fold-in factors are finite, one per cold id, and score every
    probe pair of the cold cohort."""
    s = w.shape
    ids = np.array(sorted(int(r["id"]) for r in rows), dtype=np.int64)
    cold_ids = np.arange(s.n_left, s.n_left + s.n_cold, dtype=np.int64)
    feats = {int(r["id"]): r["features"] for r in rows}
    ok = np.array_equal(ids, cold_ids) and all(
        f is not None and len(f) == w.rank and np.isfinite(f).all() for f in feats.values()
    )
    if ok:
        probe = ctx.exp.cold_probe
        found, R = lookup(right_table, probe[s.right].values.astype(np.int64))
        L = np.array([feats[int(u)] for u in probe[s.left].values], dtype=np.float64)
        scores = np.einsum("nk,nk->n", L, R.astype(np.float64))
        ok = bool(found.all()) and bool(np.isfinite(scores).all())
    chk.op(ok, "fold-in factors")
