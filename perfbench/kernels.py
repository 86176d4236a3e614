"""Direct timings of the ``cmf.solver`` kernels, and a single-process
numpy replay of the ``cmf_collective_explicit`` fit.

The kernels run on one block shaped like the workload's largest block:
the (entity, hash block) the program's trainer (or, for
``als_fit_serve``, its fold-in) would hand one Arrow batch, with that
block's real row and id counts at the workload's rank. Block membership
comes from Spark's own ``pmod(hash(id), blocks)``.

The replay is the plain single-worker baseline: the same Gauss-Seidel
order, init, iterations and ALS-WR regularisation as the native trainer,
with float32 factors between updates, all in this process.
"""

from __future__ import annotations

import math
import statistics
import time

import numpy as np
import pandas as pd

from collective_als_spark.cmf import solver as S

# Replay and the Spark fit sum each id's rows in different orders, so the
# holdout RMSEs agree to rounding only; this is the stated tolerance.
REPLAY_RMSE_RTOL = 1e-3
FOLDIN_BLOCKS = 32  # fold_in's default block count
_CHUNK_ROWS = 20_000  # replay rows per build_normal_equations call
# each kernel timing: the median of at least _MIN_REPS calls, more while
# the calls so far took under _BUDGET_S, at most _MAX_REPS
_MIN_REPS, _BUDGET_S, _MAX_REPS = 3, 0.3, 25


def _median_time(fn) -> tuple[float, object]:
    times, out, spent = [], None, 0.0
    while len(times) < _MIN_REPS or (spent < _BUDGET_S and len(times) < _MAX_REPS):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        times.append(dt)
        spent += dt
    return statistics.median(times), out


def _blocks(spark, ids: np.ndarray, n_blocks: int) -> dict[int, int]:
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"id": ids.astype(np.int32)})
    rows = (
        spark.createDataFrame(pdf)
        .select("id", F.pmod(F.hash("id"), F.lit(n_blocks)).alias("b"))
        .collect()
    )
    return {int(r["id"]): int(r["b"]) for r in rows}


def _largest_block(spark, keys: np.ndarray, n_blocks: int) -> np.ndarray:
    """Row mask of the hash block with the most rows."""
    uniq = np.unique(keys)
    blk_of = _blocks(spark, uniq, n_blocks)
    blk = np.array([blk_of[int(k)] for k in uniq])[np.searchsorted(uniq, keys)]
    return blk == np.bincount(blk, minlength=n_blocks).argmax()


def _contributions(w, exp, tables, e: int):
    """(target ids, other entity index, other ids, ratings) of every row
    the trainer gathers for entity ``e``."""
    s = w.shape
    rels = [(0, 1, exp.train_pd[s.left].values, exp.train_pd[s.right].values,
             exp.train_pd[w.label].values)]
    if s.side:
        side = tables["side"]
        rels.append((1, 2, side[s.right].values, side[s.side].values, side[w.label].values))
    tgt, oth_e, oth, r = [], [], [], []
    for li, ri, lv, rv, rv_lab in rels:
        if ri == e:
            tgt.append(rv); oth.append(lv); oth_e.append(np.full(len(lv), li)); r.append(rv_lab)
        if li == e:
            tgt.append(lv); oth.append(rv); oth_e.append(np.full(len(lv), ri)); r.append(rv_lab)
    return (np.concatenate(tgt).astype(np.int64), np.concatenate(oth_e),
            np.concatenate(oth).astype(np.int64), np.concatenate(r).astype(np.float64))


def _normal_eq_args(w, ids, X, r):
    """Arguments exactly as the trainer's solve_block passes them."""
    if not w.implicit:
        return (ids, X, r), {}
    c1 = w.alpha * np.abs(r)
    pos = r > 0
    tgt = np.divide(c1 + 1.0, c1, out=np.zeros_like(c1), where=c1 > 0)
    return (ids, X, np.ones_like(r)), {"weights": np.where(pos, c1, 0.0),
                                        "targets": np.where(pos, tgt, 0.0)}


def kernel_metrics(spark, w, exp, tables, seed: int, n_blocks: int) -> dict[str, float]:
    """solver.* per-layer figures for workload ``w``."""
    out = {k: 0.0 for k in ("normal_eq_s", "normal_eq_gflop", "normal_eq_mb",
                            "cholesky_s", "nnls_s", "yty_s", "init_s")}
    s, k = w.shape, w.rank
    if w.persist:  # als_fit_serve: the fold-in block is its only solver call
        hist = tables["cold_history"]
        mask = _largest_block(spark, hist[s.left].values, FOLDIN_BLOCKS)
        ids = hist[s.left].values[mask].astype(np.int64)
        oth = hist[s.right].values[mask].astype(np.int64)
        oth_e = np.ones(len(ids), dtype=np.int64)
        r = hist[w.label].values[mask].astype(np.float64)
    else:
        best = None
        for e in range(len(w.entities)):
            tgt, oe, ot, rr = _contributions(w, exp, tables, e)
            mask = _largest_block(spark, tgt, n_blocks)
            if best is None or mask.sum() > best[0].sum():
                best = (mask, tgt, oe, ot, rr)
        mask, tgt, oe, ot, rr = best
        ids, oth_e, oth, r = tgt[mask], oe[mask], ot[mask], rr[mask]
    order = np.argsort(ids, kind="stable")
    ids, oth_e, oth, r = ids[order], oth_e[order], oth[order], r[order]
    X = np.empty((len(ids), k), dtype=np.float64)
    for e in np.unique(oth_e):
        sel = oth_e == e
        X[sel] = S.init_factors_for_ids(oth[sel], k, seed, int(e))
    args, kw = _normal_eq_args(w, ids, X, r)
    out["normal_eq_s"], (uids, AtA, Atb, counts) = _median_time(
        lambda: S.build_normal_equations(*args, **kw))
    n, g = len(ids), len(uids)
    out["normal_eq_gflop"] = (3.0 * n * k * k + 3.0 * n * k) / 1e9
    out["normal_eq_mb"] = (2.0 * n * k * k + 3.0 * n * k + g * k * k) * 8 / 2**20
    lam = counts.astype(np.float64) * w.reg
    # both solvers on the same block, whichever branch the workload's fit
    # takes, so a change to either shows on every workload
    out["nnls_s"], _ = _median_time(lambda: S.solve_nnls(AtA, Atb, lam))
    out["cholesky_s"], _ = _median_time(lambda: S.solve_cholesky(AtA, Atb, lam))
    # the entity with the most ids: the largest factor table; the implicit
    # branch's Gramian, timed on every workload for the same reason
    big = max(range(len(w.entities)), key=lambda e: len(exp.entity_ids[w.entities[e]]))
    big_ids = exp.entity_ids[w.entities[big]].astype(np.int64)
    Y = S.init_factors_for_ids(big_ids, k, seed, big).astype(np.float64)
    out["yty_s"], _ = _median_time(lambda: S.compute_yty(Y))
    if not w.persist:  # the native trainer initialises factors; MLlib does its own
        out["init_s"], _ = _median_time(lambda: S.init_factors_for_ids(big_ids, k, seed, big))
    return out


def local_fit(w, exp, tables, seed: int) -> tuple[float, float]:
    """(seconds, holdout RMSE) of the single-process replay of an
    explicit N-entity fit."""
    ents = w.entities
    ids = [exp.entity_ids[e].astype(np.int64) for e in ents]
    factors = [S.init_factors_for_ids(ids[e], w.rank, seed, e) for e in range(len(ents))]
    contrib = [_contributions(w, exp, tables, e) for e in range(len(ents))]
    t0 = time.perf_counter()
    for _ in range(w.max_iter):
        for e in range(len(ents)):
            tgt, oth_e, oth, r = contrib[e]
            X = np.empty((len(tgt), w.rank), dtype=np.float64)
            for o in np.unique(oth_e):
                sel = oth_e == o
                X[sel] = factors[o][np.searchsorted(ids[o], oth[sel])]
            order = np.argsort(tgt, kind="stable")
            tgt_s, X, r_s = tgt[order], X[order], r[order]
            starts = S._segment_starts(tgt_s)
            new = np.empty_like(factors[e])
            lo = 0
            while lo < len(starts):
                # a chunk of whole ids holding about _CHUNK_ROWS rows
                row_lo = starts[lo]
                hi = int(np.searchsorted(starts, row_lo + _CHUNK_ROWS, side="right"))
                hi = max(hi, lo + 1)
                row_hi = starts[hi] if hi < len(starts) else len(tgt_s)
                uids, AtA, Atb, counts = S.build_normal_equations(
                    tgt_s[row_lo:row_hi], X[row_lo:row_hi], r_s[row_lo:row_hi])
                sol = S.solve_cholesky(AtA, Atb, counts.astype(np.float64) * w.reg)
                new[np.searchsorted(ids[e], uids)] = sol.astype(np.float32)
                lo = hi
            factors[e] = new
    elapsed = time.perf_counter() - t0
    hold = exp.holdout_pd
    s = w.shape
    li, ri = hold[s.left].values.astype(np.int64), hold[s.right].values.astype(np.int64)
    pl = np.clip(np.searchsorted(ids[0], li), 0, len(ids[0]) - 1)
    pr = np.clip(np.searchsorted(ids[1], ri), 0, len(ids[1]) - 1)
    ok = (ids[0][pl] == li) & (ids[1][pr] == ri)
    pred = np.einsum("nk,nk->n", factors[0][pl[ok]].astype(np.float64),
                     factors[1][pr[ok]].astype(np.float64))
    y = hold[w.label].values[ok].astype(np.float64)
    return elapsed, math.sqrt(float(np.mean((pred - y) ** 2)))
