"""Seeded input generator for the CMF pipeline benchmark.

Every workload's inputs come from ``numpy.random.default_rng(seed)``
and a fixed shape, so the same seed always gives the same files. The
generator writes parquet only; the program under test sees nothing but
those files.

The explicit shapes are derived from the reference's MovieLens fixture
(FIXTURES.md sections 1-2, ml-latest-small): 671 users x 9,125 movies,
100,004 ratings, at least 20 ratings per user (149 on average),
ratings 0.5..5.0 in half steps, and a (movie, genre, 1.0) side relation
over 20 dense genre codes. Degree skew follows the reference's peaks:
the busiest user has about 16x the mean user degree (2,391 vs 149) and
the most rated movie about 31x the mean movie degree (341 vs 11). Users
get a power-law degree profile above the minimum, items a Zipf
popularity; both exponents are solved from those peak ratios, not
chosen. Redrawing repeated (user, movie) pairs flattens the top of the
item curve (the busiest movie gets about 230 ratings), and the printed
input statistics show what each seed produced.

- ``explicit``: (user, item, rating, ts) plus the (item, genre, 1.0)
  side relation when ``side`` is set (MovieLensCollectiveALS;
  MovieLensALS without it).
- ``implicit``: (profile, content, thumb +-1, ts) plus a
  (content, artist, 1.0) side relation (IHRCollectiveALS). The
  reference gives no size for these tables, so this shape reuses the
  generator with its own counts.

Ratings come from a low-rank latent model with one axis per side id
(genre / artist): an item's latent is the mean of its side ids'
centroids plus noise, so the side relation carries signal a collective
fit can use. Each workload also gets a cold-start cohort: users absent
from the main relation, whose ratings are split into a fold-in history
and a probe set.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


# The rating model's scales (score units; a rating is 3.6 + 1.6 * score
# rounded to half stars). The reference gives only the ratings' spread,
# not how it divides, so the offsets are sized to bring the spread to
# the reference's (mean ~3.5, sd ~1.06 in ml-latest-small) and the rest
# is a choice: a smaller taste part, with an item latent mostly set by
# its genres, and per-rating noise of about the taste part's size.
TASTE_SD = 1.5  # user latent scale
NOISE_SD = 0.25  # per-rating noise on the score
BIAS_SD = 0.45  # per-user and per-item offsets
ITEM_SD = 0.25  # item latent's own part, beside its side ids' centroids
RIGHT_PEAK = 31.0  # top right degree / mean right degree
# P(each of up to three extra side ids per right id): about 2.2 genres
# per item; the reference gives no figure
EXTRA_SIDE = 0.43


@dataclass(frozen=True)
class Shape:
    """Size and semantics of one workload's generated inputs."""

    kind: str  # "explicit" | "implicit"
    left: str  # entity names as they appear in the parquet columns
    right: str
    side: str | None  # third entity (side relation on ``right``) or None
    n_left: int
    n_right: int
    n_side: int  # side ids; also the latent model's dimension
    n_ratings: int
    n_cold: int
    min_degree: int = 20  # ratings per left id, at least
    left_peak: float = 16.0  # top left degree / mean left degree

    @property
    def cold_ratings(self) -> int:
        """Ratings per cold user: ``min_degree`` of history, as many probes."""
        return 2 * self.min_degree


def movielens(side: bool) -> Shape:
    """The ml-latest-small shape, with or without the genre relation,
    and a cold cohort of a tenth as many users as the reference has."""
    return Shape(
        "explicit", "user", "item", "genre" if side else None,
        671, 9125, 20, 100_004, n_cold=67,
    )


def _solve(f, target: float, lo: float = 0.0, hi: float = 4.0) -> float:
    """x in [lo, hi] with f(x) = target, for f decreasing in x."""
    for _ in range(60):
        mid = 0.5 * (lo + hi)
        lo, hi = (mid, hi) if f(mid) > target else (lo, mid)
    return 0.5 * (lo + hi)


def _power(n: int, a: float) -> np.ndarray:
    return np.arange(1, n + 1, dtype=np.float64) ** -a


def _right_probs(n_right: int, peak: float) -> np.ndarray:
    """Zipf popularity P(rank r) ~ r^-a with the top id drawn ``peak``
    times as often as the mean id: n * P(1) = peak."""
    a = _solve(lambda a: _power(n_right, a).sum(), n_right / peak)
    p = _power(n_right, a)
    return p / p.sum()


def _left_degrees(shape: Shape) -> np.ndarray:
    """Degrees by popularity rank r = 1..n: min + c * f_a(r), where
    f_a(r) = (r^-a - n^-a) / (1 - n^-a) falls from 1 to 0, so the top
    degree is ``left_peak`` times the mean, the last is ``min_degree``
    and a is solved for the total ``n_ratings``."""
    n, mean = shape.n_left, shape.n_ratings / shape.n_left
    c = shape.left_peak * mean - shape.min_degree

    def profile(a: float) -> np.ndarray:
        tail = float(n) ** -a
        return (_power(n, a) - tail) / (1.0 - tail)

    a = _solve(lambda a: c * profile(a).mean(), mean - shape.min_degree, 1e-6, 8.0)
    deg = np.floor(shape.min_degree + c * profile(a) + 1e-9).astype(np.int64)
    deg[: shape.n_ratings - int(deg.sum())] += 1  # top up the rounding loss
    return np.minimum(deg, shape.n_right)


def _pairs(rng: np.random.Generator, shape: Shape) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (left, right) pairs in random order: every left id has
    its degree, right ids are Zipf draws redrawn until no pair repeats.
    Popularity ranks are shuffled over ids so hash blocks see a mix."""
    deg = _left_degrees(shape)
    lft = np.repeat(rng.permutation(shape.n_left), deg)
    p = _right_probs(shape.n_right, RIGHT_PEAK)
    perm_r = rng.permutation(shape.n_right)
    rgt = rng.choice(shape.n_right, size=len(lft), p=p)
    while True:
        key = lft * shape.n_right + rgt
        order = np.argsort(key, kind="stable")
        dup = np.zeros(len(key), dtype=bool)
        dup[order[1:]] = key[order[1:]] == key[order[:-1]]
        if not dup.any():
            break
        rgt[dup] = rng.choice(shape.n_right, size=int(dup.sum()), p=p)
    shuffle = rng.permutation(len(lft))
    return lft[shuffle].astype(np.int32), perm_r[rgt[shuffle]].astype(np.int32)


def _labels(
    rng: np.random.Generator,
    shape: Shape,
    lat_l: np.ndarray,
    lat_r: np.ndarray,
    bias_l: np.ndarray,
    bias_r: np.ndarray,
    lft: np.ndarray,
    rgt: np.ndarray,
) -> np.ndarray:
    score = np.einsum("nd,nd->n", lat_l[lft], lat_r[rgt]) + bias_l[lft] + bias_r[rgt]
    score += rng.normal(0.0, NOISE_SD, len(lft))
    if shape.kind == "explicit":
        # 0.5..5.0 in half steps
        return (np.clip(np.rint(2.0 * (3.6 + 1.6 * score)), 1, 10) / 2.0).astype(np.float32)
    # signed implicit feedback: about two thirds thumbs-up
    return np.where(score > -0.25, 1.0, -1.0).astype(np.float32)


def generate(shape: Shape, seed: int) -> dict[str, pd.DataFrame]:
    """All input tables of one workload, as pandas frames."""
    rng = np.random.default_rng(seed)
    d = shape.n_side
    centroids = rng.normal(0.0, 1.0 / np.sqrt(d), (d, d))
    # each right id has a primary side id and up to three more
    primary = rng.integers(0, d, shape.n_right)
    extra = rng.integers(0, d, (shape.n_right, 3))
    extra = np.where(rng.random((shape.n_right, 3)) < EXTRA_SIDE, extra, -1)
    member = np.concatenate([primary[:, None], extra], axis=1)
    member[:, 1:][member[:, 1:] == member[:, :1]] = -1
    ones = member >= 0
    lat_r = (centroids[np.where(ones, member, 0)] * ones[..., None]).sum(1) / ones.sum(1)[:, None]
    lat_r += rng.normal(0.0, ITEM_SD / np.sqrt(d), (shape.n_right, d))
    n_left_all = shape.n_left + shape.n_cold
    lat_l = rng.normal(0.0, TASTE_SD / np.sqrt(d), (n_left_all, d))
    bias_l = rng.normal(0.0, BIAS_SD, n_left_all)
    bias_r = rng.normal(0.0, BIAS_SD, shape.n_right)

    lft, rgt = _pairs(rng, shape)
    labels = _labels(rng, shape, lat_l, lat_r, bias_l, bias_r, lft, rgt)
    # chronological: timestamps rise with row order over one year, with
    # ties broken by (left, right) in the split
    ts = np.sort(rng.integers(1_500_000_000, 1_531_536_000, len(lft))).astype(np.int64)
    label_col = "rating" if shape.kind == "explicit" else "thumb"
    out = {
        "ratings": pd.DataFrame(
            {shape.left: lft, shape.right: rgt, label_col: labels, "ts": ts}
        )
    }
    if shape.side is not None:
        rid, col = np.nonzero(ones)
        sid = member[rid, col]
        # several extra draws may hit the same side id: keep one row
        pairs = np.unique(rid.astype(np.int64) * d + sid)
        out["side"] = pd.DataFrame(
            {
                shape.right: (pairs // d).astype(np.int32),
                shape.side: (pairs % d).astype(np.int32),
                label_col: np.ones(len(pairs), dtype=np.float32),
            }
        )

    # cold cohort: ids n_left.. kept out of ``ratings``; items restricted
    # to ones rated in the oldest 80% of rows, which every split with a
    # holdout of at most 20% trains on, so the fixed side has factors
    cold_ids = np.arange(shape.n_left, n_left_all, dtype=np.int32)
    seen_right = np.unique(rgt[: int(0.8 * len(rgt))])
    k = shape.cold_ratings
    c_l = np.repeat(cold_ids, k)
    c_r = np.empty_like(c_l)
    for i in range(shape.n_cold):
        c_r[i * k : (i + 1) * k] = rng.choice(seen_right, k, replace=False)
    c_lab = _labels(rng, shape, lat_l, lat_r, bias_l, bias_r, c_l, c_r)
    probe = np.tile(np.arange(k) % 2 == 1, shape.n_cold)
    cold = pd.DataFrame({shape.left: c_l, shape.right: c_r, label_col: c_lab})
    out["cold_history"] = cold[~probe].reset_index(drop=True)
    out["cold_probe"] = cold[probe].reset_index(drop=True)
    return out


def stats(shape: Shape, tables: dict[str, pd.DataFrame]) -> dict:
    """Input statistics printed beside the metrics: rows, distinct ids
    per entity and max degree."""
    r = tables["ratings"]
    s = {
        "ratings_rows": int(len(r)),
        f"{shape.left}_ids": int(r[shape.left].nunique()),
        f"{shape.right}_ids": int(r[shape.right].nunique()),
        f"{shape.left}_max_degree": int(r[shape.left].value_counts().max()),
        f"{shape.right}_max_degree": int(r[shape.right].value_counts().max()),
        "cold_ids": int(tables["cold_history"][shape.left].nunique()),
        "cold_history_rows": int(len(tables["cold_history"])),
    }
    if "side" in tables:
        sd = tables["side"]
        s["side_rows"] = int(len(sd))
        s[f"{shape.side}_ids"] = int(sd[shape.side].nunique())
        s[f"{shape.side}_max_degree"] = int(sd[shape.side].value_counts().max())
    return s


def write(tables: dict[str, pd.DataFrame], out_dir: str) -> dict[str, str]:
    """One parquet file per table; returns table -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        paths[name] = path
    return paths
