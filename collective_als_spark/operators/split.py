"""Chronological dataset splitting.

Reference: ``Utils.splitChronologically`` (``Utils.scala:11-36``) sorts
the whole RDD by a time column (range-partition shuffle), zips with a
global index, counts, and filters one lineage per slice — three extra
jobs plus a reflection hack to recover the encoder.

Rebuild, 100 TB shapes for both modes:

- ``exact=True`` — two-phase global rank: bucket every row on the
  leading sort key by approximate quantile cuts of that key (one small
  aggregate job), hash-shuffle on the bucket, ``row_number`` within each
  bucket (never a single-task global window), then a broadcast join
  against the tiny per-bucket cumulative-offset table. Global rank =
  local rank + bucket offset, exactly ``zipWithIndex`` semantics, fully
  parallel. The bucket is a function of the row's values, not of where
  the row landed, so it stays consistent under AQE partition
  coalescing. Slice bounds are kept as floats (``lo*n <= rk < hi*n``)
  to match the reference's fractional-boundary behavior
  (``Utils.scala:24-27``) bit-for-bit.
- ``exact=False`` — approx quantile cuts on the time column (no rank at
  all); boundaries off by at most the approx-quantile error. Rows with
  a NULL time sort first in exact mode, so the approx path routes them
  into the first slice explicitly (they'd otherwise be silently dropped
  by the range filters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cumulative_bounds(weights: list[float]) -> list[tuple[float, float]]:
    total_w = float(sum(weights))
    fracs = [w / total_w for w in weights]
    cum = []
    acc = 0.0
    for frac in fracs:
        cum.append((acc, acc + frac))
        acc += frac
    cum[-1] = (cum[-1][0], 1.0 + 1e-9)
    return cum


# Leading-key buckets per shuffle partition: the window stage hashes
# bucket ids onto partitions, so several buckets per partition keep the
# load even when some collide.
_BUCKETS_PER_PARTITION = 4
_QUANTILE_TYPES = (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _leading_key(df: DataFrame, col) -> tuple[Column, bool, bool]:
    """(key, descending, nulls_first) of the first ordering column, read
    from its column node: a plain column sorts ascending with nulls
    first; ``.desc()``, ``.asc_nulls_last()``, ... wrap the key in a
    sort order."""
    col = F.col(col) if isinstance(col, str) else col
    node = col._jc.node()
    if node.getClass().getSimpleName() != "SortOrder":
        return col, False, True
    jvm = df.sparkSession.sparkContext._jvm
    return (
        Column(jvm.org.apache.spark.sql.Column(node.child())),
        "Descending" in node.sortDirection().getClass().getSimpleName(),
        "NullsFirst" in node.nullOrdering().getClass().getSimpleName(),
    )


def _bucketed(df: DataFrame, order_cols: list) -> DataFrame:
    """``df`` plus ``_bk``, hash-partitioned on it: the bucket of the
    leading order key among approximate quantile cuts of that key.

    ``_bk`` never decreases along ``order_cols`` order and is a function
    of the row's values alone, so every branch that reads the exchange
    agrees on it however AQE coalesces each read (``spark_partition_id``
    after a range shuffle does not: two reads of one exchange can be
    coalesced differently, and the ranks then stop being a permutation).
    The cuts are collected eagerly (one small aggregate job), so every
    execution of the returned plan buckets alike. A leading key that is
    neither numeric nor a date/timestamp gets a single bucket.
    """
    key, desc, nulls_first = _leading_key(df, order_cols[0])
    n_buckets = _BUCKETS_PER_PARTITION * int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    key_type = df.select(key).schema[0].dataType
    cuts = []
    if isinstance(key_type, _QUANTILE_TYPES):
        probs = [i / n_buckets for i in range(1, n_buckets)]
        q = df.agg(F.percentile_approx(key, probs).alias("q")).first()["q"]
        cuts = sorted(set(q or []))
    if cuts:
        arr = F.array(*[F.lit(c).cast(key_type) for c in cuts])
        passed = F.filter(arr, (lambda c: c >= key) if desc else (lambda c: c <= key))
        bucket = F.when(key.isNull(), 0 if nulls_first else len(cuts)).otherwise(
            F.size(passed)
        )
    else:
        bucket = F.lit(0)
    return df.withColumn("_bk", bucket.cast("int")).repartition("_bk")


def _bucket_offsets(sums: DataFrame, total_col: str) -> DataFrame:
    """(_bk, _off, total_col) from one ``(_bk, _cnt)`` row per bucket:
    the exclusive prefix sum of ``_cnt`` in bucket order and the grand
    total. The counts are packed into one sorted array and expanded with
    higher-order functions, so no un-partitioned window enters the plan
    (O(B^2) work for B buckets is negligible)."""
    packed = sums.agg(F.sort_array(F.collect_list(F.struct("_bk", "_cnt"))).alias("pc"))
    return packed.select(
        F.explode(
            F.expr(
                "transform(pc, (x, i) -> struct("
                "x._bk AS _bk, "
                "aggregate(slice(pc, 1, i), 0L, (acc, y) -> acc + y._cnt) AS _off, "
                f"aggregate(pc, 0L, (acc, y) -> acc + y._cnt) AS {total_col}))"
            )
        ).alias("s")
    ).select("s.*")


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "_rk",
) -> DataFrame:
    """Exact 0-based global rank without a global window.

    Bucket rows on the leading order key (:func:`_bucketed`), rank within
    each bucket, then add the bucket's cumulative offset (tiny broadcast
    join). Also attaches ``_n`` (total rows) so callers can cut by
    fraction without a separate count job.
    """
    part = _bucketed(df, order_cols)
    w_local = Window.partitionBy("_bk").orderBy(*order_cols)
    ranked_local = part.withColumn("_lrk", F.row_number().over(w_local) - F.lit(1))
    counts = part.groupBy("_bk").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        ranked_local.join(F.broadcast(_bucket_offsets(counts, "_n")), "_bk")
        .withColumn(rank_col, (F.col("_lrk") + F.col("_off")).cast("long"))
        .drop("_bk", "_lrk", "_off")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    cumsum_col: str = "_cum",
    total_col: str = "_total",
) -> DataFrame:
    """Exact EXCLUSIVE global cumulative sum of ``value_col`` in
    ``order_cols`` order (sum of all strictly-preceding rows), without a
    single-task global window.

    Same two-phase shape as :func:`global_rank`: bucket on the leading
    order key, per-bucket window cumsum, then add the bucket's
    cumulative offset via a tiny broadcast join. Linear work per row —
    replaces the O(V²) ``aggregate(slice(arr, 1, i))``
    prefix-sum-over-packed-array shape, which re-scans the prefix per
    element. Also attaches ``total_col`` (grand total) so callers can
    compute shares without a second pass.
    """
    part = _bucketed(df, order_cols)
    w_local = (
        Window.partitionBy("_bk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = part.withColumn(
        "_lcum",
        F.coalesce(F.sum(value_col).over(w_local), F.lit(0)).cast("long"),
    )
    sums = part.groupBy("_bk").agg(F.sum(value_col).cast("long").alias("_cnt"))
    return (
        local.join(F.broadcast(_bucket_offsets(sums, "_tot")), "_bk")
        .withColumn(cumsum_col, (F.col("_lcum") + F.col("_off")).cast("long"))
        .withColumn(total_col, F.col("_tot"))
        .drop("_bk", "_lcum", "_off", "_tot")
    )


def split_chronologically(
    df: DataFrame,
    weights: list[float],
    time_col: str,
    tie_break: list[str] | None = None,
    exact: bool = True,
) -> list[DataFrame]:
    """Split ``df`` into len(weights) slices in time order.

    weights are normalized (reference ``Utils.scala:21-23``). ``exact=True``
    reproduces the reference's exact global-rank cuts with float bounds
    (``lower <= rank < upper``, ``Utils.scala:24-27``); ``exact=False``
    uses approx quantile boundaries on ``time_col`` (fully parallel,
    boundary-epsilon accuracy — prefer it anywhere exact rank cuts
    aren't demanded by an oracle).
    """
    cum = _cumulative_bounds(weights)

    if not exact:
        is_ts = isinstance(df.schema[time_col].dataType, T.TimestampType)
        num_col = "__split_us" if is_ts else time_col
        ndf = (
            df.withColumn(num_col, F.unix_micros(F.col(time_col))) if is_ts else df
        )
        probs = [hi for (_, hi) in cum[:-1]]
        cuts = ndf.approxQuantile(num_col, probs, 0.001)
        slices = []
        lo_cut = None
        for i, (_, _) in enumerate(cum):
            sl = ndf
            if lo_cut is not None:
                sl = sl.filter(F.col(num_col) >= F.lit(lo_cut))
            if i < len(cuts):
                pred = F.col(num_col) < F.lit(cuts[i])
                if i == 0:
                    # NULL timestamps sort first under the exact path's
                    # row_number; keep them in the first slice here too
                    # instead of silently dropping them.
                    pred = pred | F.col(num_col).isNull()
                sl = sl.filter(pred)
                lo_cut = cuts[i]
            slices.append(sl.drop("__split_us") if is_ts else sl)
        return slices

    order = [F.col(time_col)] + [F.col(c) for c in (tie_break or [])]
    ranked = global_rank(df, order)
    out = []
    for lo, hi in cum:
        out.append(
            ranked.filter(
                (F.col("_rk") >= F.lit(lo) * F.col("_n"))
                & (F.col("_rk") < F.lit(hi) * F.col("_n"))
            ).drop("_rk", "_n")
        )
    return out


def chronological_slice_labels(
    df: DataFrame,
    weights: list[float],
    time_col: str,
    tie_break: list[str] | None = None,
    label_col: str = "slice",
) -> DataFrame:
    """One-pass variant of the exact split: every row gets its slice
    index as a column from a SINGLE global-rank subplan, instead of N
    filtered lineages that each re-execute the rank (the Seq[Dataset]
    API re-runs the range shuffle per slice unless the optimizer
    happens to reuse the exchange). Use this when downstream wants all
    slices in one frame (size accounting, per-slice stats, fold-tagged
    training data)."""
    cum = _cumulative_bounds(weights)
    order = [F.col(time_col)] + [F.col(c) for c in (tie_break or [])]
    ranked = global_rank(df, order)
    lab = None
    for i, (lo, hi) in enumerate(cum):
        cond = (F.col("_rk") >= F.lit(lo) * F.col("_n")) & (
            F.col("_rk") < F.lit(hi) * F.col("_n")
        )
        lab = F.when(cond, i) if lab is None else lab.when(cond, i)
    return ranked.withColumn(label_col, lab.cast("int")).drop("_rk", "_n")
