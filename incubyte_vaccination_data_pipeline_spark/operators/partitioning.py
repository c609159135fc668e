"""Partition-layout helpers shared by the operator library."""

from __future__ import annotations

from pyspark.sql import DataFrame


def fanout_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-spread ``df`` over ``spark.sql.shuffle.partitions``
    partitions keyed by ``cols``.

    For explode-heavy operators (shingles, n-grams, per-char terms)
    the input bytes wildly understate the downstream work: a small
    parquet file arrives as 1-3 splits, so a 100-1000x row explosion
    runs on 3 of N cores. An explicit pre-explode repartition costs
    one tiny shuffle of the compact input and spreads the expensive
    stage across the cluster. The explicit partition count matters:
    it pins the exchange against AQE coalescing, which only sees the
    small input bytes and would shrink it right back. Keying by the
    downstream grouping column lets the following groupBy reuse the
    layout (hash partitioning on a subset of the grouping keys
    satisfies its clustering) instead of shuffling again — so the
    exchange count does not grow. On inputs already wider than the
    cluster (the 100 TB case) this is a no-op-sized reshuffle that
    preserves the existing parallelism.

    The count is the session's setting, not the host's core count: it
    lands in the analyzed plan, so a plan (and its fingerprint) built
    under the same session settings is the same on every host.
    ``session.get_spark`` sizes shuffle partitions to the cores it is
    given, so the tuned session still spreads over every core.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 8,
) -> DataFrame:
    """Two-dimensional data-skipping layout: interleave the bit
    patterns of both columns' value buckets into a Z-order key and
    range-partition on it, so files carry narrow min/max ranges in
    BOTH dimensions — predicates on either column prune files, where
    a plain range layout serves only its own sort column.

    Bucketing uses fixed-width bins over each column's [min, max]
    (a 2-scalar metadata collect per column — production systems use
    approximate quantile boundaries for skewed keys; the interleave
    arithmetic is identical). The Z-key is pure integer bit math in
    one codegen'd expression; the layout write is one
    ``repartitionByRange`` pass, the same cost class as any sorted
    rewrite. Returns the frame with the layout applied (caller
    writes it); the ``__z`` column is dropped on write.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(col_a).alias("a0"), F.max(col_a).alias("a1"),
        F.min(col_b).alias("b0"), F.max(col_b).alias("b1"),
    ).collect()[0]
    n_buckets = 1 << bits

    def bucket(col, lo, hi):
        if hi == lo:
            return F.lit(0)
        frac = (F.col(col).cast("double") - float(lo)) / (float(hi) - float(lo))
        return F.least(
            F.lit(n_buckets - 1), F.floor(frac * n_buckets).cast("int")
        )

    ba = bucket(col_a, stats["a0"], stats["a1"])
    bb = bucket(col_b, stats["b0"], stats["b1"])
    z = F.lit(0)
    for k in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(ba, k) % 2, 2 * k + 1)
            + F.shiftleft(F.shiftright(bb, k) % 2, 2 * k)
        )
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .drop("__z")
    )
