"""Scalable global ordering utilities.

A bare ``row_number() OVER (ORDER BY k)`` funnels the whole table
through ONE task (Spark warns: "No Partition Defined for Window").
``global_seq`` computes the identical 1-based global rank with the
classic two-pass shape every distributed engine uses:

1. range-repartition + sort within partitions on the key;
2. count rows per partition (a tiny collect — one long per partition);
3. broadcast the prefix offsets and add a PER-PARTITION row_number
   (a partitioned window — fully parallel).

The result equals the single-task window whenever the key is unique
(with duplicates, ties could straddle range-partition boundaries and
tie order would depend on the split — so duplicates are DETECTED in
the count pass, which counts distinct keys for free, and rejected
with an error rather than silently misranked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import Intermediates

PART_COL = "__gs_part"
LOCAL_COL = "__gs_local"


def global_seq(df: DataFrame, order_col: str,
               out_col: str = "seq") -> DataFrame:
    """df + `out_col` = 1-based global rank of `order_col` (which must
    be unique), computed without a single-partition window.

    Uniqueness is ENFORCED, not assumed: the per-partition count pass
    (which runs anyway) also counts distinct keys and raises on any
    duplicate — a duplicate straddling a range-partition boundary would
    otherwise get a silently split-dependent rank.

    The range-partitioned input is persisted so the per-partition count
    pass doesn't recompute it.  That persist is the call's own
    (plans.session.Intermediates): the OUTPUT is localCheckpoint'ed
    and the persist released before returning, or on the duplicate
    error, so no cache entry outlives the call."""
    with Intermediates() as held:
        parts = held.persist(df.repartitionByRange(F.col(order_col))
                             .sortWithinPartitions(order_col)
                             .withColumn(PART_COL, F.spark_partition_id()))
        cdf = parts.groupBy(PART_COL).agg(
            F.count("*").alias("count"),
            F.count_distinct(F.col(order_col)).alias("n_distinct")).collect()
        counts = {r[PART_COL]: r["count"] for r in cdf}
        dup_parts = [r[PART_COL] for r in cdf
                     if r["count"] != r["n_distinct"]]
        if dup_parts:
            raise ValueError(
                f"global_seq: duplicate {order_col!r} values detected in "
                f"partitions {dup_parts[:5]} — ranks of duplicates would "
                f"depend on the range split; deduplicate or pick a unique "
                f"key")
        if not counts:  # empty input: create_map() with zero args is invalid
            return held.result(parts.drop(PART_COL).withColumn(
                out_col, F.lit(None).cast("long")))
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_expr = F.create_map(*[
            x for pid, off in offsets.items()
            for x in (F.lit(pid), F.lit(off))])
        w = Window.partitionBy(PART_COL).orderBy(order_col)
        return held.result(
            parts.withColumn(LOCAL_COL, F.row_number().over(w))
            .withColumn(out_col,
                        (F.col(LOCAL_COL)
                         + F.element_at(off_expr, F.col(PART_COL)))
                        .cast("long"))
            .drop(PART_COL, LOCAL_COL))
