"""Range (interval) join — match point events to the intervals that
contain them (point ∈ [start, end)), per key.

Spark plans a raw inequality join as BroadcastNestedLoopJoin (or worse);
this is the 1-D analog of the engine's tile-keyed spatial join: every
interval explodes to the time buckets it overlaps, every point keys the
ONE bucket containing it, the join is an equi-join on (key, bucket)
with the exact containment predicate as residual. A (point, interval)
pair meets in exactly one bucket (the point's), so no dedup pass is
needed. Shuffle is O(points + interval-bucket covers); pick
``bucket_size`` ≈ the median interval length (long skewed intervals
replicate their covers, never the points).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    ts: str,
    start: str,
    end: str,
    bucket_size: float,
) -> DataFrame:
    """Inner join: points columns + interval columns for every pair with
    interval.start <= point.ts < interval.end and equal key columns."""
    b = float(bucket_size)
    p = points.withColumn(
        "_bk", F.floor(F.col(ts).cast("double") / b).cast("long")
    )
    i = intervals.withColumn(
        "_bk0", F.floor(F.col(start).cast("double") / b).cast("long")
    ).withColumn(
        # end is EXCLUSIVE: the last bucket a half-open interval reaches
        # is ceil(end/b) - 1 (an end exactly on a bucket edge does not
        # reach into that bucket)
        "_bk1",
        (F.ceil(F.col(end).cast("double") / b) - 1).cast("long"),
    )
    i = i.where(F.col("_bk1") >= F.col("_bk0")).withColumn(
        "_bk", F.explode(F.sequence(F.col("_bk0"), F.col("_bk1")))
    ).drop("_bk0", "_bk1")
    joined = p.join(i, on=[*on, "_bk"], how="inner")
    return joined.where(
        (F.col(start) <= F.col(ts)) & (F.col(ts) < F.col(end))
    ).drop("_bk")
