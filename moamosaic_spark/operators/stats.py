"""A3 stats finalization — partial+final aggregation of the per-tile
accumulators emitted by the stitch kernel.

Same algebra as the reference StatsAccumulator (mosaic.py:746-794):
mean = sum/count, variance = ssq/count - mean^2 clamped at 0 (the
negative-rounding guard at mosaic.py:791), stddev = sqrt(variance).
The per-tile partials are the distributed form of the reference's
incremental single-pass accumulation; one task folds them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def finalize_stats(stitch_out: DataFrame) -> DataFrame:
    """Per-band stats from level-0 stitch rows.

    The reduce has no Exchange: one task (``coalesce(1)``) reads the
    five partial columns of every level-0 row and aggregates them, so
    that task holds at most tiles x bands rows of five numbers (a
    million 1024² tiles: ~40 MB of partials). Read it over a persisted
    stitch, as write_mosaic does: the task then reads cached rows, and
    the stitch runs in its own tasks. Over an unpersisted stitch the
    one task also runs the stitch.

    Bands with zero non-null pixels get null min/max/mean/stddev and
    count 0 (reference skips writing metadata when count==0,
    mosaic.py:389).
    """
    agg = (
        stitch_out.where("level = 0")
        .coalesce(1)
        .groupBy("band")
        .agg(*[F.expr(e) for e in (
            "sum(px_count) AS count",
            "sum(px_sum) AS s",
            "sum(px_ssq) AS ssq",
            "min(px_min) AS minval",
            "max(px_max) AS maxval",
        )])
    )
    mean = "s / `count`"
    variance = f"ssq / `count` - ({mean}) * ({mean})"
    has = "`count` > 0"
    return agg.selectExpr(
        "band",
        f"CASE WHEN {has} THEN minval END AS minval",
        f"CASE WHEN {has} THEN maxval END AS maxval",
        f"CASE WHEN {has} THEN {mean} END AS meanval",
        f"CASE WHEN {has} THEN CASE WHEN {variance} >= 0 THEN sqrt({variance}) "
        "ELSE 0.0D END END AS stddev",
        "CAST(`count` AS BIGINT) AS count",
    )


def value_histogram(tiles: DataFrame, nullval: int = 0) -> DataFrame:
    """Exact per-band pixel-value histogram of a tile relation — the
    ``gdalinfo -hist`` analog the reference's stats sink stops short
    of (mosaic.py:746-794 keeps min/max/mean/stddev only).

    Plan shape: JVM explode of the pixel payloads (unpacked at this
    boundary; ``array<int>`` tiles are packed first by pixels.ingest)
    feeds a partial hash aggregate — each task reduces its pixels to
    <= 65536 (band, val) partials map-side, so the ONE shuffle carries
    bin counts, never pixels. No Python anywhere."""
    from ..pixels import ingest, unpack_u2

    px = unpack_u2(F.col("pixels"))
    return (
        ingest(tiles).select("band", F.explode(px).alias("val"))
        .where(F.col("val") != nullval)
        .groupBy("band", "val")
        .agg(F.count("*").alias("n_px"))
    )
