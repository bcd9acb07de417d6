"""The stitch is sized to the cluster: plans.grid.stitch_partitions picks
one partition per core, fewer for fewer (band, tile) groups and more
when the estimated bytes need them; the direct stitch runs through ONE
Exchange of that many partitions, and a relayout table built without a
bucket count gets that many buckets and still stitches Exchange-free."""

import re

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.plans.grid import OutputGrid, stitch_partitions
from moamosaic_spark.sources import synth
from moamosaic_spark.sources.relayout import (
    ensure_relayout_table, relayout_to_table, stitch_from_relayout,
)
from tests.conftest import advisory, arrow_kernels, fresh_table, to_blocks, to_footprints

STITCH_EXCHANGE = re.compile(r"Exchange hashpartitioning\(_rid#\d+, (\d+)\)")


def _grid(n_px: int, n_bands: int = 1, dtype: str = "uint16") -> OutputGrid:
    return OutputGrid(
        x_min=0.0, y_max=0.0, x_res=1.0, y_res=1.0, ncols=n_px, nrows=n_px,
        n_bands=n_bands, nullval=0.0, dtype=dtype, projection="p",
    )


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def _num_buckets(spark, table) -> int:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def test_stitch_partitions_branches(spark):
    cores = spark.sparkContext.defaultParallelism
    assert cores >= 4, "the branches below need a session of >= 4 cores"
    # groups < cores: one tile x 3 bands -> one task per group
    assert stitch_partitions(spark, _grid(64, n_bands=3), 64) == 3
    # groups > cores, few bytes: 16 tiles of 8 KB -> one task per core
    assert stitch_partitions(spark, _grid(256), 64) == cores
    # the payload width, not the footprint's dtype name, sizes the bytes:
    # GDAL's "UInt16" is no numpy dtype name
    assert stitch_partitions(spark, _grid(256, dtype="UInt16"), 64) == cores
    # a tile-row range counts only its own groups: 1 row of 2 tiles
    assert stitch_partitions(spark, _grid(128), 64, tile_row_range=(1, 5)) == 2
    # bytes-bound: 16 groups x 8 KB = 128 KB over 16 KB -> 8 > cores
    with advisory(spark, "16k"):
        assert stitch_partitions(spark, _grid(256), 64) == 8 > cores
    # ... but never more partitions than groups (a group cannot split)
    with advisory(spark, "1k"):
        assert stitch_partitions(spark, _grid(256), 64) == 16


def test_direct_stitch_one_exchange_sized_to_cores(spark):
    rasters = synth.grid3x3(150, 150)
    # GDAL's type name: the stitch is sized by the payload width, so a
    # dtype string numpy does not know plans and mosaics like "uint16"
    pdf = synth.footprints_pdf(rasters)
    pdf["dtype"] = "UInt16"
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, min_overview_size=64)
    res = do_mosaic(spark, fp, blocks, MosaicConfig(**base))
    n = stitch_partitions(spark, res.grid, 64)
    assert n == spark.sparkContext.defaultParallelism
    want = synth.oracle(rasters, blocksize=64, min_overview_size=64)
    got = {(r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
           for r in res.tiles.collect()}
    assert set(got) == set(want.tiles)
    for k, a in got.items():
        assert (a == want.tiles[k]).all(), k
    # a small budget (one 64x64 window) re-sizes that one Exchange and
    # adds no kernel: a tile's inputs above the budget still fold in
    # the one stitch, one Arrow batch at a time
    stitched = [(do_mosaic(spark, fp, blocks, MosaicConfig(**base)).stitched, 1, n)]
    with advisory(spark, "8k"):
        for policy in ("last", "blend"):
            cfg = MosaicConfig(**base, merge_policy=policy)
            stitched.append((do_mosaic(spark, fp, blocks, cfg).stitched, 1,
                             stitch_partitions(spark, res.grid, 64)))
    for df, kernels, n_k in stitched:
        assert arrow_kernels(df) == kernels
        plan = _plan(spark, df)
        below = plan.split("FlatMapGroupsInArrow", 1)[1]
        assert [int(m) for m in STITCH_EXCHANGE.findall(below)] == [n_k], plan
        assert [int(m) for m in STITCH_EXCHANGE.findall(plan)] == [n_k], plan


def test_relayout_buckets_default_to_stitch_partitions(spark):
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64)

    grid = relayout_to_table(spark, fp, blocks, "work_sized", cfg)
    n = stitch_partitions(spark, grid, 64)
    assert _num_buckets(spark, "work_sized") == n
    res = stitch_from_relayout(spark, "work_sized", cfg)
    region = _plan(spark, res.stitched).split("FlatMapGroupsInArrow")[1]
    assert "Exchange" not in region[:region.find("FileScan")], "stitch input was shuffled"

    # the incremental path's empty table takes the same default; explicit
    # counts (argument, then config) are still honoured
    ensure_relayout_table(spark, fresh_table(spark, "inc_sized"), grid, blocks, cfg)
    assert _num_buckets(spark, "inc_sized") == n
    ensure_relayout_table(spark, fresh_table(spark, "inc_arg"), grid, blocks, cfg, n_buckets=3)
    assert _num_buckets(spark, "inc_arg") == 3
    cfg5 = MosaicConfig(blocksize=64, src_blocksize=256, relayout_buckets=5)
    ensure_relayout_table(spark, fresh_table(spark, "inc_cfg"), grid, blocks, cfg5)
    assert _num_buckets(spark, "inc_cfg") == 5
