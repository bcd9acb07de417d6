"""Tile-aligned relayout: pixel-identical to the direct pipeline, and
the stitch plan off the bucketed table contains NO Exchange."""

import numpy as np

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from moamosaic_spark.sources.relayout import relayout_to_table, stitch_from_relayout
from tests.conftest import to_blocks, to_footprints


def test_relayout_equals_direct_and_no_exchange(spark, tmp_path):
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64)

    relayout_to_table(spark, fp, blocks, "work_t", cfg, n_buckets=8)
    res = stitch_from_relayout(spark, "work_t", cfg)

    # no shuffle into the stitch
    plan = res.stitched._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    flatmap_region = plan.split("FlatMapGroupsInArrow")[1]
    scan_pos = flatmap_region.find("FileScan")
    assert "Exchange" not in flatmap_region[:scan_pos], "stitch input was shuffled"

    direct = do_mosaic(spark, fp, blocks, cfg)
    a = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in res.tiles.collect()
    }
    b = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in direct.tiles.collect()
    }
    assert set(a) == set(b)
    for k in a:
        np.testing.assert_array_equal(a[k], b[k])

    # stats identical too
    sa = {r.band: (r.minval, r.maxval, round(r.meanval, 9), r["count"]) for r in res.stats.collect()}
    sb = {r.band: (r.minval, r.maxval, round(r.meanval, 9), r["count"]) for r in direct.stats.collect()}
    assert sa == sb

    # a different merge policy re-stitches from the SAME layout
    res_nn = stitch_from_relayout(
        spark, "work_t",
        MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64,
                     merge_policy="nearest"),
    )
    direct_nn = do_mosaic(
        spark, fp, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64,
                     merge_policy="nearest"),
    )
    ann = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in res_nn.tiles.collect()
    }
    bnn = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in direct_nn.tiles.collect()
    }
    assert set(ann) == set(bnn)
    for k in ann:
        np.testing.assert_array_equal(ann[k], bnn[k])


def test_relayout_tile_range_pruned_scan(spark):
    """Batch stitch off the relayout: the tile predicate reaches the
    bucketed SCAN (PushedFilters) with still no Exchange, and the
    row-range pieces reassemble the full mosaic exactly."""
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)

    relayout_to_table(spark, fp, blocks, "work_rng", cfg, n_buckets=8)
    full = stitch_from_relayout(spark, "work_rng", cfg)
    full_tiles = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in full.tiles.collect()
    }
    rows = sorted({tr for (_b, tr, _tc) in full_tiles})
    mid = rows[len(rows) // 2]

    part = stitch_from_relayout(spark, "work_rng", cfg, tile_row_range=(0, mid))
    plan = part.stitched._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    flatmap_region = plan.split("FlatMapGroupsInArrow")[1]
    scan_pos = flatmap_region.find("FileScan")
    assert "Exchange" not in flatmap_region[:scan_pos], "stitch input was shuffled"
    scan_line = flatmap_region[scan_pos: flatmap_region.find("\n", scan_pos)]
    assert "tile_row" in scan_line and "PushedFilters" in scan_line, scan_line

    got = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in part.tiles.collect()
    }
    rest = stitch_from_relayout(spark, "work_rng", cfg, tile_row_range=(mid, rows[-1] + 1))
    got.update({
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in rest.tiles.collect()
    })
    assert set(got) == set(full_tiles)
    for k in got:
        np.testing.assert_array_equal(got[k], full_tiles[k])


def test_relayout_stitch_blend_policy(spark):
    """A blend-policy stitch straight off the bucketed table (the
    config override path) must equal the direct blend mosaic
    bit-for-bit — and still run without an Exchange (same bucketed
    scan; only the kernel differs)."""
    rasters = synth.hot_cell(8, 128, 128)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy="blend", blend_feather=16)

    relayout_to_table(spark, fp, blocks, "work_t_blend", cfg, n_buckets=8)
    res = stitch_from_relayout(spark, "work_t_blend", cfg)
    plan = res.stitched._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    flatmap_region = plan.split("FlatMapGroupsInArrow")[1]
    scan_pos = flatmap_region.find("FileScan")
    assert "Exchange" not in flatmap_region[:scan_pos]

    direct = do_mosaic(spark, fp, blocks, cfg)
    a = {(r.band, r.tile_row, r.tile_col): list(r.pixels)
         for r in res.tiles.collect()}
    b = {(r.band, r.tile_row, r.tile_col): list(r.pixels)
         for r in direct.tiles.collect()}
    assert a == b and len(a) > 0
    spark.sql("DROP TABLE IF EXISTS work_t_blend")
    spark.sql("DROP TABLE IF EXISTS work_t_blend_meta")


def _no_stitch_exchange(res, spark) -> bool:
    plan = res.stitched._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    flatmap_region = plan.split("FlatMapGroupsInArrow")[1]
    scan_pos = flatmap_region.find("FileScan")
    return "Exchange" not in flatmap_region[:scan_pos]


def test_do_mosaic_auto_relayout(spark):
    """config.relayout_table routes do_mosaic through the bucketed
    layout automatically: first call builds the table, later calls
    stitch with no Exchange, a changed corpus rebuilds, and an
    explicit mismatching grid falls back to the direct path."""
    from moamosaic_spark.plans.grid import OutputGrid
    from moamosaic_spark.sources.relayout import _load_meta

    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64,
                       relayout_table="work_auto", relayout_buckets=8)

    baseline = do_mosaic(
        spark, fp, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64),
    )
    want = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in baseline.tiles.collect()
    }

    # 1st call builds the table and stitches off it
    r1 = do_mosaic(spark, fp, blocks, cfg)
    assert spark.catalog.tableExists("work_auto")
    assert _no_stitch_exchange(r1, spark)
    got1 = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in r1.tiles.collect()
    }
    assert set(got1) == set(want)
    for k in want:
        np.testing.assert_array_equal(got1[k], want[k])

    # 2nd call REUSES it (meta fingerprint unchanged -> no rebuild):
    # pin the data file set before/after to prove no rewrite happened
    files_before = set(
        spark.table("work_auto").inputFiles()
    )
    fpr_before = _load_meta(spark, "work_auto")["fingerprint"]
    r2 = do_mosaic(spark, fp, blocks, cfg)
    assert _no_stitch_exchange(r2, spark)
    assert set(spark.table("work_auto").inputFiles()) == files_before
    assert _load_meta(spark, "work_auto")["fingerprint"] == fpr_before
    assert r2.tiles.count() == len(want)

    # changed corpus (drop one raster) -> stale fingerprint -> rebuild
    fp2 = fp.where(fp.media_ref != fp.select("media_ref").head()[0])
    r3 = do_mosaic(spark, fp2, blocks, cfg)
    direct3 = do_mosaic(
        spark, fp2, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64),
    )
    a = {(r.band, r.tile_row, r.tile_col): decode(r.pixels)
         for r in r3.tiles.collect()}
    b = {(r.band, r.tile_row, r.tile_col): decode(r.pixels)
         for r in direct3.tiles.collect()}
    assert set(a) == set(b)
    for k in a:
        np.testing.assert_array_equal(a[k], b[k])
    assert _load_meta(spark, "work_auto")["fingerprint"] != fpr_before

    # explicit grid that mismatches the table: direct path, same rows
    m = _load_meta(spark, "work_auto")
    g = OutputGrid(
        x_min=m["x_min"] - 640.0, y_max=m["y_max"], x_res=m["x_res"],
        y_res=m["y_res"], ncols=m["ncols"] + 64, nrows=m["nrows"],
        n_bands=m["n_bands"], nullval=m["nullval"], dtype=m["dtype"],
        projection=m["projection"],
    )
    r4 = do_mosaic(spark, fp2, blocks, cfg, grid=g)
    r4_direct = do_mosaic(
        spark, fp2, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64),
        grid=g,
    )
    assert r4.tiles.count() == r4_direct.tiles.count()
    # and the mismatch did NOT clobber the stored table
    assert _load_meta(spark, "work_auto")["fingerprint"] == _load_meta(
        spark, "work_auto"
    )["fingerprint"]
    for t in ("work_auto", "work_auto_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _make_stale(spark, table, fp, blocks, cfg):
    """A relayout table as an older version left it: same meta and
    fingerprint, but ``pixels`` stored as array<int>."""
    from pyspark.sql import functions as F

    from moamosaic_spark.pixels import unpack_u2
    from moamosaic_spark.sources.relayout import _write_bucketed

    relayout_to_table(spark, fp, blocks, table, cfg, n_buckets=4)
    stale = spark.table(table).withColumn(
        "pixels", unpack_u2(F.col("pixels"))
    ).localCheckpoint(eager=True)
    _write_bucketed(stale, table, 4, "overwrite")
    assert spark.table(table).schema["pixels"].dataType.simpleString() == "array<int>"


def test_stale_array_relayout_table_rejected_and_rebuilt(spark):
    """A relayout table holding array<int> pixels is never stitched:
    stitch_from_relayout raises a ValueError naming it, and do_mosaic's
    routing (fingerprint and geometry still match) rebuilds it packed."""
    import pytest

    from moamosaic_spark.pixels import PIXEL_TYPE

    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    _make_stale(spark, "work_stale", fp, blocks, cfg)

    with pytest.raises(ValueError, match="work_stale"):
        stitch_from_relayout(spark, "work_stale", cfg)

    res = do_mosaic(spark, fp, blocks, MosaicConfig(
        blocksize=64, src_blocksize=256, with_overviews=False,
        relayout_table="work_stale"))
    assert spark.table("work_stale").schema["pixels"].dataType == PIXEL_TYPE
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = {(r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
           for r in res.tiles.collect()}
    assert set(got) == set(want.tiles)
    for k, a in got.items():
        np.testing.assert_array_equal(a, want.tiles[k], err_msg=str(k))
