"""Tile-aligned relayout: pixel-identical to the direct pipeline, and
the stitch plan off the bucketed table contains NO Exchange."""

import numpy as np
import pytest

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


def test_unmarked_relayout_table_rejected_and_rebuilt(spark):
    """A relayout table whose meta lacks the placeholder mark (built
    before every (band, tile) carried a placeholder row) is never
    stitched: it would drop the tiles no input covers. stitch_from_relayout
    raises a ValueError naming it; do_mosaic's routing rebuilds it, and
    the gap tiles come back."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from moamosaic_spark.sources.relayout import _load_meta, _write_bucketed

    rasters = synth.with_gap(200, 200)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    relayout_to_table(spark, fp, blocks, "work_unmarked", cfg, n_buckets=4)
    m = _load_meta(spark, "work_unmarked")
    del m["placeholders"]
    spark.createDataFrame([(json.dumps(m),)], "meta string").write.mode(
        "overwrite").saveAsTable("work_unmarked_meta")
    old = spark.table("work_unmarked").where(F.col("pixels").isNotNull())
    _write_bucketed(old.localCheckpoint(eager=True), "work_unmarked", 4, "overwrite")

    with pytest.raises(ValueError, match="work_unmarked"):
        stitch_from_relayout(spark, "work_unmarked", cfg)

    res = do_mosaic(spark, fp, blocks, MosaicConfig(
        blocksize=64, src_blocksize=256, with_overviews=False,
        relayout_table="work_unmarked"))
    assert _load_meta(spark, "work_unmarked")["placeholders"] is True
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = {(r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
           for r in res.tiles.collect()}
    assert set(got) == set(want.tiles)
    for k, a in got.items():
        np.testing.assert_array_equal(a, want.tiles[k], err_msg=str(k))
    for t in ("work_unmarked", "work_unmarked_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_hash_bucketed_relayout_table_rejected_and_rebuilt(spark, tmp_path):
    """A relayout table laid out by an older version — bucketed by the
    tile key (band, tile_row, tile_col), no ``_rid`` column, no
    ``range_buckets`` mark in its meta — is never stitched: its buckets
    are not tile ranges, so the sinks' parts would come out of order.
    stitch_from_relayout raises the "older version" error naming it;
    do_mosaic's routing rebuilds it with range buckets, and the output
    equals the oracle."""
    import json

    import pytest

    from moamosaic_spark.mosaic import write_mosaic
    from moamosaic_spark.sources.relayout import _load_meta
    from tests.conftest import fresh_table

    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    table = fresh_table(spark, "work_hashed")
    relayout_to_table(spark, fp, blocks, table, cfg, n_buckets=4)
    m = _load_meta(spark, table)
    del m["range_buckets"]
    old = spark.table(table).drop("_rid").localCheckpoint(eager=True)
    key = ["band", "tile_row", "tile_col"]
    (old.repartition(4, *key).write.mode("overwrite").bucketBy(4, *key)
     .sortBy(*key).saveAsTable(table))
    spark.createDataFrame([(json.dumps(m),)], "meta string").write.mode(
        "overwrite").saveAsTable(f"{table}_meta")

    with pytest.raises(ValueError, match="work_hashed.*older version"):
        stitch_from_relayout(spark, table, cfg)

    res = do_mosaic(spark, fp, blocks, MosaicConfig(
        blocksize=64, src_blocksize=256, with_overviews=False, relayout_table=table))
    assert _load_meta(spark, table)["range_buckets"] is True
    assert "_rid" in spark.table(table).columns
    write_mosaic(res, str(tmp_path))
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = {(r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
           for r in spark.read.parquet(str(tmp_path / "tiles")).collect()}
    assert set(got) == set(want.tiles)
    for k, a in got.items():
        np.testing.assert_array_equal(a, want.tiles[k], err_msg=str(k))
    fresh_table(spark, table)


def _stitched_rows(res) -> dict:
    """Every stitched row (tiles and fragments), bytes and stats."""
    return {
        (r.level, r.band, r.tile_row, r.tile_col): (
            r.y_off, r.x_off, r.ysize, r.xsize, bytes(r.pixels),
            r.px_count, r.px_sum, r.px_ssq, r.px_min, r.px_max,
        )
        for r in res.stitched.collect()
    }


@pytest.mark.parametrize("layout", ["side", "stacked"])
def test_relayout_gap_tiles_equal_direct_and_oracle(spark, layout):
    """Tiles no input covers go through the one stitch kernel on both
    routes: the relayout route (do_mosaic with relayout_table, and
    stitch_from_relayout restricted to gap tiles only) gives the direct
    path's rows byte for byte — tiles, overview fragments and stats
    partials — and both equal the numpy oracle. 'side' is
    synth.with_gap; 'stacked' moves its second raster below the first,
    so whole tile rows hold only gap tiles (a tile_row_range)."""
    from tests.test_mosaic_e2e import (
        check_overviews_equal, check_stats_equal, check_tiles_equal,
    )

    rasters = synth.with_gap(200, 200)
    if layout == "stacked":
        rasters[1].x0 = rasters[0].x0
        rasters[1].y0 = rasters[0].y0 - 3 * rasters[0].nrows * rasters[0].y_res
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, min_overview_size=32)
    table = f"work_gap_{layout}"
    want = synth.oracle(rasters, blocksize=64, min_overview_size=32)
    assert want.overviews, "the corpus must have a pyramid level"

    direct = do_mosaic(spark, fp, blocks, MosaicConfig(**base))
    routed = do_mosaic(spark, fp, blocks, MosaicConfig(**base, relayout_table=table))
    for res in (direct, routed):
        check_tiles_equal(want, res)
        check_stats_equal(want, res)
        check_overviews_equal(want, res)
    full = _stitched_rows(direct)
    assert _stitched_rows(routed) == full

    covered = {(ti, tj) for (ti, tj, _ref) in want.assignments}
    gap = {(ti, tj) for (ti, tj, *_geo) in want.tile_index} - covered
    assert gap
    if layout == "side":
        keys = spark.createDataFrame(sorted(gap), "tile_row int, tile_col int")
        part = stitch_from_relayout(spark, table, MosaicConfig(**base), tile_keys=keys)
        keep = gap
    else:
        rows = sorted({ti for (ti, _tj) in gap if not any(t == ti for (t, _) in covered)})
        lo, hi = rows[0], rows[-1] + 1
        assert rows == list(range(lo, hi)) and hi - lo >= 2
        part = stitch_from_relayout(spark, table, MosaicConfig(**base),
                                    tile_row_range=(lo, hi))
        keep = {(ti, tj) for (ti, tj) in gap if lo <= ti < hi}
    got = _stitched_rows(part)
    assert got == {k: v for k, v in full.items() if (k[2], k[3]) in keep}
    assert {(k[2], k[3]) for k in got} == keep
    assert all(v[5] == 0 and v[8] is None for v in got.values())
    assert part.assignments.count() == 0
    for t in (table, f"{table}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
