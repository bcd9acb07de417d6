"""CLI surface: the reference's ``moamosaic`` command re-targeted at
tables — plain mosaic, batched/resumable runs, same-CRS rescale and
cross-CRS warp, monitor JSON."""

import json

import numpy as np
import pytest

from moamosaic_spark.cli import main
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import fresh_table, to_blocks, to_footprints


@pytest.fixture()
def staged(spark, tmp_path):
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    fp.write.mode("overwrite").parquet(str(tmp_path / "fp"))
    blocks.write.mode("overwrite").parquet(str(tmp_path / "blocks"))
    return tmp_path


def _canvas(spark, out):
    tiles = spark.read.parquet(f"{out}/tiles").collect()
    assert tiles
    return tiles


def test_cli_plain_mosaic(spark, staged):
    out = str(staged / "out_plain")
    main([
        "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
        "-o", out, "-b", "64", "--src-blocksize", "64", "--no-overviews",
        "--monitorjson", str(staged / "mon.json"),
    ])
    tiles = _canvas(spark, out)
    assert spark.read.parquet(f"{out}/stats").count() == 1
    mon = json.loads((staged / "mon.json").read_text())
    assert "domosaic" in mon["total_by_name"]
    # matches the oracle
    rasters = synth.grid3x3(150, 150)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    for r in tiles:
        arr = decode(r.pixels).reshape(r.ysize, r.xsize)
        np.testing.assert_array_equal(arr, want.tiles[(r.band, r.tile_row, r.tile_col)])


def test_cli_batched_resume(spark, staged):
    out = str(staged / "out_batched")
    main([
        "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
        "-o", out, "-b", "64", "--src-blocksize", "64", "--no-overviews",
        "--batches", "3",
    ])
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.where("status = 'done'").count() == 3
    _canvas(spark, out)


def test_cli_rescale_and_warp(spark, staged):
    out1 = str(staged / "out_rescale")
    main([
        "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
        "-o", out1, "-b", "64", "--src-blocksize", "64", "--no-overviews",
        "--xres", "20", "--yres", "20", "--resample", "average",
    ])
    _canvas(spark, out1)
    out2 = str(staged / "out_warp")
    main([
        "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
        "-o", out2, "-b", "64", "--src-blocksize", "64", "--no-overviews",
        "--out-epsg", "32755",
    ])
    _canvas(spark, out2)


def test_cli_rejects_bad_args(staged):
    with pytest.raises(SystemExit):
        main(["--blocks", str(staged / "blocks"), "-o", "/tmp/x"])  # no inputs
    with pytest.raises(SystemExit):
        main([
            "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
            "-o", "/tmp/x", "--resample", "cubic",
        ])


def test_cli_relayout_reuse(spark, staged):
    """--relayout-table builds the bucketed work table on first use and
    stitches off it on the second run (the table's files are unchanged);
    both outputs equal the plain run. A rerun with the same table name
    on another corpus and another -b rebuilds the table, and its output
    equals that corpus's oracle."""
    table = "cli_relayout_t"
    opts = ["--src-blocksize", "64", "--no-overviews", "--relayout-table", table]
    base = [
        "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
        "-b", "64", *opts,
    ]
    outs = [str(staged / "out_rel1"), str(staged / "out_rel2")]
    files = []
    for out in outs:
        main(base + ["-o", out])
        files.append(sorted(spark.table(table).inputFiles()))
    assert files[0] == files[1]  # reused, not rebuilt
    rasters = synth.grid3x3(150, 150)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    for out in outs:
        for r in _canvas(spark, out):
            arr = decode(r.pixels).reshape(r.ysize, r.xsize)
            np.testing.assert_array_equal(
                arr, want.tiles[(r.band, r.tile_row, r.tile_col)])

    # a different corpus and tiling under the same table name: rebuilt
    other = synth.golden_pair(200, 200)
    to_footprints(spark, synth.footprints_pdf(other)).write.mode(
        "overwrite").parquet(str(staged / "fp_b"))
    to_blocks(spark, synth.blocks_pdf(other, 64)).write.mode(
        "overwrite").parquet(str(staged / "blocks_b"))
    out_b = str(staged / "out_rel_b")
    main([
        "--footprints", str(staged / "fp_b"), "--blocks", str(staged / "blocks_b"),
        "-b", "96", *opts, "-o", out_b,
    ])
    assert sorted(spark.table(table).inputFiles()) != files[0]
    want_b = synth.oracle(other, blocksize=96, min_overview_size=9999)
    got = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
        for r in _canvas(spark, out_b)
    }
    assert set(got) == set(want_b.tiles)
    for k, arr in got.items():
        np.testing.assert_array_equal(arr, want_b.tiles[k], err_msg=f"tile {k}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_meta")


def test_cli_relayout_batches(spark, staged):
    """--relayout-table with --batches: the first batched run builds the
    table, a second leaves its files unchanged, and both outputs equal
    the oracle. --rebuild-relayout re-materializes it on this route too."""
    table = fresh_table(spark, "cli_relayout_batches_t")
    base = [
        "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
        "-b", "64", "--src-blocksize", "64", "--no-overviews",
        "--relayout-table", table, "--batches", "3",
    ]
    outs = [str(staged / "out_rb1"), str(staged / "out_rb2")]
    files = []
    for out in outs:
        main(base + ["-o", out])
        files.append(sorted(spark.table(table).inputFiles()))
    assert files[0] == files[1]  # reused, not rebuilt
    want = synth.oracle(synth.grid3x3(150, 150), blocksize=64, min_overview_size=9999)
    for out in outs:
        got = {
            (r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
            for r in _canvas(spark, out)
        }
        assert set(got) == set(want.tiles)
        for k, arr in got.items():
            np.testing.assert_array_equal(arr, want.tiles[k], err_msg=f"tile {k}")
    main(base + ["--rebuild-relayout", "-o", str(staged / "out_rb3")])
    assert sorted(spark.table(table).inputFiles()) != files[0]
    fresh_table(spark, table)


def test_cli_derived_products(spark, staged):
    """--derived writes gdaldem-style products; hillshade must equal a
    direct hillshade over the written tiles, basins must partition the
    defined cells."""
    from moamosaic_spark.functions.focal import hillshade

    out = str(staged / "out_derived")
    main([
        "--footprints", str(staged / "fp"), "--blocks", str(staged / "blocks"),
        "-o", out, "-b", "64", "--src-blocksize", "64", "--no-overviews",
        "--derived", "hillshade", "--derived", "terrain",
        "--derived", "basins",
    ])
    tiles = spark.read.parquet(f"{out}/tiles").select(
        "band", "tile_row", "tile_col", "ysize", "xsize", "pixels")
    want = {
        (r.band, r.tile_row, r.tile_col): np.asarray(r.pixels, np.int64)
        for r in hillshade(tiles, xres=10.0, yres=10.0, nullval=0).collect()
    }
    got = {
        (r.band, r.tile_row, r.tile_col): np.asarray(r.pixels, np.int64)
        for r in spark.read.parquet(f"{out}/hillshade").collect()
    }
    assert set(got) == set(want)
    for k in want:
        np.testing.assert_array_equal(got[k], want[k])
    terr = spark.read.parquet(f"{out}/terrain")
    assert {"slope_q", "d8"} <= set(terr.columns) and terr.count() > 0
    basins = spark.read.parquet(f"{out}/basins")
    n_def = terr.selectExpr(
        "sum(size(filter(d8, x -> x != -1))) AS n").collect()[0].n
    assert basins.count() == n_def


def test_cli_derived_rejects_batches(staged):
    with pytest.raises(SystemExit):
        main([
            "--footprints", str(staged / "fp"),
            "--blocks", str(staged / "blocks"),
            "-o", str(staged / "x"), "-b", "64", "--batches", "2",
            "--derived", "hillshade",
        ])
