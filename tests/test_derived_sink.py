"""write_derived's sink cuts its ranges on the driver (plans.grid), so a
derived product is computed once: a sampling job (repartitionByRange)
ran the whole focal kernel a second time before the shuffle. Each
product's part files, read in part order, hold strictly increasing
keys, and its rows equal the product computed directly."""

import pyarrow.parquet as pq
import pytest

from moamosaic_spark.functions import focal
from moamosaic_spark.functions.hydro import d8_edges, flow_basins
from moamosaic_spark.mosaic import MosaicConfig, do_mosaic, write_derived
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints

KEYS = {"hillshade": ("band", "tile_row", "tile_col"),
        "terrain": ("band", "tile_row", "tile_col"),
        "basins": ("band", "gid")}


@pytest.fixture(scope="module")
def mosaic(spark):
    rasters = synth.grid3x3(100, 100)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    return do_mosaic(spark, fp, blocks, MosaicConfig(
        blocksize=64, src_blocksize=256, with_overviews=False))


def _rows(df, key) -> list:
    return sorted((tuple(r) for r in df.collect()), key=lambda t: t[:len(key)])


def _part_keys(path, key) -> list:
    files = sorted(path.glob("part-*"), key=lambda p: int(p.name.split("-")[1]))
    return [tuple(r[k] for k in key) for f in files for r in pq.read_table(f).to_pylist()]


def test_hillshade_kernel_runs_once_per_tile(spark, tmp_path, monkeypatch, mosaic):
    """An accumulator on the focal compute reads one call per tile."""
    calls = spark.sparkContext.accumulator(0)
    real = focal._focal_arrow_map

    def counted(frags, out_schema, nullval, radius, compute):
        def tap(ys, xs, padded):
            calls.add(1)
            return compute(ys, xs, padded)

        return real(frags, out_schema, nullval, radius, tap)

    monkeypatch.setattr(focal, "_focal_arrow_map", counted)
    n = write_derived(mosaic, str(tmp_path), ["hillshade"])["hillshade"]
    assert n == mosaic.tiles.count()
    assert calls.value == n


def test_derived_products_ordered_and_equal_direct(spark, tmp_path, mosaic):
    g = mosaic.grid
    counts = write_derived(mosaic, str(tmp_path), ["hillshade", "terrain", "basins"])
    tiles = mosaic.tiles.select("band", "tile_row", "tile_col", "ysize", "xsize", "pixels")
    terr = focal.terrain(tiles, xres=g.x_res, yres=g.y_res, nullval=int(g.nullval))
    direct = {
        "hillshade": focal.hillshade(tiles, xres=g.x_res, yres=g.y_res,
                                     nullval=int(g.nullval)),
        "terrain": terr,
        "basins": flow_basins(d8_edges(terr, g_ncols=int(g.ncols), blocksize=64))
        .where("is_cell").select("band", "gid", "basin", "dist"),
    }
    for name, key in KEYS.items():
        path = tmp_path / name
        written = spark.read.parquet(str(path))
        assert "_rid" not in written.columns
        assert counts[name] == written.count()
        keys = _part_keys(path, key)
        assert keys and all(a < b for a, b in zip(keys, keys[1:])), name
        want = direct[name]
        assert _rows(written.select(*want.columns), key) == _rows(want, key), name
