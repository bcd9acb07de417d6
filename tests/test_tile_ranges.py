"""One exchange per mosaic: the stitch's partitions are contiguous tile
ranges in row-major (band, tile_row, tile_col) order (plans.grid.range_id),
so the sinks write them with no second exchange and part file i holds
tile range i (S6/O2)."""

import random
import re
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic, write_mosaic
from moamosaic_spark.plans.grid import (
    OutputGrid, make_tile_relation, n_blocks, range_id, spark_hash_int,
)
from moamosaic_spark.sources import synth
from moamosaic_spark.sources.relayout import _write_bucketed
from tests.conftest import fresh_table, to_blocks, to_footprints

SHUFFLE = re.compile(r"(?<!Broadcast)Exchange ")
KEY = ["band", "tile_row", "tile_col"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spark_hash_int_equals_spark_hash(spark):
    edges = [0, 1, -1, 2, -2, 42, 2**31 - 1, 2**31 - 2, -(2**31), -(2**31) + 1]
    rng = random.Random(7)
    vals = edges + [rng.randint(-(2**31), 2**31 - 1) for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r.v: r.h for r in df.select("v", F.hash("v").alias("h")).collect()}
    assert got == {v: spark_hash_int(v) for v in vals}


def _grid(nrows: int, ncols: int, n_bands: int) -> OutputGrid:
    return OutputGrid(
        x_min=0.0, y_max=0.0, x_res=1.0, y_res=1.0, ncols=ncols, nrows=nrows,
        n_bands=n_bands, nullval=0.0, dtype="uint16", projection="p",
    )


def _expected(grid, bs, n, tile_row_range=None) -> dict:
    """(band, tile_row, tile_col) -> range index: the covered tiles in
    row-major order, cut into n contiguous ranges of near-equal size."""
    nb_r, nb_c = n_blocks(grid.nrows, bs), n_blocks(grid.ncols, bs)
    lo, hi = tile_row_range or (0, nb_r)
    keys = [(b, r, c) for b in range(1, grid.n_bands + 1)
            for r in range(lo, hi) for c in range(nb_c)]
    want = {k: i * n // len(keys) for i, k in enumerate(keys)}
    sizes = [list(want.values()).count(i) for i in range(n)]
    if n <= len(keys):
        assert max(sizes) - min(sizes) <= 1, sizes
    return want


@pytest.mark.parametrize("n", [1, 3, 4, 7, 128])
def test_range_ids_land_in_their_partition(spark, n):
    """Every (band, tile) lands in partition/bucket == its range index:
    through the direct Exchange (whole grid and a tile-row range) and
    through a bucketed scan (whole grid, and a tile-row range filtered
    in the scan), on 2 bands."""
    bs, grid = 64, _grid(5 * 64, 6 * 64, n_bands=2)
    tiles = make_tile_relation(spark, grid, bs).selectExpr(
        "*", f"explode(sequence(1, {grid.n_bands})) AS band"
    )

    def placed(df) -> dict:
        rows = df.select(*KEY, F.spark_partition_id().alias("p")).collect()
        return {(r.band, r.tile_row, r.tile_col): r.p for r in rows}

    for trr in (None, (1, 4)):
        rows = tiles if trr is None else tiles.where(
            f"tile_row >= {trr[0]} AND tile_row < {trr[1]}")
        direct = rows.selectExpr(*KEY, range_id(grid, bs, n, trr)).repartition(n, "_rid")
        assert placed(direct) == _expected(grid, bs, n, trr), trr

    table = fresh_table(spark, f"ranges_{n}")
    _write_bucketed(tiles.selectExpr(*KEY, range_id(grid, bs, n)), table, n, "overwrite")
    whole = _expected(grid, bs, n)
    for trr in (None, (1, 4)):
        src = spark.table(table)
        if trr is not None:
            src = src.where(f"tile_row >= {trr[0]} AND tile_row < {trr[1]}")
        # an operator clustered on the bucket key keeps the scan bucketed
        scan = (src.select("_rid", *KEY, F.spark_partition_id().alias("p"))
                .groupBy("_rid", *KEY).agg(F.min("p").alias("p")))
        assert not SHUFFLE.search(_plan(scan)), _plan(scan)
        got = {(r.band, r.tile_row, r.tile_col): r.p for r in scan.collect()}
        assert got == {k: p for k, p in whole.items()
                       if trr is None or trr[0] <= k[1] < trr[1]}, trr
    fresh_table(spark, table)


@pytest.fixture(scope="module")
def golden(spark):
    rasters = synth.golden_pair(512, 512)
    fp = to_footprints(spark, synth.footprints_pdf(rasters)).cache()
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256)).cache()
    yield fp, blocks
    fp.unpersist(), blocks.unpersist()


def _config(route: str) -> MosaicConfig:
    table = "golden_ranges" if route == "relayout" else None
    return MosaicConfig(blocksize=128, min_overview_size=64, relayout_table=table)


def _parts(path: Path) -> list:
    """The part files of one sink in part order, as lists of rows."""
    files = sorted(path.glob("part-*"), key=lambda p: int(p.name.split("-")[1]))
    return [pq.read_table(f).to_pylist() for f in files]


@pytest.mark.parametrize("route", ["direct", "relayout"])
def test_sink_parts_are_in_tile_order(spark, golden, tmp_path, route):
    """Read in part order, the tiles sink's keys are strictly increasing;
    each overview file holds every level of one tile range, sorted by
    (level, band, tile_row, tile_col), and the ranges of the files are
    disjoint and increasing."""
    if route == "relayout":
        fresh_table(spark, "golden_ranges")
        do_mosaic(spark, *golden, _config(route))  # builds the table
    write_mosaic(do_mosaic(spark, *golden, _config(route)), str(tmp_path))

    tiles = _parts(tmp_path / "tiles")
    assert len(tiles) > 1
    keys = [tuple(r[k] for k in KEY) for part in tiles for r in part]
    assert len(keys) == 32 and all(a < b for a, b in zip(keys, keys[1:])), keys

    overviews = _parts(tmp_path / "overviews")
    assert len(overviews) > 1
    prev_max = None
    for part in overviews:
        rows = [(r["level"], *(r[k] for k in KEY)) for r in part]
        assert rows == sorted(rows) and {r[0] for r in rows} == {4, 8}
        tile_keys = [r[1:] for r in rows]
        assert prev_max is None or prev_max < min(tile_keys)
        prev_max = max(tile_keys)
    if route == "relayout":
        fresh_table(spark, "golden_ranges")


@pytest.mark.parametrize("route", ["direct", "relayout"])
def test_no_exchange_after_the_stitch(spark, golden, route):
    """The stitched plan has exactly one shuffle Exchange (on ``_rid``)
    on the direct route and none off the relayout table; the tiles,
    overviews and stats sinks add none above the stitch kernel."""
    if route == "relayout":
        fresh_table(spark, "golden_ranges")
        do_mosaic(spark, *golden, _config(route))
    res = do_mosaic(spark, *golden, _config(route))
    stitch = SHUFFLE.findall(_plan(res.stitched))
    if route == "direct":
        assert len(stitch) == 1 and "Exchange hashpartitioning(_rid#" in _plan(res.stitched)
    else:
        assert stitch == []
    sinks = (
        res.tiles.sortWithinPartitions(*KEY),
        res.overviews.sortWithinPartitions("level", *KEY),
        res.stats,
    )
    for df in sinks:
        above = _plan(df).split("FlatMapGroupsInArrow")[0]
        assert not SHUFFLE.search(above), _plan(df)
    if route == "relayout":
        fresh_table(spark, "golden_ranges")


@pytest.mark.parametrize("route,budget", [("direct", 11), ("relayout", 9)])
def test_warm_mosaic_job_budget(spark, tmp_path, spark_jobs, route, budget):
    """A warm do_mosaic + write_mosaic on grid3x3(300, 300), blocksize
    64, with overviews, runs at most 11 Spark jobs direct and 9 off a
    relayout table (16 and 14 when the sinks range-sampled and
    re-exchanged the stitched rows and the stats took an exchange)."""
    rasters = synth.grid3x3(300, 300)
    fp = to_footprints(spark, synth.footprints_pdf(rasters)).cache()
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256)).cache()
    table = fresh_table(spark, "jobs_budget") if route == "relayout" else None
    cfg = MosaicConfig(blocksize=64, min_overview_size=32, relayout_table=table)
    try:
        write_mosaic(do_mosaic(spark, fp, blocks, cfg), str(tmp_path / "cold"))
        with spark_jobs() as n:
            write_mosaic(do_mosaic(spark, fp, blocks, cfg), str(tmp_path / "warm"))
    finally:
        fp.unpersist(), blocks.unpersist()
        if table:
            fresh_table(spark, table)
    assert 0 < n[0] <= budget, n[0]
