"""The one pixel format (pixels.py / SURVEY §7.4): packed uint16-LE
payloads end to end — mosaic, overviews, gap tiles, salted stitch,
relayout — with ``array<int>`` accepted only at the ingest adaptor
(pixels.ingest), which must give byte-identical results."""

import dataclasses
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic, _contributor_chunks
from moamosaic_spark.pixels import (
    PIXEL_BYTES, decode, ingest, pack_u2, pixel_count, unpack_u2,
)
from moamosaic_spark.schema import BLOCKS_SCHEMA, FOOTPRINTS_SCHEMA
from moamosaic_spark.sources import synth
from tests.conftest import fresh_table


def _as_array_input(df):
    """The same relation with ``pixels`` as array<int> (decoded by
    pixels.decode) — the input the ingest adaptor packs."""
    schema = T.StructType([
        T.StructField(f.name, T.ArrayType(T.IntegerType()) if f.name == "pixels"
                      else f.dataType)
        for f in df.schema.fields
    ])
    pdf = df.toPandas()
    pdf["pixels"] = pdf["pixels"].map(lambda b: decode(b).astype(np.int32))
    return df.sparkSession.createDataFrame(pdf, schema=schema)


def _fp_blocks(spark, rasters, sbs=256, as_array=False):
    fp = spark.createDataFrame(synth.footprints_pdf(rasters), schema=FOOTPRINTS_SCHEMA)
    blocks = spark.createDataFrame(synth.blocks_pdf(rasters, sbs), schema=BLOCKS_SCHEMA)
    return fp, (_as_array_input(blocks) if as_array else blocks)


def _tiles_of(res):
    return {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
        for r in res.tiles.collect()
    }


def _payloads(df, key):
    return {tuple(r[k] for k in key): bytes(r.pixels) for r in df.collect()}


def test_pack_unpack_roundtrip(spark):
    vals = [0, 1, 255, 256, 4097, 65535]
    df = spark.createDataFrame([(vals,)], "parr array<int>")
    r = df.select(
        pack_u2(F.col("parr")).alias("b")
    ).select(unpack_u2(F.col("b")).alias("u"), "b").collect()[0]
    assert r.u == vals
    assert decode(r.b).tolist() == vals


def test_u2_mosaic_equals_i4_and_oracle(spark):
    """array<int> blocks (packed by the ingest adaptor) and binary
    blocks give byte-identical tiles and overviews, equal to the
    oracle."""
    rasters = synth.grid3x3(150, 150)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=64)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64)

    fp_a, bl_a = _fp_blocks(spark, rasters, as_array=True)
    fp_b, bl_b = _fp_blocks(spark, rasters)
    assert bl_a.schema["pixels"].dataType == T.ArrayType(T.IntegerType())
    res_a = do_mosaic(spark, fp_a, bl_a, cfg)
    res_b = do_mosaic(spark, fp_b, bl_b, cfg)
    key = ("level", "band", "tile_row", "tile_col")
    assert _payloads(res_a.stitched, key) == _payloads(res_b.stitched, key)

    t_b = _tiles_of(res_b)
    assert set(t_b) == set(want.tiles)
    for k in t_b:
        np.testing.assert_array_equal(t_b[k], want.tiles[k], err_msg=f"oracle {k}")

    # overview fragments also ride packed and assemble to the oracle
    by_lvl = {}
    for r in res_b.overviews.collect():
        arr = decode(r.pixels).reshape(r.ysize, r.xsize)
        c = by_lvl.setdefault(
            r.level, np.full(want.overviews[(1, r.level)].shape, -1, dtype=np.int64)
        )
        c[r.y_off:r.y_off + r.ysize, r.x_off:r.x_off + r.xsize] = arr
    assert by_lvl, "fixture should produce overview levels"
    for lvl, c in by_lvl.items():
        np.testing.assert_array_equal(c, want.overviews[(1, lvl)])


def test_u2_gap_and_salted(spark):
    # null-fill tiles synthesized JVM-side in the packed layout
    rasters = synth.with_gap(200, 200)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    fp, bl = _fp_blocks(spark, rasters)
    res = do_mosaic(
        spark, fp, bl, MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    )
    tiles = _tiles_of(res)
    assert set(tiles) == set(want.tiles)
    for k, a in tiles.items():
        np.testing.assert_array_equal(a, want.tiles[k])

    # the 12-deep stack's packed payloads, streamed into the stitch in
    # Arrow batches of two rows
    from tests.conftest import small_batches

    rasters = synth.hot_cell(12, 128, 128)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    fp, bl = _fp_blocks(spark, rasters)
    res = do_mosaic(
        spark, fp, bl, MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    )
    with small_batches(spark, 2):
        tiles = _tiles_of(res)
    assert set(tiles) == set(want.tiles)
    for k, a in tiles.items():
        np.testing.assert_array_equal(a, want.tiles[k])


def test_u2_halves_shuffle_payload_bytes(spark):
    """The work relation entering the stitch shuffle carries 2 bytes
    per pixel — half an int32 array — whichever layout came in."""
    from moamosaic_spark.plans.grid import make_output_grid, make_tile_relation
    from moamosaic_spark.plans.spatial_join import assign_inputs

    rasters = synth.grid3x3(150, 150)
    rows = {}
    for as_array in (False, True):
        fp, bl = _fp_blocks(spark, rasters, as_array=as_array)
        grid = make_output_grid(fp, None)
        tiles = make_tile_relation(spark, grid, 64)
        asg = assign_inputs(tiles, fp, grid, strategy="broadcast", blocksize=64)
        work = _contributor_chunks(asg, ingest(bl), 256)
        r = work.agg(
            F.sum(pixel_count(F.col("pixels"))).alias("n_px"),
            F.sum(F.col("b_ysize") * F.col("b_xsize")).alias("n_geom"),
            F.sum(F.length("pixels")).alias("n_bytes"),
        ).collect()[0]
        assert int(r.n_px) == int(r.n_geom) > 0, r
        assert int(r.n_bytes) == 2 * int(r.n_px) == PIXEL_BYTES * int(r.n_px), r
        rows[as_array] = (int(r.n_px), int(r.n_bytes))
    assert rows[False] == rows[True], rows


def test_u2_relayout_stitch(spark, tmp_path):
    """Bucketed relayout of a packed corpus: the stitch stays
    Exchange-free and pixel-identical to the oracle."""
    from moamosaic_spark.sources.relayout import relayout_to_table, stitch_from_relayout

    rasters = synth.grid3x3(150, 150)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    fp, bl = _fp_blocks(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    relayout_to_table(spark, fp, bl, "work_u2", cfg, n_buckets=8)

    res = stitch_from_relayout(spark, "work_u2", cfg)
    plan = res.stitched._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    flatmap_region = plan.split("FlatMapGroupsInArrow")[1]
    scan_pos = flatmap_region.find("FileScan")
    assert "Exchange" not in flatmap_region[:scan_pos], "stitch input was shuffled"
    tiles = _tiles_of(res)
    assert set(tiles) == set(want.tiles)
    for k, a in tiles.items():
        np.testing.assert_array_equal(a, want.tiles[k])


def test_u2_streaming_incremental_over_relayout(spark, tmp_path):
    """The full composition: readStream -> foreachBatch incremental
    mosaic, work rows accumulated in a bucketed relayout table, pixels
    packed u2 end-to-end — tiles pixel-identical to the numpy oracle."""
    from moamosaic_spark.schema import DOCUMENTS_SCHEMA
    from moamosaic_spark.streaming.incremental import incremental_mosaic_stream

    # start from no table: a table an earlier run left in the shared
    # warehouse would be re-attached instead of built
    fresh_table(spark, "work_u2_inc")
    rasters = synth.grid3x3(150, 150)
    docs, fp, blocks = synth.corpus_to_spark(spark, rasters)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)

    src = tmp_path / "docs_src"
    out = str(tmp_path / "inc_u2_rl")
    docs.coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = incremental_mosaic_stream(
        spark, stream, fp, blocks, out,
        dataclasses.replace(cfg, relayout_table="work_u2_inc"),
        checkpoint=str(tmp_path / "ck_u2_rl"),
    )
    q.awaitTermination(300)

    got = {}
    for r in spark.read.parquet(f"{out}/tiles").collect():
        got[(r.band, r.tile_row, r.tile_col)] = decode(r.pixels).reshape(r.ysize, r.xsize)
    covered = {(1, ti, tj) for (ti, tj, _ref) in want.assignments}
    assert set(got) == covered
    for k, a in got.items():
        np.testing.assert_array_equal(a, want.tiles[k].astype("<u2"), err_msg=str(k))


def test_u2_no_per_pixel_decode_below_stitch(spark):
    """Fence for the zero-copy hot path: the stitch input side must
    never contain a per-PIXEL decode (unpack_u2's interpreted
    hex->conv per element is quadratic on big blobs — it belongs only
    at correctness-query boundaries ABOVE the kernel). The per-ROW
    substr clip is linear and allowed; the distinctive per-pixel
    marker is conv(.., 16, 10)."""
    rasters = synth.grid3x3(100, 100)
    fp, bl = _fp_blocks(spark, rasters)
    res = do_mosaic(spark, fp, bl, MosaicConfig(blocksize=64, src_blocksize=256,
                                                with_overviews=False))
    plan = res.tiles._jdf.queryExecution().executedPlan().toString()
    stitch = plan.find("FlatMapGroupsIn")
    assert stitch >= 0, plan[:500]
    below = plan[stitch:]
    assert "conv(" not in below, below
    # and the decode trap is absent from the WHOLE tiles plan (packed
    # output stays packed)
    assert "conv(" not in plan


def test_pixel_format_lives_in_one_module():
    """Fence for the one-format design: the payload's numpy dtype, the
    layout test and the per-layout schema twins must not reappear
    outside pixels.py — every other module goes through its names
    (PIXEL_TYPE, PIXEL_BYTES, decode/encode, ingest). Nor may a kernel
    read a payload as an integer array (``np.asarray(row.pixels, ...)``
    is the array<int> layout; a packed payload goes through decode).
    driver_contract.py needs no exemption: its SQL strings never spell
    the dtype."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "moamosaic_spark"
    banned = re.compile(r"<u2|pixels_are_binary|\w+_SCHEMA_U2\b|asarray\(.*\.pixels\b")
    hits = [
        f"{path.relative_to(pkg)}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "pixels.py" or path.parent != pkg
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "pixel format outside pixels.py:\n" + "\n".join(hits)


@pytest.mark.parametrize("bad", [70000, -1])
def test_array_input_out_of_range_raises(spark, bad):
    """The ingest adaptor packs array<int> with the range-guarded
    pack_u2: a value outside uint16 fails the job instead of wrapping,
    at every entry that takes pixels."""
    from moamosaic_spark.functions.focal import focal_stats
    from moamosaic_spark.functions.geometry import label_regions
    from moamosaic_spark.functions.outlines import region_outlines
    from moamosaic_spark.plans.grid import OutputGrid
    from moamosaic_spark.reproject import resample_blocks

    rasters = synth.golden_pair(64, 64)
    fp, bl = _fp_blocks(spark, rasters, sbs=32, as_array=True)
    hit = (F.col("media_ref") == "r000") & (F.col("b_row") == 0) & (F.col("b_col") == 0)
    bl = bl.withColumn(
        "pixels",
        F.when(hit, F.array_insert(F.slice("pixels", 2, 32 * 32 - 1), 1, F.lit(bad)))
        .otherwise(F.col("pixels")),
    )
    cfg = MosaicConfig(blocksize=32, src_blocksize=32, with_overviews=False)
    with pytest.raises(Exception, match="outside uint16"):
        do_mosaic(spark, fp, bl, cfg).tiles.collect()
    with pytest.raises(Exception, match="outside uint16"):
        resample_blocks(fp, bl, 2.0, 2.0, src_blocksize=32)[1].collect()
    tiles = bl.where(F.col("media_ref") == "r000").select(
        "band", F.col("b_row").alias("tile_row"), F.col("b_col").alias("tile_col"),
        F.col("b_ysize").alias("ysize"), F.col("b_xsize").alias("xsize"), "pixels",
    )
    with pytest.raises(Exception, match="outside uint16"):
        focal_stats(tiles).collect()
    grid = OutputGrid(x_min=0.0, y_max=64.0, x_res=1.0, y_res=1.0,
                      ncols=64, nrows=64, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    for region_fn in (label_regions, region_outlines):
        with pytest.raises(Exception, match="outside uint16"):
            region_fn(tiles, grid, 32).collect()


def test_region_family_reads_packed_tiles(spark):
    """label_regions and region_outlines over the mosaic's own packed
    tiles equal the same calls on their array<int> twin (packed on
    entry by the ingest adaptor)."""
    from moamosaic_spark.functions.geometry import label_regions
    from moamosaic_spark.functions.outlines import region_outlines

    rasters = synth.golden_pair(64, 64)
    fp, bl = _fp_blocks(spark, rasters, sbs=32)
    res = do_mosaic(spark, fp, bl, MosaicConfig(blocksize=32, src_blocksize=32,
                                                with_overviews=False))
    packed = res.tiles
    assert packed.schema["pixels"].dataType == T.BinaryType()
    twin = packed.withColumn("pixels", unpack_u2(F.col("pixels")))
    for region_fn in (label_regions, region_outlines):
        got = sorted(tuple(r) for r in region_fn(packed, res.grid, 32).collect())
        want = sorted(tuple(r) for r in region_fn(twin, res.grid, 32).collect())
        assert got and got == want, region_fn.__name__


@pytest.mark.parametrize("route", ["direct", "relayout"])
def test_nullval_must_be_a_uint16_pixel(spark, route):
    """One nodata contract on both routes: an effective nullval (the
    config override here) outside the integers [0, 65535] raises
    ValueError naming it, before any plan is built; 65535 runs."""
    rasters = synth.golden_pair(64, 64)
    fp, bl = _fp_blocks(spark, rasters, sbs=32)
    table = "nullval_contract_rl" if route == "relayout" else None
    for bad in (-1, 65536, 2.5):
        cfg = MosaicConfig(blocksize=32, src_blocksize=32, with_overviews=False,
                           nullval=bad, relayout_table=table)
        with pytest.raises(ValueError, match=re.escape(repr(bad))):
            do_mosaic(spark, fp, bl, cfg)
    cfg = MosaicConfig(blocksize=32, src_blocksize=32, with_overviews=False,
                       nullval=65535, relayout_table=table)
    res = do_mosaic(spark, fp, bl, cfg)
    assert res.grid.nullval == 65535
    want = synth.oracle(rasters, blocksize=32, min_overview_size=9999, nullval=65535)
    tiles = _tiles_of(res)
    assert set(tiles) == set(want.tiles)
    for k, a in tiles.items():
        np.testing.assert_array_equal(a, want.tiles[k], err_msg=str(k))
