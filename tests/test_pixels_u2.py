"""u2 binary pixel layout (pixels.py / SURVEY §7.4): packed uint16-LE
payloads must be pixel-identical to the array<int> layout everywhere —
mosaic, overviews, gap tiles, salted stitch, relayout — while halving
the bytes of the work relation that feeds the stitch shuffle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic, _contributor_chunks
from moamosaic_spark.pixels import pack_u2, pixel_count, unpack_u2
from moamosaic_spark.schema import BLOCKS_SCHEMA, BLOCKS_SCHEMA_U2, FOOTPRINTS_SCHEMA
from moamosaic_spark.sources import synth


def _fp_blocks(spark, rasters, layout, sbs=256):
    fp = spark.createDataFrame(synth.footprints_pdf(rasters), schema=FOOTPRINTS_SCHEMA)
    pdf = synth.blocks_pdf(rasters, sbs, layout=layout)
    if layout == "u2":
        blocks = spark.createDataFrame(pdf, schema=BLOCKS_SCHEMA_U2)
    else:
        pdf["pixels"] = pdf["pixels"].map(lambda a: np.asarray(a, dtype="int32"))
        blocks = spark.createDataFrame(pdf, schema=BLOCKS_SCHEMA)
    return fp, blocks


def _tiles_of(res, binary):
    out = {}
    for r in res.tiles.collect():
        arr = (
            np.frombuffer(bytes(r.pixels), "<u2")
            if binary
            else np.asarray(r.pixels, dtype=np.int64)
        )
        out[(r.band, r.tile_row, r.tile_col)] = arr.astype(np.int64).reshape(
            r.ysize, r.xsize
        )
    return out


def test_pack_unpack_roundtrip(spark):
    vals = [0, 1, 255, 256, 4097, 65535]
    df = spark.createDataFrame([(vals,)], "parr array<int>")
    r = df.select(
        pack_u2(F.col("parr")).alias("b")
    ).select(unpack_u2(F.col("b")).alias("u"), "b").collect()[0]
    assert r.u == vals
    assert np.frombuffer(bytes(r.b), "<u2").tolist() == vals


def test_u2_mosaic_equals_i4_and_oracle(spark):
    rasters = synth.grid3x3(150, 150)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=64)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64)

    fp_a, bl_a = _fp_blocks(spark, rasters, "i4")
    fp_b, bl_b = _fp_blocks(spark, rasters, "u2")
    t_a = _tiles_of(do_mosaic(spark, fp_a, bl_a, cfg), binary=False)
    res_b = do_mosaic(spark, fp_b, bl_b, cfg)
    t_b = _tiles_of(res_b, binary=True)

    assert set(t_a) == set(t_b) == set(want.tiles)
    for k in t_a:
        np.testing.assert_array_equal(t_a[k], t_b[k], err_msg=f"layouts differ {k}")
        np.testing.assert_array_equal(t_b[k], want.tiles[k], err_msg=f"oracle {k}")

    # overview fragments also ride packed and assemble to the oracle
    by_lvl = {}
    for r in res_b.overviews.collect():
        arr = np.frombuffer(bytes(r.pixels), "<u2").reshape(r.ysize, r.xsize)
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
    fp, bl = _fp_blocks(spark, rasters, "u2")
    res = do_mosaic(
        spark, fp, bl, MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    )
    tiles = _tiles_of(res, binary=True)
    assert set(tiles) == set(want.tiles)
    for k, a in tiles.items():
        np.testing.assert_array_equal(a, want.tiles[k])

    # two-stage salted merge over packed partials
    rasters = synth.hot_cell(12, 128, 128)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    fp, bl = _fp_blocks(spark, rasters, "u2")
    res = do_mosaic(
        spark, fp, bl,
        MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False, stitch_salt=3),
    )
    tiles = _tiles_of(res, binary=True)
    assert set(tiles) == set(want.tiles)
    for k, a in tiles.items():
        np.testing.assert_array_equal(a, want.tiles[k])


def test_u2_halves_shuffle_payload_bytes(spark):
    """The point of the layout: the work relation entering the stitch
    shuffle carries the same pixel COUNT but half the payload BYTES."""
    from moamosaic_spark.plans.grid import make_output_grid, make_tile_relation
    from moamosaic_spark.plans.spatial_join import assign_inputs

    rasters = synth.grid3x3(150, 150)
    rows = {}
    for layout in ("i4", "u2"):
        fp, bl = _fp_blocks(spark, rasters, layout)
        grid = make_output_grid(fp, None)
        tiles = make_tile_relation(spark, grid, 64)
        asg = assign_inputs(tiles, fp, grid, strategy="broadcast")
        work = _contributor_chunks(asg, bl, 256)
        binary = layout == "u2"
        r = work.agg(
            F.sum(pixel_count(F.col("pixels"), binary)).alias("n_px"),
            F.sum(
                F.length("pixels") if binary else F.size("pixels") * 4
            ).alias("n_bytes"),
        ).collect()[0]
        rows[layout] = (int(r.n_px), int(r.n_bytes))
    assert rows["i4"][0] == rows["u2"][0], "same pixels either layout"
    assert rows["u2"][1] * 2 == rows["i4"][1], rows


def test_u2_relayout_stitch(spark, tmp_path):
    """Bucketed relayout of a packed corpus: the stitch stays
    Exchange-free and pixel-identical to the oracle."""
    from moamosaic_spark.sources.relayout import relayout_to_table, stitch_from_relayout

    rasters = synth.grid3x3(150, 150)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    fp, bl = _fp_blocks(spark, rasters, "u2")
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    relayout_to_table(spark, fp, bl, "work_u2", cfg, n_buckets=8)

    res = stitch_from_relayout(spark, "work_u2", cfg)
    plan = res.stitched._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    flatmap_region = plan.split("FlatMapGroupsInArrow")[1]
    scan_pos = flatmap_region.find("FileScan")
    assert "Exchange" not in flatmap_region[:scan_pos], "stitch input was shuffled"
    tiles = _tiles_of(res, binary=True)
    assert set(tiles) == set(want.tiles)
    for k, a in tiles.items():
        np.testing.assert_array_equal(a, want.tiles[k])


def test_u2_streaming_incremental_over_relayout(spark, tmp_path):
    """The full composition: readStream -> foreachBatch incremental
    mosaic, work rows accumulated in a bucketed relayout table, pixels
    packed u2 end-to-end — tiles pixel-identical to the numpy oracle."""
    from moamosaic_spark.schema import DOCUMENTS_SCHEMA
    from moamosaic_spark.streaming.incremental import incremental_mosaic_stream

    rasters = synth.grid3x3(150, 150)
    docs, fp, blocks = synth.corpus_to_spark(spark, rasters, layout="u2")
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
        spark, stream, fp, blocks, out, cfg,
        checkpoint=str(tmp_path / "ck_u2_rl"),
        relayout_table="work_u2_inc",
    )
    q.awaitTermination(300)

    got = {}
    for r in spark.read.parquet(f"{out}/tiles").collect():
        got[(r.band, r.tile_row, r.tile_col)] = np.frombuffer(
            bytes(r.pixels), "<u2"
        ).reshape(r.ysize, r.xsize)
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
    fp, bl = _fp_blocks(spark, rasters, "u2")
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
