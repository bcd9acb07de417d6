"""The blocks integrity prepass (``MosaicConfig.check_blocks`` /
``validate_blocks``): the one guard against a footprint whose pixel rows
are absent from the blocks table. Without it the direct path inner-joins
the footprint's chunks away and writes its tiles as if it never existed."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic, validate_blocks
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints

CFG = dict(blocksize=64, src_blocksize=64, with_overviews=False)


@pytest.fixture(scope="module")
def corpus(spark):
    rasters = synth.golden_pair(96, 96, n_bands=2)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    return rasters, fp, blocks


def test_check_blocks_names_missing_source(spark, corpus):
    _, fp, blocks = corpus
    partial = blocks.where(F.col("media_ref") != "r001")
    with pytest.raises(ValueError, match="missing pixel data") as exc:
        do_mosaic(spark, fp, partial, MosaicConfig(**CFG, check_blocks=True))
    msg = str(exc.value)
    assert "r001/b1" in msg and "r001/b2" in msg
    assert "r000" not in msg


def test_check_blocks_names_missing_band(spark, corpus):
    _, fp, blocks = corpus
    partial = blocks.where(~((F.col("media_ref") == "r000") & (F.col("band") == 2)))
    with pytest.raises(ValueError, match="r000/b2") as exc:
        validate_blocks(fp, partial)
    assert "b1" not in str(exc.value)


def test_check_blocks_passes_complete_corpus(spark, corpus):
    rasters, fp, blocks = corpus
    assert validate_blocks(fp, blocks) is None
    res = do_mosaic(spark, fp, blocks, MosaicConfig(**CFG, check_blocks=True))
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
        for r in res.tiles.collect()
    }
    assert set(got) == set(want.tiles)
    for k, a in got.items():
        np.testing.assert_array_equal(a, want.tiles[k])
