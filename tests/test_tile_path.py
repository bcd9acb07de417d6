"""One tile path: every output (band, tile) is a group of the one stitch
kernel — gap tiles included — so the stitched plan holds one
FlatMapGroupsInArrow and no gap anti-join or union above it, and a
warm, lazy do_mosaic stays inside a py4j-call budget."""

import re

import py4j.clientserver
import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints

# py4j calls of one warm, lazy do_mosaic on grid3x3(900, 900),
# blocksize 256, min_overview_size 128 (3 pyramid levels), releases of
# freed proxies not counted. It was 6,266 while tiles no input covers
# were synthesized column by column per pyramid level and joined in by
# an anti-join; lower it when the plan gets cheaper to build.
PY4J_BUDGET = 3_810


@pytest.fixture(scope="module")
def grid3x3(spark):
    rasters = synth.grid3x3(900, 900)
    fp = to_footprints(spark, synth.footprints_pdf(rasters)).cache()
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256)).cache()
    fp.count(), blocks.count()
    yield fp, blocks
    fp.unpersist(), blocks.unpersist()


def test_warm_do_mosaic_py4j_budget(spark, grid3x3, monkeypatch):
    fp, blocks = grid3x3
    cfg = MosaicConfig(blocksize=256, min_overview_size=128)
    do_mosaic(spark, fp, blocks, cfg)  # warm
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        # a release of a freed py4j proxy ("m" command) is sent whenever
        # Python's garbage collector runs, not where the plan is built
        if not command.startswith("m\n"):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    try:
        res = do_mosaic(spark, fp, blocks, cfg)
    finally:
        monkeypatch.undo()
    assert len(res.levels) == 3
    assert 0 < calls[0] <= PY4J_BUDGET, calls[0]


@pytest.mark.parametrize("route", ["direct", "relayout"])
def test_stitched_plan_one_kernel_no_gap_path(spark, route):
    """On a corpus with gap tiles: one FlatMapGroupsInArrow, no
    LeftAnti, nothing unioned above the kernel. The relayout route
    has no Union and no Exchange at all; the direct route's one
    Exchange is the stitch shuffle, with the placeholders unioned
    below it."""
    rasters = synth.with_gap(200, 200)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=32,
                       relayout_table="work_plan" if route == "relayout" else None)
    stitched = do_mosaic(spark, fp, blocks, cfg).stitched
    plan = stitched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    assert "LeftAnti" not in plan, plan
    above_kernel = plan.split("FlatMapGroupsInArrow")[0]
    assert "Union" not in above_kernel, plan
    if route == "relayout":
        assert "Union" not in plan and "Exchange" not in plan, plan
        for t in ("work_plan", "work_plan_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    else:
        stitch_exchange = re.findall(
            r"Exchange hashpartitioning\(band#\d+, tile_row#\d+, tile_col#\d+", plan
        )
        assert len(stitch_exchange) == 1, plan
