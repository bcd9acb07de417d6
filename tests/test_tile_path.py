"""One tile path: every output (band, tile) is a group of the one stitch
kernel — gap tiles included — so the stitched plan holds one
FlatMapGroupsInArrow and no gap anti-join or union above it, and a
warm, lazy do_mosaic stays inside a py4j-call budget and runs one
driver action (two on the relayout route)."""

import re

import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.sources import synth
from tests.conftest import fresh_table, to_blocks, to_footprints

# py4j calls of one warm, lazy do_mosaic on grid3x3(900, 900),
# blocksize 256, min_overview_size 128 (3 pyramid levels), releases of
# freed proxies not counted. With every plan node built as a Column
# (one py4j round trip per node) they were 3,810 on the direct route and
# 1,498 on the relayout route; the plans are SQL strings now, parsed
# once per relation by the JVM. Lower them when the plan gets cheaper
# to build.
PY4J_BUDGET = {"direct": 762, "relayout": 300}
# driver actions of the same call: the one footprint probe, plus the
# one read of the relayout table's meta on that route
SQL_EXECUTIONS = {"direct": 1, "relayout": 2}


@pytest.fixture(scope="module")
def grid3x3(spark):
    rasters = synth.grid3x3(900, 900)
    fp = to_footprints(spark, synth.footprints_pdf(rasters)).cache()
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256)).cache()
    fp.count(), blocks.count()
    yield fp, blocks
    fp.unpersist(), blocks.unpersist()


def _warm_counts(spark, fp, blocks, route, py4j_calls, sql_executions):
    """py4j calls and SQL executions of one warm, lazy do_mosaic."""
    table = fresh_table(spark, "work_py4j") if route == "relayout" else None
    cfg = MosaicConfig(blocksize=256, min_overview_size=128, relayout_table=table)
    do_mosaic(spark, fp, blocks, cfg)  # warm (and builds the relayout table)
    with sql_executions() as actions, py4j_calls() as calls:
        res = do_mosaic(spark, fp, blocks, cfg)
    assert len(res.levels) == 3
    if table:
        fresh_table(spark, table)
    return calls[0], actions[0]


def test_warm_do_mosaic_py4j_budget(spark, grid3x3, py4j_calls, sql_executions):
    calls, actions = _warm_counts(spark, *grid3x3, "direct", py4j_calls, sql_executions)
    assert 0 < calls <= PY4J_BUDGET["direct"], calls
    assert actions == SQL_EXECUTIONS["direct"], actions


def test_warm_relayout_do_mosaic_py4j_budget(spark, grid3x3, py4j_calls, sql_executions):
    calls, actions = _warm_counts(spark, *grid3x3, "relayout", py4j_calls, sql_executions)
    assert 0 < calls <= PY4J_BUDGET["relayout"], calls
    assert actions == SQL_EXECUTIONS["relayout"], actions


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
        fresh_table(spark, "work_plan")
    else:
        stitch_exchange = re.findall(
            r"Exchange hashpartitioning\(_rid#\d+", plan
        )
        assert len(stitch_exchange) == 1, plan
