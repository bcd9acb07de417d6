"""Split two-stage stitch: a hot tile — its contributors' window bytes
over the stitch byte budget (spark.sql.adaptive.advisoryPartitionSizeInBytes)
— is merged in contiguous priority runs of at most the budget's bytes,
and the partials composed in run order must equal the unsplit fold
exactly (SURVEY.md §7.5 'ordered merge under salting'). Each test
forces the split by lowering the budget, never by a knob."""

import numpy as np
import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import advisory, arrow_kernels, to_blocks, to_footprints

# one full 64x64 contributor window of packed uint16: a budget of k of
# them splits a hot tile of 64x64 windows into runs of k contributors
WINDOW = 64 * 64 * 2
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def runs_budget(n_contributors: int, runs: int) -> int:
    """The budget that splits a tile of ``n_contributors`` 64x64 windows
    into ``runs`` runs."""
    return -(-n_contributors // runs) * WINDOW


def split_mosaic(spark, fp, blocks, cfg, budget):
    """do_mosaic under the byte ``budget``, asserting it split a tile."""
    with advisory(spark, budget):
        res = do_mosaic(spark, fp, blocks, cfg)
    assert arrow_kernels(res.stitched) == 2, "no hot tile was split"
    return res


def tiles_of_row(r):
    return decode(r.pixels).reshape(r.ysize, r.xsize)


def tiles_of(res):
    """{(band, tile_row, tile_col): array} of a result or a tile table."""
    tiles = getattr(res, "tiles", res)
    return {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(
            r.ysize, r.xsize
        )
        for r in tiles.collect()
    }


@pytest.mark.parametrize("runs", [2, 4, 7])
def test_salted_equals_unsalted_and_oracle(spark, runs):
    rasters = synth.hot_cell(20, 128, 128)  # 20 contributors per tile
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False)

    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    plain = tiles_of(do_mosaic(spark, fp, blocks, MosaicConfig(**base)))
    salted = tiles_of(
        split_mosaic(spark, fp, blocks, MosaicConfig(**base), runs_budget(20, runs))
    )
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")
        np.testing.assert_array_equal(plain[k], want.tiles[k])


def test_salted_stats_and_null_no_overwrite(spark):
    """Stats flow through the two-stage path, and null-no-overwrite
    semantics survive bucket boundaries (a null in a later bucket must
    not erase an earlier bucket's value)."""
    rasters = synth.golden_pair(128, 128)  # B's overlap col 0 is null
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    # one window per run: a run boundary BETWEEN the two rasters on the
    # overlap tile (A's full window plus B's two columns)
    res = split_mosaic(spark, fp, blocks, cfg, WINDOW)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = tiles_of(res)
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k])
    srow = res.stats.collect()[0]
    w_min, w_max, w_mean, w_std, w_count = want.stats[1]
    assert srow["count"] == w_count and srow.minval == w_min and srow.maxval == w_max


def test_salted_with_sparse_priorities(spark):
    """Priorities with gaps (10, 20, 30, ...) must still split into
    contiguous runs (row_number over the priority order, not raw
    values)."""
    rasters = synth.hot_cell(12, 96, 96)
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = pdf["priority"] * 10 + 7  # sparse, non-zero-based
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = tiles_of(split_mosaic(spark, fp, blocks, MosaicConfig(**base), 4 * WINDOW))
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k])


def test_duplicate_priority_raises_shape_guard(spark):
    """Two sources sharing a priority with different windows must raise
    (the reference's shape-mismatch guard, mosaic.py:586-593), not
    silently paste through the wrong geometry."""
    rasters = synth.golden_pair(96, 96)
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = 0  # both sources claim priority 0
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    res = do_mosaic(
        spark, fp, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False),
    )
    with pytest.raises(Exception, match="geometry mismatch|PYTHON_EXCEPTION|mismatch"):
        res.tiles.collect()


def test_nearest_policy_stays_unsplit(spark, sql_executions):
    """'nearest' carries per-pixel arg-min state a partial cannot
    decompose: under a budget that makes every tile hot it plans the one
    stitch kernel, runs no hot-tile probe and equals its oracle."""
    from tests.test_merge_policy import nearest_oracle

    rasters = synth.hot_cell(20, 128, 128)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy="nearest")
    with advisory(spark, WINDOW), sql_executions() as n:
        res = do_mosaic(spark, fp, blocks, cfg)
    assert n[0] == 1 and arrow_kernels(res.stitched) == 1
    got = np.full((res.grid.nrows, res.grid.ncols), -1, dtype=np.int32)
    for r in res.tiles.collect():
        got[r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize] = tiles_of_row(r)
    np.testing.assert_array_equal(got, nearest_oracle(rasters, res.grid))


def test_hot_cold_split_mixed_corpus(spark):
    """Only hot tiles take the two-stage path; cold tiles go straight
    to the final stitch. A mixed corpus (one 20-deep hot stack + one
    far-away single raster) must still be byte-identical to the
    unsplit run, and the split itself must classify tiles as
    expected."""
    from moamosaic_spark.mosaic import _hot_runs

    hot = synth.hot_cell(20, 128, 128)
    cold = synth.make_rasters(
        [dict(media_ref="rcold", x0=300000.0 + 50000.0, y0=7000000.0,
              nrows=128, ncols=128)]
    )
    rasters = hot + cold
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = range(len(pdf))
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False)

    plain_res = do_mosaic(spark, fp, blocks, MosaicConfig(**base))
    plain = tiles_of(plain_res)
    budget = 5 * WINDOW  # the cold raster's one window per tile fits
    salted = tiles_of(split_mosaic(spark, fp, blocks, MosaicConfig(**base), budget))
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")

    # the classifier itself: a tile is hot when its contributors'
    # clamped windows add up to more than the budget — every tile of
    # the cold raster is cold, the stack's 20-deep interior is hot — and
    # a hot tile's contributors come in runs of at most 5
    runs = _hot_runs(plain_res.assignments, budget).collect()
    tile_bytes, per_run = {}, {}
    for r in runs:
        h = min(r.in_top + r.in_ysize, r.src_nrows) - max(r.in_top, 0)
        w = min(r.in_left + r.in_xsize, r.src_ncols) - max(r.in_left, 0)
        tile = (r.tile_row, r.tile_col)
        tile_bytes[tile] = tile_bytes.get(tile, 0) + h * w * 2
    for r in runs:
        hot = tile_bytes[(r.tile_row, r.tile_col)] > budget
        assert (r._run is not None) == hot, f"tile {r} misclassified"
        assert not (hot and r.media_ref == "rcold"), f"cold tile {r} is hot"
        if hot:
            key = (r.tile_row, r.tile_col, r._run)
            per_run[key] = per_run.get(key, 0) + 1
    assert tile_bytes[(0, 0)] > budget and max(per_run.values()) == 5


@pytest.mark.parametrize("runs", [2, 5])
def test_salted_blend_equals_unsalted(spark, runs):
    """merge_policy='blend' on the two-stage path: blend is a per-pixel
    (wsum, wvsum) SUM — commutative, so run partials composed in any
    order must equal the unsalted blend bit-for-bit (exact integer
    accumulators; same half-up finalize)."""
    rasters = synth.hot_cell(20, 128, 128)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False,
                merge_policy="blend", blend_feather=16)

    plain = tiles_of(do_mosaic(spark, fp, blocks, MosaicConfig(**base)))
    salted = tiles_of(
        split_mosaic(spark, fp, blocks, MosaicConfig(**base), runs_budget(20, runs))
    )
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")


@pytest.mark.parametrize("merge_policy", ["last", "blend"])
def test_salted_blend_hot_cold_mix_and_overviews(spark, merge_policy):
    """Two-stage stitch with a hot stack + a far cold raster: cold rows
    ride the union with null partial canvases and fold as raw
    contributors in stage 2; overviews flow through too."""
    hot = synth.hot_cell(12, 128, 128)
    cold = synth.make_rasters(
        [dict(media_ref="rcold", x0=300000.0 + 50000.0, y0=7000000.0,
              nrows=128, ncols=128)]
    )
    rasters = hot + cold
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = range(len(pdf))
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, min_overview_size=32,
                merge_policy=merge_policy, blend_feather=16)

    plain_res = do_mosaic(spark, fp, blocks, MosaicConfig(**base))
    salt_res = split_mosaic(spark, fp, blocks, MosaicConfig(**base), 4 * WINDOW)
    plain, salted = tiles_of(plain_res), tiles_of(salt_res)
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")
    ov_p = {(r.level, r.band, r.tile_row, r.tile_col): list(r.pixels)
            for r in plain_res.overviews.collect()}
    ov_s = {(r.level, r.band, r.tile_row, r.tile_col): list(r.pixels)
            for r in salt_res.overviews.collect()}
    assert ov_p == ov_s and len(ov_p) > 0


@pytest.mark.parametrize("merge_policy", ["last", "blend"])
def test_salted_all_null_hot_tile(spark, merge_policy):
    """A hot stack whose every band is nodata: each stage-1 run writes
    nothing and emits no row (the placeholder keeps the tile's group),
    and the split tiles still equal the unsplit ones — same keys, all
    null, px_count 0."""
    rasters = synth.hot_cell(8, 96, 96)
    for r in rasters:
        r.bands = [np.full_like(b, r.nullval) for b in r.bands]
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False,
                merge_policy=merge_policy, blend_feather=16)
    out = {}
    for split in (False, True):
        res = (
            split_mosaic(spark, fp, blocks, MosaicConfig(**base), 4 * WINDOW)
            if split else do_mosaic(spark, fp, blocks, MosaicConfig(**base))
        )
        out[split] = {
            (r.band, r.tile_row, r.tile_col): (bytes(r.pixels), r.px_count)
            for r in res.tiles.collect()
        }
    assert out[True] == out[False] and len(out[False]) > 0
    assert all(n == 0 for _, n in out[True].values())


def test_salted_blend_u2_layout(spark):
    """Salted blend: array<int> blocks (packed by the ingest adaptor)
    and binary blocks give byte-identical tiles."""
    from tests.test_pixels_u2 import _fp_blocks

    rasters = synth.hot_cell(10, 128, 128)
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False,
                merge_policy="blend", blend_feather=16)
    out = {}
    for as_array in (False, True):
        fp, bl = _fp_blocks(spark, rasters, as_array=as_array)
        res = split_mosaic(spark, fp, bl, MosaicConfig(**base), 3 * WINDOW)
        out[as_array] = {(r.band, r.tile_row, r.tile_col): bytes(r.pixels)
                         for r in res.tiles.collect()}
    assert out[True] == out[False] and len(out[False]) > 0


@pytest.mark.parametrize("case", ["default", "hot", "cool"])
def test_split_branches_through_the_budget(spark, sql_executions, case):
    """Each branch of the hot-tile split, forced through the byte budget.
    default: 9 inputs x the largest 64x64 tile fit the default budget,
    so the gate stays closed — the footprint probe is the one action and
    the stitch the one kernel. hot: a budget of 5 windows under the
    20-deep stack — the hot-tile probe runs and finds hot tiles, so the
    partial kernel joins the stitch. cool: a budget of 16 KiB opens the
    gate on grid3x3, but no tile's windows (at most ~9 KB) exceed it —
    the probe runs and the plan keeps its one kernel."""
    rasters, budget, actions, kernels = {
        "default": (synth.grid3x3(150, 150), None, 1, 1),
        "hot": (synth.hot_cell(20, 128, 128), runs_budget(20, 4), 2, 2),
        "cool": (synth.grid3x3(150, 150), "16k", 2, 1),
    }[case]
    fp = to_footprints(spark, synth.footprints_pdf(rasters)).cache()
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256)).cache()
    fp.count(), blocks.count()
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    with advisory(spark, budget or spark.conf.get(ADVISORY)):
        do_mosaic(spark, fp, blocks, cfg)  # warm
        with sql_executions() as n:
            res = do_mosaic(spark, fp, blocks, cfg)
    assert (n[0], arrow_kernels(res.stitched)) == (actions, kernels)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = tiles_of(res)
    assert set(got) == set(want.tiles)
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k], err_msg=f"tile {k}")
    fp.unpersist(), blocks.unpersist()


def test_resumable_batches_gate_on_the_run_probe(spark, tmp_path, sql_executions):
    """A resumable run probes its footprints once, and each batch's
    hot-tile gate reads that probe's input count: on grid3x3 the gate
    stays closed, so a fresh 3-batch run makes 7 driver actions — the
    footprint probe, then per batch the tile write and the lineage
    append. Batches that ran their own hot-tile probe made 10."""
    from moamosaic_spark.streaming.lineage import resumable_mosaic

    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    out = str(tmp_path / "resume_probe")
    with sql_executions() as n:
        r = resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=3)
    assert (r["batches_run"], n[0]) == (3, 7), (r, n[0])
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = tiles_of(spark.read.parquet(f"{out}/tiles"))
    assert set(got) == set(want.tiles)
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k], err_msg=f"tile {k}")


def test_hot_tiles_unsplit_on_relayout_route(spark):
    """A hot corpus with relayout_table set stitches off the bucketed
    table — one kernel, no Exchange to split into — and equals the
    split direct route."""
    from tests.conftest import fresh_table

    rasters = synth.hot_cell(20, 128, 128)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, min_overview_size=32)
    budget = runs_budget(20, 4)
    direct = split_mosaic(spark, fp, blocks, MosaicConfig(**base), budget)
    table = fresh_table(spark, "work_hot")
    with advisory(spark, budget):
        res = do_mosaic(spark, fp, blocks, MosaicConfig(**base, relayout_table=table))
    plan = res.stitched._jdf.queryExecution().executedPlan().toString()
    assert arrow_kernels(res.stitched) == 1 and "Exchange" not in plan, plan
    for part in ("tiles", "overviews", "stats"):
        rows = [sorted(getattr(r, part).collect()) for r in (res, direct)]
        assert rows[0] == rows[1] and rows[0], part
    fresh_table(spark, table)


def test_driver_actions_are_named(spark):
    """Every driver action of a lazy do_mosaic carries a job description
    — the footprint probe, the hot-tile probe, the relayout meta read —
    and the caller's own description is restored afterwards."""
    from tests.conftest import fresh_table

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def descriptions_after(last):
        bus.waitUntilEmpty()
        execs = store.executionsList()
        got = [execs.apply(i) for i in range(execs.size())]
        return [e.description() for e in got if e.executionId() > last]

    def last_id():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return execs.last().executionId() if execs.nonEmpty() else -1

    rasters = synth.hot_cell(20, 128, 128)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    table = fresh_table(spark, "work_named")
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    relayout_cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                                relayout_table=table)
    do_mosaic(spark, fp, blocks, relayout_cfg)  # builds the table
    sc = spark.sparkContext
    sc.setJobDescription("caller span")
    try:
        with advisory(spark, runs_budget(20, 4)):
            before = last_id()
            do_mosaic(spark, fp, blocks, cfg)
            direct = descriptions_after(before)
            before = last_id()
            do_mosaic(spark, fp, blocks, relayout_cfg)
            relayout = descriptions_after(before)
        assert sc.getLocalProperty("spark.job.description") == "caller span"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert direct == ["moamosaic: footprint probe", "moamosaic: hot-tile probe"]
    assert relayout == ["moamosaic: footprint probe", f"moamosaic: relayout meta {table}"]
    fresh_table(spark, table)
