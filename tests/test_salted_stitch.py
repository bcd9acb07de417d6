"""The streaming stitch fold: a (band, tile) group reaches the stitch
kernel as Arrow record batches, split at arbitrary rows and read in
shuffle order, and the kernel folds them one at a time into the canvas
and a per-pixel priority plane. Hot tiles are not split by any budget:
the same one kernel folds a 20-deep stack in bounded memory.

Each test forces many batches per group with ``small_batches`` (Spark's
``maxRecordsPerBatch`` at 1-7 rows) and checks the result against the
independent oracles (synth.oracle for 'last', test_merge_policy's for
'nearest' and 'blend') or against the run at the default batch size."""

import numpy as np
import pyarrow as pa
import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.plans.grid import overview_shape
from moamosaic_spark.sources import synth
from tests.conftest import (
    advisory, arrow_kernels, fresh_table, small_batches, to_blocks, to_footprints,
)

# one full 64x64 contributor window of packed uint16
WINDOW = 64 * 64 * 2
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def tiles_of(res):
    """{(band, tile_row, tile_col): array} of a result or a tile table."""
    tiles = getattr(res, "tiles", res)
    return {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(r.ysize, r.xsize)
        for r in tiles.collect()
    }


def outputs(res) -> dict:
    """Every output row of ``res`` (tiles, overviews, stats), collected
    now, so a caller inside ``small_batches`` runs them under it."""
    return {part: sorted(getattr(res, part).collect()) for part in ("tiles", "overviews", "stats")}


def corpus(spark, rasters, priorities=None):
    pdf = synth.footprints_pdf(rasters)
    if priorities is not None:
        pdf["priority"] = priorities(pdf["priority"])
    return to_footprints(spark, pdf), to_blocks(spark, synth.blocks_pdf(rasters, 256))


def by_priority(rasters, priorities):
    """``rasters`` in the merge order ``corpus(.., priorities)`` gives
    them: the order the list-order oracles paste in."""
    if priorities is None:
        return rasters
    return [rasters[i] for i in np.argsort(priorities(np.arange(len(rasters))))]


# sparse (gaps of 10, not zero-based) priorities in an order unrelated
# to the footprint rows: the join emits a tile's contributors in row
# order, so they reach the stitch out of priority order
SHUFFLED_SPARSE = np.random.default_rng(5).permutation(12) * 10 + 7


def all_null(rasters):
    for r in rasters:
        r.bands = [np.full_like(b, r.nullval) for b in r.bands]
    return rasters


def oracle_canvas(rasters, grid, policy, feather):
    """The band-1 mosaic ``policy`` must produce, from an independent
    full-canvas oracle."""
    from tests.test_merge_policy import blend_oracle, nearest_oracle

    if policy == "nearest":
        return nearest_oracle(rasters, grid)
    if policy == "blend":
        return blend_oracle(rasters, grid, feather=feather)
    return synth.oracle(rasters, blocksize=64, min_overview_size=9999).canvas[1]


def assert_matches_canvas(res, want, nullval=0):
    """Tiles, overviews and stats of ``res`` equal those of the full
    band-1 mosaic ``want``."""
    got = np.full(want.shape, -1, dtype=np.int64)
    for r in res.tiles.collect():
        got[r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize] = decode(
            r.pixels).reshape(r.ysize, r.xsize)
    np.testing.assert_array_equal(got, want)
    assert res.levels
    for lvl in res.levels:
        ov = np.full(overview_shape(*want.shape, lvl), -1, dtype=np.int64)
        for r in res.overviews.where(f"level = {lvl}").collect():
            ov[r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize] = decode(
                r.pixels).reshape(r.ysize, r.xsize)
        np.testing.assert_array_equal(ov, want[lvl // 2::lvl, lvl // 2::lvl], err_msg=f"{lvl}")
    vals = want[want != nullval].astype(np.float64)
    (s,) = res.stats.collect()
    assert s["count"] == vals.size
    if vals.size:
        assert (s.minval, s.maxval) == (vals.min(), vals.max())
        assert s.meanval == pytest.approx(vals.mean(), rel=1e-12)
        assert s.stddev == pytest.approx(vals.std(), rel=1e-9, abs=1e-9)
    else:
        assert s.minval is None and s.maxval is None


CORPORA = {
    "hot_cell": lambda: (synth.hot_cell(20, 96, 96), None),
    "golden_pair": lambda: (synth.golden_pair(128, 128), None),
    "sparse": lambda: (synth.hot_cell(12, 96, 96), lambda p: SHUFFLED_SPARSE[p]),
    "all_null": lambda: (all_null(synth.hot_cell(8, 96, 96)), None),
}


@pytest.mark.parametrize("route", ["direct", "relayout"])
@pytest.mark.parametrize("policy", ["last", "nearest", "blend"])
@pytest.mark.parametrize("name", list(CORPORA))
def test_streamed_fold_equals_oracles(spark, name, policy, route):
    """Every group in batches of one row, on both routes: tiles,
    overviews and stats equal the policy's oracle."""
    rasters, priorities = CORPORA[name]()
    fp, blocks = corpus(spark, rasters, priorities)
    table = fresh_table(spark, "work_streamed") if route == "relayout" else None
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=16,
                       merge_policy=policy, blend_feather=16, relayout_table=table)
    with small_batches(spark, 1):
        res = do_mosaic(spark, fp, blocks, cfg)
        want = oracle_canvas(by_priority(rasters, priorities), res.grid, policy, 16)
        assert_matches_canvas(res, want)
    if table:
        fresh_table(spark, table)


@pytest.mark.parametrize("policy", ["last", "nearest", "blend"])
def test_duplicate_work_rows_fold_once(spark, policy):
    """A chunk that arrives twice (an interrupted relayout_append
    replays its rows) folds once: duplicating one contributor's blocks
    leaves every policy's output unchanged. 'blend' would otherwise
    weigh that contributor twice."""
    rasters = synth.golden_pair(128, 128)
    fp, blocks = corpus(spark, rasters)
    twice = blocks.unionByName(blocks.where(f"media_ref = '{rasters[1].media_ref}'"))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=32,
                       merge_policy=policy, blend_feather=16)
    with small_batches(spark, 3):
        res = do_mosaic(spark, fp, twice, cfg)
        assert_matches_canvas(res, oracle_canvas(rasters, res.grid, policy, 16))
        assert outputs(res) == outputs(do_mosaic(spark, fp, blocks, cfg))


@pytest.mark.parametrize("runs", [2, 4, 7])
def test_salted_equals_unsalted_and_oracle(spark, runs):
    """A 20-deep stack in batches of ``runs`` rows equals the run at the
    default batch size and the oracle."""
    rasters = synth.hot_cell(20, 128, 128)  # 20 contributors per tile
    fp, blocks = corpus(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    plain = tiles_of(do_mosaic(spark, fp, blocks, cfg))
    with small_batches(spark, runs):
        streamed = tiles_of(do_mosaic(spark, fp, blocks, cfg))
    assert set(plain) == set(streamed) == set(want.tiles)
    for k in plain:
        np.testing.assert_array_equal(streamed[k], plain[k], err_msg=f"tile {k}")
        np.testing.assert_array_equal(plain[k], want.tiles[k])


def test_salted_stats_and_null_no_overwrite(spark):
    """Stats flow through the streaming fold, and null-no-overwrite
    survives batch boundaries (a null of a higher-priority row in a
    later batch must not erase an earlier batch's value)."""
    rasters = synth.golden_pair(128, 128)  # B's overlap col 0 is null
    fp, blocks = corpus(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    with small_batches(spark, 1):
        res = do_mosaic(spark, fp, blocks, cfg)
        got = tiles_of(res)
        srow = res.stats.collect()[0]
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k])
    w_min, w_max, w_mean, w_std, w_count = want.stats[1]
    assert srow["count"] == w_count and srow.minval == w_min and srow.maxval == w_max


def test_salted_with_sparse_priorities(spark):
    """Priorities with gaps (7, 17, 27, ...), shuffled against the
    footprint rows, fold by value: the highest wins whatever order the
    rows arrive in."""
    rasters = synth.hot_cell(12, 96, 96)
    fp, blocks = corpus(spark, rasters, lambda p: SHUFFLED_SPARSE[p])
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    want = synth.oracle(by_priority(rasters, lambda p: SHUFFLED_SPARSE[p]),
                        blocksize=64, min_overview_size=9999)
    with small_batches(spark, 2):
        got = tiles_of(do_mosaic(spark, fp, blocks, cfg))
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k])


def test_duplicate_priority_raises_shape_guard(spark):
    """Two sources sharing a priority with different windows must raise
    (the reference's shape-mismatch guard, mosaic.py:586-593), not
    silently paste through the wrong geometry."""
    rasters = synth.golden_pair(96, 96)
    fp, blocks = corpus(spark, rasters, lambda p: 0)  # both sources claim 0
    res = do_mosaic(
        spark, fp, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False),
    )
    with pytest.raises(Exception, match="geometry mismatch|PYTHON_EXCEPTION|mismatch"):
        res.tiles.collect()


def test_shape_guard_holds_across_batches(spark):
    """The guard remembers every priority's window for the whole group:
    with one row per batch, the two sources' rows that share a priority
    are always in different batches, and the group still raises."""
    rasters = synth.golden_pair(96, 96)
    fp, blocks = corpus(spark, rasters, lambda p: 0)
    res = do_mosaic(
        spark, fp, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False),
    )
    with small_batches(spark, 1), pytest.raises(Exception, match="geometry mismatch"):
        res.tiles.collect()


def test_hot_cold_split_mixed_corpus(spark):
    """A 20-deep hot stack plus one far-away single raster, streamed
    in batches of two rows, is byte-identical to the run at the default
    batch size."""
    hot = synth.hot_cell(20, 128, 128)
    cold = synth.make_rasters(
        [dict(media_ref="rcold", x0=300000.0 + 50000.0, y0=7000000.0,
              nrows=128, ncols=128)]
    )
    fp, blocks = corpus(spark, hot + cold, lambda p: range(len(p)))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    plain = tiles_of(do_mosaic(spark, fp, blocks, cfg))
    with small_batches(spark, 2):
        streamed = tiles_of(do_mosaic(spark, fp, blocks, cfg))
    assert set(plain) == set(streamed)
    for k in plain:
        np.testing.assert_array_equal(streamed[k], plain[k], err_msg=f"tile {k}")


@pytest.mark.parametrize("runs", [2, 5])
def test_salted_blend_equals_unsalted(spark, runs):
    """merge_policy='blend' is a per-pixel (wsum, wvsum) SUM of exact
    integers, so any batching gives the default run's tiles
    bit-for-bit."""
    rasters = synth.hot_cell(20, 128, 128)
    fp, blocks = corpus(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy="blend", blend_feather=16)
    plain = tiles_of(do_mosaic(spark, fp, blocks, cfg))
    with small_batches(spark, runs):
        streamed = tiles_of(do_mosaic(spark, fp, blocks, cfg))
    assert set(plain) == set(streamed)
    for k in plain:
        np.testing.assert_array_equal(streamed[k], plain[k], err_msg=f"tile {k}")


@pytest.mark.parametrize("merge_policy", ["last", "blend"])
def test_salted_blend_hot_cold_mix_and_overviews(spark, merge_policy):
    """A hot stack + a far cold raster in batches of three rows:
    tiles, overviews and stats equal the default run's."""
    hot = synth.hot_cell(12, 128, 128)
    cold = synth.make_rasters(
        [dict(media_ref="rcold", x0=300000.0 + 50000.0, y0=7000000.0,
              nrows=128, ncols=128)]
    )
    fp, blocks = corpus(spark, hot + cold, lambda p: range(len(p)))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=32,
                       merge_policy=merge_policy, blend_feather=16)
    plain = outputs(do_mosaic(spark, fp, blocks, cfg))
    with small_batches(spark, 3):
        streamed = outputs(do_mosaic(spark, fp, blocks, cfg))
    assert streamed == plain and plain["overviews"]


@pytest.mark.parametrize("merge_policy", ["last", "blend"])
def test_salted_all_null_hot_tile(spark, merge_policy):
    """A hot stack whose every band is nodata: streamed or not, every
    tile is all null with px_count 0, under the same keys."""
    rasters = all_null(synth.hot_cell(8, 96, 96))
    fp, blocks = corpus(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy=merge_policy, blend_feather=16)

    def tiles(res):
        return {(r.band, r.tile_row, r.tile_col): (bytes(r.pixels), r.px_count)
                for r in res.tiles.collect()}

    plain = tiles(do_mosaic(spark, fp, blocks, cfg))
    with small_batches(spark, 1):
        streamed = tiles(do_mosaic(spark, fp, blocks, cfg))
    assert streamed == plain and len(plain) > 0
    assert all(n == 0 for _, n in streamed.values())


def test_salted_blend_u2_layout(spark):
    """Streamed blend: array<int> blocks (packed by the ingest adaptor)
    and binary blocks give byte-identical tiles."""
    from tests.test_pixels_u2 import _fp_blocks

    rasters = synth.hot_cell(10, 128, 128)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy="blend", blend_feather=16)
    out = {}
    for as_array in (False, True):
        fp, bl = _fp_blocks(spark, rasters, as_array=as_array)
        with small_batches(spark, 3):
            out[as_array] = {(r.band, r.tile_row, r.tile_col): bytes(r.pixels)
                             for r in do_mosaic(spark, fp, bl, cfg).tiles.collect()}
    assert out[True] == out[False] and len(out[False]) > 0


@pytest.mark.parametrize("case", ["default", "hot", "cool"])
def test_one_path_through_the_budget(spark, sql_executions, case):
    """The byte budget sizes the stitch partitions and nothing else: at
    the default budget, at five windows under the 20-deep stack and at
    16 KiB on grid3x3, a warm do_mosaic makes one driver action (the
    footprint probe) and plans one stitch kernel, and its tiles equal
    the oracle."""
    rasters, budget = {
        "default": (synth.grid3x3(150, 150), None),
        "hot": (synth.hot_cell(20, 128, 128), 5 * WINDOW),
        "cool": (synth.grid3x3(150, 150), "16k"),
    }[case]
    fp, blocks = corpus(spark, rasters)
    fp, blocks = fp.cache(), blocks.cache()
    fp.count(), blocks.count()
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    with advisory(spark, budget or spark.conf.get(ADVISORY)):
        do_mosaic(spark, fp, blocks, cfg)  # warm
        with sql_executions() as n:
            res = do_mosaic(spark, fp, blocks, cfg)
    assert (n[0], arrow_kernels(res.stitched)) == (1, 1)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = tiles_of(res)
    assert set(got) == set(want.tiles)
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k], err_msg=f"tile {k}")
    fp.unpersist(), blocks.unpersist()


@pytest.mark.parametrize("policy", ["last", "nearest", "blend"])
def test_hot_stack_one_path(spark, sql_executions, policy):
    """A 20-deep stack under a 4 KiB budget (every tile's inputs exceed
    it 20-fold) takes the one path for every policy: a warm do_mosaic
    makes exactly one driver action, the stitched plan holds exactly one
    FlatMapGroupsInArrow, and the mosaic equals the policy's oracle."""
    rasters = synth.hot_cell(20, 128, 128)
    fp, blocks = corpus(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=32,
                       merge_policy=policy, blend_feather=16)
    with advisory(spark, "4k"):
        do_mosaic(spark, fp, blocks, cfg)  # warm
        with sql_executions() as n:
            res = do_mosaic(spark, fp, blocks, cfg)
        assert (n[0], arrow_kernels(res.stitched)) == (1, 1)
        assert_matches_canvas(res, oracle_canvas(rasters, res.grid, policy, 16))


def test_resumable_batches_gate_on_the_run_probe(spark, tmp_path, sql_executions):
    """A resumable run probes its footprints once and hands the row to
    its batches: a fresh 3-batch run on grid3x3 makes 7 driver actions —
    the footprint probe, then per batch the tile write and the lineage
    append."""
    from moamosaic_spark.streaming.lineage import resumable_mosaic

    rasters = synth.grid3x3(150, 150)
    fp, blocks = corpus(spark, rasters)
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
    table — one kernel, no Exchange — and, streamed in batches of two
    rows, equals the direct route: tiles, overviews and stats."""
    rasters = synth.hot_cell(20, 128, 128)
    fp, blocks = corpus(spark, rasters)
    base = dict(blocksize=64, src_blocksize=256, min_overview_size=32)
    table = fresh_table(spark, "work_hot")
    with small_batches(spark, 2):
        direct = outputs(do_mosaic(spark, fp, blocks, MosaicConfig(**base)))
        res = do_mosaic(spark, fp, blocks, MosaicConfig(**base, relayout_table=table))
        routed = outputs(res)
    plan = res.stitched._jdf.queryExecution().executedPlan().toString()
    assert arrow_kernels(res.stitched) == 1 and "Exchange" not in plan, plan
    assert routed == direct and all(direct.values())
    fresh_table(spark, table)


def test_small_batches_split_groups(spark):
    """The harness does what the tests above rely on: under
    ``small_batches(spark, 2)`` a 5-row group reaches an iterator kernel
    as several batches of at most 2 rows."""
    from typing import Iterator, Tuple

    def sizes(
        key: Tuple[pa.Scalar, ...], batches: Iterator[pa.RecordBatch]
    ) -> Iterator[pa.RecordBatch]:
        yield pa.RecordBatch.from_pydict(
            {"n": pa.array([[b.num_rows for b in batches]], pa.list_(pa.int64()))}
        )

    df = spark.range(5).selectExpr("0 AS g", "id")
    with small_batches(spark, 2):
        (row,) = df.groupBy("g").applyInArrow(sizes, "n array<long>").collect()
    assert sum(row.n) == 5 and len(row.n) > 1 and max(row.n) <= 2, row.n


def test_table_form_equals_spark_output(spark):
    """make_stitch_fn_arrow(...)(key, tbl) — the form callers that hold a
    whole group use — returns a pa.Table equal to what Spark's stitch
    emits for that group; Spark runs the iterator form."""
    from pyspark.sql.pandas.typehints import infer_group_arrow_eval_type_from_func
    from pyspark.util import PythonEvalType

    from moamosaic_spark.mosaic import _contributor_chunks, _with_placeholders
    from moamosaic_spark.operators.stitch import make_stitch_fn_arrow, make_stitch_kernel
    from moamosaic_spark.plans.grid import make_tile_relation

    rasters = synth.hot_cell(12, 128, 128)
    fp, blocks = corpus(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=32)
    res = do_mosaic(spark, fp, blocks, cfg)
    work = _with_placeholders(
        _contributor_chunks(res.assignments, blocks, cfg.src_blocksize),
        make_tile_relation(spark, res.grid, cfg.blocksize), res.grid.n_bands,
    )
    key = "band = 1 AND tile_row = 0 AND tile_col = 0"
    group = work.where(key).toArrow()
    assert group.num_rows > 12
    fn = make_stitch_fn_arrow(res.grid, res.levels, "last", binary=True)
    got = fn((1, 0, 0), group)
    assert isinstance(got, pa.Table)
    want = res.stitched.where(key).toArrow()

    def rows(t):
        return sorted(t.to_pylist(), key=lambda r: r["level"])

    assert rows(got) == rows(want) and len(rows(want)) == 1 + len(res.levels)
    assert infer_group_arrow_eval_type_from_func(
        make_stitch_kernel(res.grid, res.levels)
    ) == PythonEvalType.SQL_GROUPED_MAP_ARROW_ITER_UDF


def _executions(spark):
    """The SQL executions in the status store, once the bus is drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def last_id(spark):
    return max((e.executionId() for e in _executions(spark)), default=-1)


def descriptions_after(spark, last):
    return [e.description() for e in _executions(spark) if e.executionId() > last]


def test_driver_actions_are_named(spark):
    """Every driver action of a lazy do_mosaic carries a job description
    — the footprint probe, the relayout meta read — and the caller's own
    description is restored afterwards. A tiny byte budget adds no
    action."""
    rasters = synth.hot_cell(20, 128, 128)
    fp, blocks = corpus(spark, rasters)
    table = fresh_table(spark, "work_named")
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    relayout_cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                                relayout_table=table)
    do_mosaic(spark, fp, blocks, relayout_cfg)  # builds the table
    sc = spark.sparkContext
    sc.setJobDescription("caller span")
    try:
        with advisory(spark, 5 * WINDOW):
            before = last_id(spark)
            do_mosaic(spark, fp, blocks, cfg)
            direct = descriptions_after(spark, before)
            before = last_id(spark)
            do_mosaic(spark, fp, blocks, relayout_cfg)
            relayout = descriptions_after(spark, before)
        assert sc.getLocalProperty("spark.job.description") == "caller span"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert direct == ["moamosaic: footprint probe"]
    assert relayout == ["moamosaic: footprint probe", f"moamosaic: relayout meta {table}"]
    fresh_table(spark, table)


def test_mosaic_module_actions_are_named(spark, tmp_path):
    """The block integrity check of a ``check_blocks=True`` run, and
    write_derived's blocksize fallback and per-product counts, carry
    their job descriptions."""
    import dataclasses

    from moamosaic_spark.mosaic import write_derived

    rasters = synth.grid3x3(96, 96)
    fp, blocks = corpus(spark, rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       check_blocks=True)
    before = last_id(spark)
    res = do_mosaic(spark, fp, blocks, cfg)
    assert descriptions_after(spark, before) == [
        "moamosaic: footprint probe", "moamosaic: block integrity check",
    ]
    hand_built = dataclasses.replace(res, blocksize=None)
    before = last_id(spark)
    write_derived(hand_built, str(tmp_path / "derived"), ["hillshade", "terrain"])
    named = [d for d in descriptions_after(spark, before) if d.startswith("moamosaic:")]
    assert named == [
        "moamosaic: derived blocksize probe",
        "moamosaic: derived count hillshade",
        "moamosaic: derived count terrain",
    ]
