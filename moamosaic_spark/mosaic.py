"""do_mosaic — the end-to-end mosaic dataflow (the reference's doMosaic,
mosaic.py:111-224, re-planned as one declarative Spark job).

Reference phases -> Spark stages:

  imginfodict (serial metadata scan)   -> footprints dim table (given)
  projection (agreement check)         -> ONE footprint probe (_summary_row):
                                          checks + extent + fingerprint
                                          in one driver action
  analysis (grid/tiles/join/worklist)  -> Catalyst logical plan, written
                                          as SQL strings the JVM parses
                                          once per relation: tile relation
                                          + tile-keyed spatial join (footprint
                                          tile covers ⋈ tiles)
  domosaic (threads + queue + cache)   -> ONE shuffle (a partition per
                                          core, each a contiguous tile
                                          range: plans.grid.range_id) into
                                          groupBy(band, tile).applyInArrow
  null block (mosaic.py:351-359)       -> a group holding only the tile's
                                          placeholder row (one per band and
                                          tile): the same kernel emits it
  stats / pyramids (single pass)       -> emitted by the same kernel
  ordered write                        -> the stitch's own partitions,
                                          sorted within each: part file i
                                          holds tile range i, no second
                                          exchange

The reader threads, block queue, block cache and per-file countdown of
the reference (structures.py:141-242) all dissolve into the shuffle: the
groupBy IS the rendezvous that the reference's BlockCache polls for
(mosaic.py:364-366).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .plans import grid as gridmod
from .plans.grid import OutputGrid, make_tile_relation, overview_levels
from .plans.spatial_join import assign_inputs, check_strategy
from .operators.stitch import check_merge_policy, make_stitch_kernel
from .operators.stats import finalize_stats
from .monitoring import named_action
from .pixels import PIXEL_BYTES, PIXEL_MAX, ingest
from .schema import STITCH_SCHEMA


class MoaProjectionError(Exception):
    """Input rasters disagree on projection / resolution / alignment
    (reference reproj.py:274-275)."""


@dataclass
class MosaicConfig:
    blocksize: int = 1024
    src_blocksize: int = 256           # chunk size of the blocks fact table
    min_overview_size: int = 1024
    nullval: float | None = None       # default: from priority-0 input
    # accepted for old callers; the one spatial join ignores both
    strategy: str = "broadcast"        # 'broadcast' | 'cell'
    cell_size_px: int = 4096
    check_projections: bool = True
    check_blocks: bool = False         # integrity prepass over the blocks table
    with_overviews: bool = True
    # 'last' (reference) | 'nearest' (kNN ext) | 'blend' (feathered
    # edge-blending: overlap pixels weighted by distance to each
    # contributor's source edge — nodata-aware, seams fade)
    merge_policy: str = "last"
    blend_feather: int = 64            # feather width (px) for 'blend'
    # the one relayout switch (sources/relayout.py): do_mosaic and each
    # resumable_mosaic batch stitch off this bucketed work table whenever
    # it holds EXACTLY this corpus (mosaic_via_relayout) — zero stitch
    # Exchange — and (re)build it first, eagerly, when absent or stale;
    # an explicit grid that mismatches it runs the direct path. An
    # incremental mosaic (process_batch) accumulates its micro-batches
    # in it instead (a stream table); each kind refuses the other.
    relayout_table: str | None = None
    # bucket count of a table built by that routing; None -> one per
    # core, sized like the direct stitch (plans.grid.stitch_partitions)
    relayout_buckets: int | None = None

    def __post_init__(self):
        check_strategy(self.strategy)


@dataclass
class MosaicResult:
    grid: OutputGrid
    levels: list
    tiles: DataFrame        # level-0 mosaic tiles with stat partials
    overviews: DataFrame    # pyramid fragments (level > 0)
    stats: DataFrame        # per-band finalized stats
    assignments: DataFrame  # the spatial-join output (J1 relation)
    stitched: DataFrame = field(repr=False, default=None)
    # the tiling blocksize the result was built with — consumers that
    # need global pixel ids (write_derived's basins product) must use
    # THIS, not a shape inferred from tiles: a raster one tile-row tall
    # absorbs the remainder into row 0, so max(ysize) underestimates it
    blocksize: int | None = None


def _summary_row(footprints: DataFrame, with_fingerprint: bool = False):
    """THE footprint probe: one driver action over the footprint dim
    table carrying everything do_mosaic needs up front — the P6 checks
    (``min(c) != max(c)``: more than one distinct projection or pixel
    size), the P7 alignment check, the A1 extent and priority-first
    struct (plans.grid.extent_cols) and, optionally, the relayout
    fingerprint (guide §5: collects are full driver round trips; batch
    them). The alignment check needs the priority-first input's origin
    on every row, so that struct is a window over the (small) dim
    table, and the aggregate reads ``first`` off the same column."""
    def misaligned(c: str, res: str) -> str:
        # isAligned (reproj.py:117-127): |round(d/res) - d/res| >= 1e-4
        factor = f"(abs({c} - _first.{c}) / _first.{res})"
        return f"abs(round({factor}) - {factor}) >= 0.0001D"

    aggs = [
        "min(projection) != max(projection) AS bad_proj",
        "min(x_res) != max(x_res) OR min(y_res) != max(y_res) AS bad_res",
        f"bool_or({misaligned('x0', 'x_res')} OR {misaligned('y0', 'y_res')}) AS bad_align",
        *gridmod.extent_cols(first="any_value(_first)"),
    ]
    if with_fingerprint:
        from .sources.relayout import fingerprint_agg_cols

        aggs.extend(fingerprint_agg_cols())
    with named_action(footprints.sparkSession, "moamosaic: footprint probe"):
        return (
            footprints.selectExpr("*", f"{gridmod.FIRST} OVER () AS _first")
            .selectExpr(*aggs)
            .collect()[0]
        )


def _check_projection_row(row) -> None:
    """Raise on a probe row (_summary_row) that fails P6/P7, in the
    reference's order: projection, pixel size, alignment."""
    gridmod.require_first(row)
    if row["bad_proj"]:
        raise MoaProjectionError("Projection mis-match between inputs")
    if row["bad_res"]:
        raise MoaProjectionError("Pixel size mis-match between inputs")
    if row["bad_align"]:
        raise MoaProjectionError("Grid mis-alignment between inputs")


def validate_projections(footprints: DataFrame) -> None:
    """P6/P7 — all inputs must agree on projection and pixel size, and be
    grid-aligned to the priority-first input (reference
    reproj.py:72-127). One driver action, the footprint probe
    (_summary_row); raises MoaProjectionError.
    """
    _check_projection_row(_summary_row(footprints))


def validate_blocks(footprints: DataFrame, blocks: DataFrame) -> None:
    """Optional integrity prepass: every (media_ref, band) a footprint
    declares must have pixel rows in the blocks table. Without this, a
    missing source silently drops its tiles from the output (the
    single-node reference would instead fail opening the file,
    mosaic.py:253). One aggregate scan of the blocks table's key columns
    — column pruning keeps the pixel payload unread."""
    expected = footprints.select(
        "media_ref",
        F.explode(F.sequence(F.lit(1), F.col("n_bands"))).alias("band"),
    )
    missing = expected.join(
        blocks.select("media_ref", "band").distinct(),
        on=["media_ref", "band"],
        how="left_anti",
    )
    with named_action(footprints.sparkSession, "moamosaic: block integrity check"):
        got = missing.limit(5).collect()
    if got:
        refs = ", ".join(f"{r.media_ref}/b{r.band}" for r in got)
        raise ValueError(f"blocks table missing pixel data for: {refs} ...")


def check_nullval(value) -> None:
    """The nodata value fills gaps and pads windows, so it is a pixel
    like any other: an integer in [0, 65535]. Raise ValueError naming it
    otherwise — before any plan is built, on every route."""
    v = float(value)
    if not (v.is_integer() and 0 <= v <= PIXEL_MAX):
        raise ValueError(
            f"nullval {value!r} is not a uint16 pixel value "
            f"(an integer in [0, {PIXEL_MAX}])"
        )


def _contributor_chunks(assignments: DataFrame, blocks: DataFrame, src_bs: int) -> DataFrame:
    """Explode each (tile, contributor) to its covering source chunks and
    join the pixel payloads.

    The clamp (mosaic.py:258-263) happens here in column math so only
    chunks inside the source extent are pulled; this is the engine's
    partition-pruning analog — the join keys (media_ref, b_row, b_col)
    push down to the blocks table's partitioning at scale.
    """
    a = assignments.selectExpr(
        "*",
        "greatest(in_top, 0) AS top1",
        "greatest(in_left, 0) AS left1",
        "least(in_top + in_ysize, src_nrows) AS bottom1",
        "least(in_left + in_xsize, src_ncols) AS right1",
    ).where("bottom1 > top1 AND right1 > left1")
    a = a.selectExpr(
        "*",
        f"explode(sequence(CAST(top1 / {src_bs} AS INT), "
        f"CAST((bottom1 - 1) / {src_bs} AS INT))) AS b_row",
    ).selectExpr(
        "*",
        f"explode(sequence(CAST(left1 / {src_bs} AS INT), "
        f"CAST((right1 - 1) / {src_bs} AS INT))) AS b_col",
    )
    joined = a.join(blocks, on=["media_ref", "b_row", "b_col"], how="inner")
    # Clip each chunk to its tile's read rows JVM-side BEFORE the big
    # shuffle (the predicate/projection-pushdown analog of the reference's
    # windowed ReadAsArray, mosaic.py:264): rows are contiguous in the
    # row-major payload, so the clip is ONE codegen'd substr per chunk,
    # and every chunk crosses the shuffle as ONE row. Columns are not
    # clipped: a column clip is strided, and the stitch kernel's clamp
    # (operators/stitch.py _TileFold.add) drops the spare columns on
    # paste. Each row is one Python iteration in the kernel, so rows
    # cost more than the spare bytes: on the bench corpus the shuffle
    # carries 196 rows and 22.0 MB, against 6,312 rows (6,144 of them
    # one-row strips) and 20.4 MB under a per-row strip clip.
    rt = "greatest(b_top, top1)"
    rb = "least(b_top + b_ysize, bottom1)"
    row_clipped = (
        f"substr(pixels, ({rt} - b_top) * b_xsize * {PIXEL_BYTES} + 1, "
        f"({rb} - {rt}) * b_xsize * {PIXEL_BYTES})"
    )
    # chunks inside the tile's rows (the vast majority at production
    # tile sizes) pass through untouched
    untouched = f"({rt} = b_top AND {rb} = b_top + b_ysize)"
    alive = joined.where(
        f"{rb} > {rt} AND least(b_left + b_xsize, right1) > greatest(b_left, left1)"
    )
    # one withColumns: every expression binds to the ORIGINAL chunk
    # geometry columns (sequential withColumn would rebind rt/rb to the
    # already-replaced b_top/b_ysize)
    return alive.withColumns({
        "pixels": F.expr(f"CASE WHEN {untouched} THEN pixels ELSE {row_clipped} END"),
        "b_ysize": F.expr(f"{rb} - {rt}"),
        "b_top": F.expr(rt),
    }).drop("top1", "left1", "bottom1", "right1")


def _with_placeholders(work: DataFrame, tiles: DataFrame, n_bands: int) -> DataFrame:
    """``work`` plus one placeholder row per (band, tile) of ``tiles``:
    the tile's key and geometry, every contributor column null. It makes
    every output (band, tile) a group of the one stitch kernel, so a tile
    no input covers comes out as pure nullval (reference
    mosaic.py:351-359) through the same path as every other tile."""
    placeholders = tiles.selectExpr("*", f"explode(sequence(1, {n_bands})) AS band")
    return work.unionByName(placeholders, allowMissingColumns=True)


def _restrict_tiles(
    df: DataFrame,
    tile_row_range: tuple[int, int] | None = None,
    tile_keys: DataFrame | None = None,
) -> DataFrame:
    """Keep the rows of ``df`` (a tile relation or a work relation)
    inside the half-open ``tile_row_range`` and/or the (tile_row,
    tile_col) set ``tile_keys``. The key set is small by construction
    (a micro-batch's touched tiles), so it is broadcast: the semi-join
    then keeps a bucketed scan's distribution and adds no Exchange."""
    if tile_row_range is not None:
        lo, hi = tile_row_range
        df = df.where(f"tile_row >= {int(lo)} AND tile_row < {int(hi)}")
    if tile_keys is not None:
        keys = tile_keys.select("tile_row", "tile_col").distinct()
        df = df.join(F.broadcast(keys), on=["tile_row", "tile_col"], how="left_semi")
    return df


def _work_relation(
    tiles: DataFrame,
    footprints: DataFrame,
    blocks: DataFrame,
    grid: OutputGrid,
    config: MosaicConfig,
) -> tuple[DataFrame, DataFrame]:
    """(assignments, work) of every route: tiles -> spatial join
    (assign_inputs) -> contributor chunks."""
    assignments = assign_inputs(tiles, footprints, grid, blocksize=config.blocksize)
    return assignments, _contributor_chunks(assignments, blocks, config.src_blocksize)


def _stitch_tail(
    work: DataFrame,
    assignments: DataFrame,
    grid: OutputGrid,
    levels: list,
    config: MosaicConfig,
    blocksize: int,
) -> MosaicResult:
    """The stitch and everything after it, shared by the direct path and
    the relayout path. ``work`` arrives already distributed by its tile
    range ``_rid`` (plans.grid.range_id) — the direct path's one
    Exchange, or a bucketed scan — and holds a placeholder row per
    output (band, tile) (_with_placeholders). Grouping by ``_rid`` too
    lets that distribution satisfy the groupBy, so partition i of the
    stitch output is tile range i: the sinks write it as it is. The one
    stitch kernel folds each group's Arrow batches as they come, so no
    group, however many contributors it has, is held whole."""
    fn = make_stitch_kernel(grid, levels, config.merge_policy, config.blend_feather)
    stitched = work.groupBy("_rid", "band", "tile_row", "tile_col").applyInArrow(
        fn, STITCH_SCHEMA
    )
    return MosaicResult(
        grid=grid,
        levels=levels,
        tiles=stitched.where("level = 0"),
        overviews=stitched.where("level > 0"),
        stats=finalize_stats(stitched),
        assignments=assignments,
        stitched=stitched,
        blocksize=blocksize,
    )


def do_mosaic(
    spark: SparkSession,
    footprints: DataFrame,
    blocks: DataFrame,
    config: MosaicConfig | None = None,
    grid: OutputGrid | None = None,
    tile_row_range: tuple[int, int] | None = None,
    tile_keys: DataFrame | None = None,
) -> MosaicResult:
    """Run the full mosaic dataflow. Returns lazy DataFrames — callers
    trigger execution by writing or collecting.

    ``grid`` pins the output grid explicitly (incremental runs must keep
    tile coordinates stable while footprints accumulate); by default it
    is derived from the footprints via the extent aggregate.

    ``tile_row_range=(lo, hi)`` / ``tile_keys`` restrict the run to a
    subset of output tiles (half-open row range / explicit
    (tile_row, tile_col) key set). The restriction is applied to the
    INPUT tile relation, before the spatial join and the stitch groupBy
    — Catalyst cannot push a filter through FlatMapGroupsInArrow, so
    filtering the kernel's *output* (what resume/incremental previously
    did) re-stitches the entire mosaic and discards most of it. Pruning
    the input side makes a k-of-n batch cost ~1/n of a full run.

    ``blocks`` pixels may be binary (packed uint16) or ``array<int>``;
    the latter is packed once on entry (pixels.ingest)."""
    config = config or MosaicConfig()
    check_merge_policy(config.merge_policy)
    routable = config.relayout_table is not None
    # ONE footprint probe covers validation + grid derivation + the
    # relayout fingerprint
    row = (
        _summary_row(footprints, with_fingerprint=routable)
        if (config.check_projections or grid is None or routable)
        else None
    )
    if config.check_projections:
        _check_projection_row(row)
    return _mosaic_from_row(
        spark, footprints, blocks, config, row, grid, tile_row_range, tile_keys
    )


def _mosaic_from_row(
    spark: SparkSession,
    footprints: DataFrame,
    blocks: DataFrame,
    config: MosaicConfig,
    row,
    grid: OutputGrid | None = None,
    tile_row_range: tuple[int, int] | None = None,
    tile_keys: DataFrame | None = None,
) -> MosaicResult:
    """do_mosaic below its footprint probe: ``row`` is that probe's row
    (_summary_row; with the fingerprint when ``config.relayout_table``
    is set), or None when do_mosaic skipped it. A caller that mosaics
    one corpus in many pruned runs (resumable_mosaic) probes once and
    hands the row to every run, so no run re-probes."""
    blocks = ingest(blocks)
    from .session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    if grid is not None:
        check_nullval(grid.nullval)
    else:
        check_nullval(
            gridmod.require_first(row)["nullval"] if config.nullval is None else config.nullval
        )
    if config.check_blocks:
        validate_blocks(footprints, blocks)

    if config.relayout_table is not None:
        # storage-side fast path; None only on an explicit grid mismatch
        from .sources.relayout import mosaic_via_relayout

        res = mosaic_via_relayout(
            spark, footprints, blocks, config, row, grid, tile_row_range, tile_keys
        )
        if res is not None:
            return res

    if grid is None:
        grid = gridmod.grid_from_row(row, config.nullval)
    levels = (
        overview_levels(grid.nrows, grid.ncols, config.min_overview_size)
        if config.with_overviews
        else []
    )
    tiles = _restrict_tiles(
        make_tile_relation(spark, grid, config.blocksize), tile_row_range, tile_keys
    )
    assignments, work = _work_relation(tiles, footprints, blocks, grid, config)
    # the stitch's ONE Exchange, sized to the cluster: a task per core
    # folds many groups, so the per-task Python set-up is paid
    # ~defaultParallelism times instead of once per shuffle partition.
    # Partition i is tile range i, so the sinks need no exchange.
    n_parts = gridmod.stitch_partitions(spark, grid, config.blocksize, tile_row_range)
    work = _with_placeholders(work, tiles, grid.n_bands).selectExpr(
        "*", gridmod.range_id(grid, config.blocksize, n_parts, tile_row_range)
    )
    return _stitch_tail(
        work.repartition(n_parts, "_rid"), assignments, grid, levels, config,
        config.blocksize,
    )


def write_mosaic(result: MosaicResult, path: str) -> None:
    """Ordered sink (O2/S6): deterministic row-major tile order — the
    distributed form of the reference's strictly ordered single-writer
    loop (mosaic.py:337-375). The stitch's partitions are already its
    contiguous tile ranges in order (plans.grid.range_id), so each sink
    only sorts within a partition and writes: part file i holds tile
    range i, and no sink shuffles. An overview file holds every level
    of its tile range, sorted by (level, band, tile_row, tile_col).

    The stitched relation feeds three sinks (tiles, overviews, stats);
    persisting it makes the scan+join+stitch run ONCE — the single-pass
    stats+pyramids property the reference gained in v1.0.1
    (docs/releasenotes.md:12-15). The sinks do not depend on each other,
    so they run concurrently, one driver thread each, over the persisted
    relation: the block manager lets one task compute each cached block
    while the others wait for it. A failing sink raises here once every
    sink has finished."""
    persisted = result.stitched is not None
    if persisted:
        result.stitched.persist()
    try:
        _run_concurrently(result.tiles.sparkSession, _mosaic_sinks(result, path))
    finally:
        if persisted:
            result.stitched.unpersist()


def _mosaic_sinks(result: MosaicResult, path: str) -> list:
    """The writes of write_mosaic, one callable per output table."""
    sinks = [
        lambda: result.tiles.sortWithinPartitions("band", "tile_row", "tile_col")
        .write.mode("overwrite").parquet(f"{path}/tiles")
    ]
    if result.levels:
        sinks.append(
            lambda: result.overviews.sortWithinPartitions("level", "band", "tile_row", "tile_col")
            .write.mode("overwrite").parquet(f"{path}/overviews")
        )
    sinks.append(
        lambda: result.stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    )
    return sinks


def _run_concurrently(spark: SparkSession, writes: list) -> None:
    """Run ``writes`` on one thread each and raise the first failure (in
    list order) once all have finished. Each thread starts with a copy
    of the caller's job group, description and tags
    (``inheritable_thread_target``), so its jobs are traced and
    cancelled with the caller's; a copy each, because a write sets its
    SQL execution id in its thread's properties."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def inherit(w):
        wrap = inheritable_thread_target(spark)
        # with pinned threads off (PYSPARK_PIN_THREAD=false) there is
        # nothing to copy, and pyspark hands the session back
        return w if wrap is spark else wrap(w)

    with ThreadPoolExecutor(len(writes)) as pool:
        futures = [pool.submit(inherit(w)) for w in writes]
    for f in futures:
        f.result()


def write_derived(
    result: MosaicResult, path: str, products: list[str] | tuple[str, ...]
) -> dict:
    """gdaldem-style derived products from a mosaic result, each
    written as an ordered partitioned table under ``path/<name>``:

    - ``hillshade``: Horn shade 0..255 per pixel (functions/focal.py)
    - ``terrain``: quantized percent slope + D8 flow direction arrays
    - ``basins``: per-cell watershed labels (gid, basin, dist) from
      pointer-doubling flow routing (functions/hydro.py)

    All three derive from ONE terrain/halo computation where possible;
    returns {product: row_count}."""
    from .functions.focal import hillshade, terrain
    from .functions.hydro import d8_edges, flow_basins

    g = result.grid
    t = result.tiles
    if "level" in t.columns:
        t = t.where(F.col("level") == 0)
    tiles = t.select("band", "tile_row", "tile_col", "ysize", "xsize", "pixels")

    unknown = set(products) - {"hillshade", "terrain", "basins"}
    if unknown:
        raise ValueError(f"unknown derived products: {sorted(unknown)}")

    # the configured blocksize (MosaicResult.blocksize): row-0 tiles of a
    # raster one tile-row tall absorb the remainder, so inferring it is a
    # fallback for hand-built results only
    if result.blocksize is not None:
        bs = int(result.blocksize)
    else:
        with named_action(t.sparkSession, "moamosaic: derived blocksize probe"):
            bs = int(t.where(F.col("tile_row") == 0).agg(F.max("ysize")).collect()[0][0])

    out: dict = {}
    terr = None
    if {"terrain", "basins"} & set(products):
        terr = terrain(
            tiles, xres=g.x_res, yres=g.y_res, nullval=int(g.nullval)
        ).localCheckpoint(eager=False)

    spark = tiles.sparkSession
    n = gridmod.stitch_partitions(spark, g, bs)

    def sink(df, name, rid, order):
        # the ranges are cut on the driver (plans.grid): no sampling
        # job, which would compute df once more before its shuffle
        df.selectExpr("*", rid).repartition(n, "_rid").sortWithinPartitions(
            *order
        ).drop("_rid").write.mode("overwrite").parquet(f"{path}/{name}")
        # count from the written files — re-counting df would re-run
        # the whole derived computation
        with named_action(spark, f"moamosaic: derived count {name}"):
            out[name] = spark.read.parquet(f"{path}/{name}").count()

    key = ["band", "tile_row", "tile_col"]
    tile_rid = gridmod.range_id(g, bs, n)
    for p in products:
        if p == "hillshade":
            sink(hillshade(tiles, xres=g.x_res, yres=g.y_res,
                           nullval=int(g.nullval)), p, tile_rid, key)
        elif p == "terrain":
            sink(terr, p, tile_rid, key)
        elif p == "basins":
            edges = d8_edges(terr, g_ncols=int(g.ncols), blocksize=bs)
            cells = g.nrows * g.ncols
            sink(flow_basins(edges).where(F.col("is_cell")).select(
                "band", "gid", "basin", "dist"), p,
                gridmod.dense_range_id(
                    f"(CAST(band AS BIGINT) - 1) * {cells} + gid", g.n_bands * cells, n),
                ["band", "gid"])
    return out
