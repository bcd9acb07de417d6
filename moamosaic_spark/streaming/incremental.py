"""Structured-Streaming wrapper: incremental mosaic over a stream of
interleaved documents.

The reference is strictly batch (its queue is an intra-run pipe, not an
event stream — SURVEY.md §2.7), but a 10^12-doc corpus arrives
incrementally. This wrapper consumes a document stream with
``foreachBatch``; each micro-batch:

1. extracts the batch's media refs (posexplode, kind='media') and drops
   the already-seen ones FIRST,
2. assigns the survivors densely increasing priorities continuing from
   max(priority)+1 of the state table (global arrival order —
   preserving the reference's filelist-order merge semantics across
   batches; computing the offset from a row COUNT would collide after
   any batch that mixed seen and unseen refs),
3. computes which output tiles the NEW footprints touch (the same
   spatial join, on the new refs only) and re-stitches exactly those
   tiles from ALL sources seen so far — the touched-tile set is pushed
   into ``do_mosaic(tile_keys=...)`` so the pruning happens on the
   INPUT side of the stitch kernel (a filter above FlatMapGroupsInArrow
   would re-stitch the entire mosaic every micro-batch),
4. dynamic-partition-overwrites the touched tiles in the sink, and only
   THEN commits the new refs to the footprints-seen state table — a
   batch that dies between the two replays in full (state unchanged →
   same refs, same priorities, identical bytes rewritten); committing
   state first would make a mid-batch failure permanently drop tiles.

Recomputing touched tiles from cumulative state (instead of merging
deltas in place) keeps every micro-batch idempotent — a replayed batch
writes identical bytes, so exactly-once sinks aren't needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..mosaic import MosaicConfig, do_mosaic
from ..plans.spatial_join import assign_inputs
from ..sources.docs import dense_global_rank, media_first_seen
from .lineage import read_parquet_if_exists as _read_parquet_if_exists


# The sink's partition count: a touched-tile rewrite replaces a whole
# `part=` partition (part = tile_row mod SINK_PARTS), so each partition
# holds ~1/SINK_PARTS of the mosaic (an Iceberg MERGE sink removes the
# trade-off).
SINK_PARTS = 16


def _state_path(out_path: str) -> str:
    return f"{out_path}/footprints_seen"


def _check_sink_parts(spark: SparkSession, out_path: str) -> None:
    """The sink partition modulus is GEOMETRY: tile_row 7 lives in
    part=7 at a modulus of 16 but part=2 at 5, and the merge emulation
    only rewrites partitions present in the current batch — resuming a
    sink written with another modulus would leave the old copies as
    stale duplicates. Persist SINK_PARTS on first write and refuse a
    sink that records another (rebuild it to resume)."""
    path = f"{out_path}/_sink_meta"
    meta = _read_parquet_if_exists(spark, path)
    if meta is None:
        spark.createDataFrame(
            [(SINK_PARTS,)], "sink_parts int"
        ).write.mode("overwrite").parquet(path)
        return
    prev = meta.collect()[0].sink_parts
    if int(prev) != SINK_PARTS:
        raise ValueError(
            f"sink at {out_path} was written with sink_parts={int(prev)}; "
            f"resuming with sink_parts={SINK_PARTS} would strand stale "
            "tile copies in the old part= partitions — rebuild the sink"
        )


def _rewrite_parts(spark: SparkSession, path: str, rows: DataFrame, keys: DataFrame) -> None:
    """Row-level MERGE emulation over a `part=`-partitioned parquet sink
    (an Iceberg sink does this natively): write ``rows`` (the new
    versions of the (tile_row, tile_col) ``keys``) and rewrite only the
    partitions they land in, carrying over those partitions' other
    rows. Dynamic partition overwrite alone would drop untouched tiles
    that share a partition with touched ones.

    ``rows`` (a stitch) is computed once, up front: the range
    partitioner's sampling job, the shuffle below it and the ``part``
    set of the carried-over rows would each run its plan again."""
    rows = rows.localCheckpoint(eager=True)
    existing = _read_parquet_if_exists(spark, path)
    if existing is not None:
        keep = existing.join(keys, on=["tile_row", "tile_col"], how="left_anti").join(
            rows.select("part").distinct(), on="part", how="left_semi"
        )
        # materialize before overwriting the path we just read from
        rows = rows.unionByName(keep.select(*rows.columns)).localCheckpoint(eager=True)
    (
        rows.repartitionByRange("band", "tile_row", "tile_col")
        .sortWithinPartitions("band", "tile_row", "tile_col")
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(path)
    )


def read_seen(spark: SparkSession, out_path: str) -> DataFrame | None:
    return _read_parquet_if_exists(spark, _state_path(out_path))


def _dilate_keys(keys: DataFrame) -> DataFrame:
    """The 3x3 tile-neighborhood of a (tile_row, tile_col) key set."""
    o = F.array(*[
        F.struct(F.lit(a).alias("dr"), F.lit(b).alias("dc"))
        for a in (-1, 0, 1) for b in (-1, 0, 1)
    ])
    return keys.select(
        "tile_row", "tile_col", F.explode(o).alias("o")
    ).select(
        (F.col("tile_row") + F.col("o.dr")).alias("tile_row"),
        (F.col("tile_col") + F.col("o.dc")).alias("tile_col"),
    ).where(
        (F.col("tile_row") >= 0) & (F.col("tile_col") >= 0)
    ).distinct()


def _update_derived_focal(spark, out_path, touched, grid) -> int:
    """Incrementally maintain a derived hillshade product: a focal
    output tile depends only on its 3x3 tile neighborhood, so the
    invalidation ring of a batch is touched ⊕ 1 and its recompute
    reads touched ⊕ 2 from the cumulative tile sink written just
    above (halos included). Runs BEFORE the state commit: a replayed
    batch recomputes the same ring from the same sink — identical
    bytes, same idempotence contract as the tile sink itself.

    First activation on a sink with prior batches (no derived product
    on disk yet) BACKFILLS the full raster instead of just the ring —
    otherwise tiles from earlier batches that are never re-touched
    would be missing from the product forever."""
    from ..functions.focal import hillshade

    path = f"{out_path}/hillshade"
    existing = _read_parquet_if_exists(spark, path)
    sink = spark.read.parquet(f"{out_path}/tiles")
    if existing is None:
        ring = sink.select("tile_row", "tile_col").distinct()
        need = ring
    else:
        ring = _dilate_keys(touched)
        need = _dilate_keys(ring)
    inp = sink.join(need, ["tile_row", "tile_col"], "left_semi").select(
        "band", "tile_row", "tile_col", "ysize", "xsize", "pixels"
    )
    hs = hillshade(
        inp, xres=float(grid.x_res), yres=float(grid.y_res),
        nullval=int(grid.nullval),
    )
    recomputed = hs.join(ring, ["tile_row", "tile_col"], "left_semi").withColumn(
        "part", F.pmod(F.col("tile_row"), F.lit(SINK_PARTS))
    )
    _rewrite_parts(spark, path, recomputed, ring)
    # report RECOMPUTED hillshade tiles only, counted from the written
    # files: a rewritten `part=` partition also carries untouched rows,
    # which would overstate the per-batch derived work
    return spark.read.parquet(path).join(ring, ["tile_row", "tile_col"], "left_semi").count()


def process_batch(
    batch_docs: DataFrame,
    batch_id: int,
    spark: SparkSession,
    footprint_meta: DataFrame,
    blocks: DataFrame,
    out_path: str,
    config: MosaicConfig,
    sink_table: str | None = None,
    derived_focal: bool = False,
) -> dict:
    """One micro-batch of the incremental mosaic (foreachBatch body).

    ``config.relayout_table``: accumulate each batch's work rows in a
    bucketed stream table (sources/relayout.py) and stitch the touched
    tiles off it with NO Exchange — the wide shuffle is paid once per
    NEW pixel, never re-paid when later batches re-stitch a touched tile
    from all sources seen so far. The table is created on first use,
    pinned to the full-catalog grid; a table of another kind, grid or
    blocksize raises (ensure_relayout_table). A crash-replayed batch
    re-appends its rows; the stitch is idempotent under duplicate
    contributor rows (same priority run re-pastes the same pixels)."""
    if derived_focal and sink_table is not None:
        # the derived product reads its inputs back from the parquet
        # tile sink, which the native Iceberg MERGE path does not
        # write — combining the two would compute hillshade from a
        # stale or absent snapshot. Loud gate until the derived
        # product also routes through the catalog (catalog.py seam).
        raise ValueError(
            "derived_focal reads the parquet tile sink; it cannot be "
            "combined with sink_table (native catalog MERGE) yet"
        )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _check_sink_parts(spark, out_path)

    # drop already-seen refs BEFORE assigning priorities (count-based
    # offsets collide after any batch mixing seen and unseen refs), and
    # rank ONCE, after the anti-join — the rank is the expensive
    # two-job step on this hot path.
    firsts = media_first_seen(batch_docs)
    seen = read_seen(spark, out_path)
    offset = 0
    if seen is not None:
        firsts = firsts.join(
            seen.select("media_ref"), on="media_ref", how="left_anti"
        )
        max_p = seen.agg(F.max("priority")).collect()[0][0]
        offset = 0 if max_p is None else int(max_p) + 1
    new_refs = dense_global_rank(firsts, "first_seen", "priority")
    new_fp = (
        new_refs.withColumn(
            "priority", (F.col("priority") + F.lit(offset)).cast("int")
        )
        .join(footprint_meta.drop("priority"), on="media_ref", how="inner")
    )
    # freeze the batch's footprints: they feed the mosaic, the touched-
    # tile join AND (after the sink write succeeds) the state append.
    new_fp = new_fp.localCheckpoint(eager=True)
    n_new = new_fp.count()
    if n_new == 0:
        return {"batch_id": batch_id, "new_refs": 0, "tiles_written": 0,
                "derived_tiles": 0}

    all_fp = new_fp if seen is None else seen.unionByName(new_fp)

    # The output grid is pinned from the FULL footprint catalog (known
    # upfront), not the cumulative-seen subset: a later footprint
    # extending the extent west/north would otherwise shift every
    # existing tile's (tile_row, tile_col).
    from ..plans.grid import make_output_grid, make_tile_relation

    grid = make_output_grid(footprint_meta, config.nullval)
    # touched tiles: the spatial join over the NEW footprints only —
    # small, and it feeds do_mosaic(tile_keys=...) so the full run's
    # tile relation is pruned BELOW the stitch kernel.
    tiles_rel = make_tile_relation(spark, grid, config.blocksize)
    touched = (
        assign_inputs(tiles_rel, new_fp, grid, blocksize=config.blocksize)
        .select("tile_row", "tile_col")
        .distinct()
    )
    table = config.relayout_table
    if table is not None:
        from ..sources.relayout import _stitch_table, ensure_relayout_table, relayout_append

        m = ensure_relayout_table(spark, table, grid, blocks, config)
        relayout_append(spark, new_fp, blocks, table, config)
        # stitch_from_relayout on the meta read above
        res = _stitch_table(spark.table(table), m, config, None, touched)
    else:
        res = do_mosaic(spark, all_fp, blocks, config, grid=grid, tile_keys=touched)
    out_tiles = res.tiles.withColumn("part", F.pmod(F.col("tile_row"), F.lit(SINK_PARTS)))

    # Sink routing (catalog.py seam): with ``sink_table`` set AND the
    # Iceberg runtime on the classpath, the touched tiles go through a
    # real row-level MERGE INTO and the parquet emulation is skipped.
    # Jars absent or sink_table unset: the emulation (_rewrite_parts)
    # runs — identical results, partition rewrites instead of
    # row-level commits.
    merged_natively = False
    if sink_table is not None:
        from ..catalog import merge_touched_tiles

        merged_natively = merge_touched_tiles(spark, out_tiles, sink_table)
    if not merged_natively:
        _rewrite_parts(spark, f"{out_path}/tiles", out_tiles, touched)
    # every (band, touched tile) is one group of the stitch (its
    # placeholder row), so the small key set counts the tiles written
    # without running the stitch again for a count()
    n = touched.count() * grid.n_bands
    n_derived = 0
    if derived_focal:
        n_derived = _update_derived_focal(spark, out_path, touched, grid)
    # State commit LAST: only once the tiles (and any derived product)
    # are durably in the sink do the batch's refs count as seen. A
    # failure anywhere above replays the whole batch (state unchanged
    # -> identical recompute).
    new_fp.write.mode("append").parquet(_state_path(out_path))
    return {
        "batch_id": batch_id, "new_refs": n_new, "tiles_written": n,
        "derived_tiles": n_derived,
    }


def incremental_mosaic_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    footprint_meta: DataFrame,
    blocks: DataFrame,
    out_path: str,
    config: MosaicConfig | None = None,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
    sink_table: str | None = None,
    derived_focal: bool = False,
):
    """Wire a streaming documents DataFrame into the incremental mosaic.

    ``docs_stream`` is a streaming DF with the documents schema (e.g.
    ``spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(dir)``).
    ``config.relayout_table`` routes each batch through a bucketed
    stream table (see process_batch). ``sink_table`` names a catalog
    table for the tile sink: with the Iceberg runtime present each
    batch commits via MERGE INTO; absent, the parquet emulation at
    ``out_path`` is used regardless (catalog.py capability probe).
    Returns the StreamingQuery.
    """
    config = config or MosaicConfig()
    checkpoint = checkpoint or f"{out_path}/_checkpoint"

    def fb(batch_docs: DataFrame, batch_id: int) -> None:
        process_batch(
            batch_docs, batch_id, spark, footprint_meta, blocks, out_path, config,
            sink_table=sink_table, derived_focal=derived_focal,
        )

    writer = docs_stream.writeStream.foreachBatch(fb).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
