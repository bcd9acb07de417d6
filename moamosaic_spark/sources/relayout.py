"""Tile-aligned relayout — the storage-side scale optimization.

The mosaic's one wide shuffle moves every contributing pixel into its
(band, tile) group. When the same corpus is stitched repeatedly —
different merge policies, incremental re-merges, pyramid rebuilds,
resumed runs — that shuffle can be paid ONCE: materialize the
join+clip output ("work relation") as a table **bucketed by its tile
range** ``_rid`` (plans.grid.range_id): bucket i holds the i-th
contiguous range of the row-major (band, tile_row, tile_col) order.
The stitch groups by ``_rid`` too, so Spark's bucketed scan satisfies
the grouped-map operator's ClusteredDistribution directly: the stitch
plan contains NO Exchange (verified in tests; only an in-partition Sort
remains), and its partition i, tile range i, is what the sinks write.

This is the table-world analog of pre-tiled raster inputs, and the
concrete form of "partition the storage by spatial cell" from BENCH.md.
By default the table has one bucket per core (plans.grid.stitch_partitions),
as the direct stitch's shuffle has one partition per core: each stitch
task pays a fixed Python-worker set-up, so a bucket per core is the
cheapest shape until the bytes per bucket bound it.

Measured (perfbench, local[4] on 4 vCPUs, 10 seed pairs, median
seconds per mosaic + sinks): stitching off this table takes 4.7 s
(``mosaic_repeat``) against 6.0 s for the direct path with its shuffle
(``mosaic_cold``). With the former fixed 128 buckets it took 9.8 s, and
the direct path 6.5 s: most buckets were empty, and each non-empty
one paid the Python set-up for one or two tiles.
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..monitoring import named_action
from ..mosaic import (
    MosaicConfig, MosaicResult, _restrict_tiles, _stitch_tail, _with_placeholders,
    _work_relation, check_nullval,
)
from ..pixels import PIXEL_TYPE, ingest
from ..plans.grid import (
    OutputGrid, grid_from_row, make_output_grid, make_tile_relation, overview_levels,
    range_id, stitch_partitions,
)
from ..schema import FOOTPRINTS_SCHEMA


def fingerprint_agg_cols() -> list[str]:
    """The two aggregate columns of the catalog fingerprint, as SQL
    expressions, exposed so do_mosaic can fold them into its single
    footprint probe (one collect for validation + extent + fingerprint
    instead of three — guide §5: the driver should do almost no data
    work, and every collect is a full driver round trip)."""
    cols = [
        "media_ref", "priority", "x0", "y0", "x_res", "y_res",
        "ncols", "nrows", "n_bands", "dtype", "nullval", "projection",
    ]
    h = "md5(concat_ws('|', {}))".format(", ".join(f"CAST({c} AS STRING)" for c in cols))
    return [
        "count(*) AS _fp_n",
        f"sum(CAST(conv(substring({h}, 1, 14), 16, 10) AS DECIMAL(38,0))) AS _fp_s",
    ]


def footprints_fingerprint(footprints: DataFrame, row=None) -> str:
    """Order-independent fingerprint of a footprint catalog: row count
    plus the sum of a per-row md5 prefix over every geometry- and
    priority-bearing column. One tiny aggregate over the dim table
    (or zero, when the caller hands in an already-collected summary
    ``row`` carrying the fingerprint_agg_cols aliases); lets do_mosaic
    prove a relayout table holds EXACTLY the corpus it was asked to
    mosaic before trusting the stored layout."""
    if row is None:
        row = footprints.selectExpr(*fingerprint_agg_cols()).collect()[0]
    return f"{row['_fp_n']}:{row['_fp_s']}"


def relayout_to_table(
    spark: SparkSession,
    footprints: DataFrame,
    blocks: DataFrame,
    table: str,
    config: MosaicConfig | None = None,
    n_buckets: int | None = None,
    grid: OutputGrid | None = None,
    fingerprint: str | None = None,
) -> OutputGrid:
    """Materialize the tile-aligned work relation as a bucketed table
    (pays the wide shuffle once), with one placeholder row per (band,
    tile) of the grid (mosaic._with_placeholders). Also stores the
    output grid + config in ``<table>_meta`` so later stitches
    reconstruct the exact plan.
    ``grid``/``fingerprint`` let a caller that already aggregated the
    footprint dim table (do_mosaic's summary pass) skip re-collecting
    it. ``n_buckets`` defaults to ``config.relayout_buckets``, else to
    the direct stitch's partition count (_bucket_count). ``array<int>``
    blocks are packed once on entry (pixels.ingest)."""
    config = config or MosaicConfig()
    blocks = ingest(blocks)
    if fingerprint is None:
        fingerprint = footprints_fingerprint(footprints)
    from ..session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    if grid is None:
        grid = make_output_grid(footprints, config.nullval)
    check_nullval(grid.nullval)
    n_buckets = _bucket_count(spark, grid, config, n_buckets)
    tiles = make_tile_relation(spark, grid, config.blocksize)
    _, work = _work_relation(tiles, footprints, blocks, grid, config)
    for t in (table, f"{table}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _drop_stale_location(spark, t)
    work = _with_placeholders(work, tiles, grid.n_bands)
    _write_bucketed(_with_range_id(work, grid, config.blocksize, n_buckets), table,
                    n_buckets, "overwrite")
    _write_meta(spark, table, grid, config, n_buckets, fingerprint)
    return grid


def _with_range_id(work: DataFrame, grid: OutputGrid, blocksize: int, n_buckets: int):
    """``work`` plus its tile range ``_rid`` among ``n_buckets`` ranges
    of the whole grid (plans.grid.range_id): the bucket key."""
    return work.selectExpr("*", range_id(grid, blocksize, n_buckets))


def _write_bucketed(work: DataFrame, table: str, n_buckets: int, mode: str) -> None:
    """Write work rows (with their ``_rid``, _with_range_id) into
    ``table`` bucketed by ``_rid`` and sorted by it and the stitch group
    keys. Repartition on the bucket key first: without it every write
    task holds rows of most buckets and emits one file per (task,
    bucket) pair — hundreds of tiny files whose create/commit overhead
    dominates the build and whose open overhead taxes every later
    bucketed scan (guide §6: small files hurt twice). Hash-partitioned
    n_buckets ways, each task writes exactly its own bucket: n_buckets
    files total."""
    (
        work.repartition(n_buckets, "_rid")
        .write.mode(mode)
        .bucketBy(n_buckets, "_rid")
        .sortBy("_rid", "band", "tile_row", "tile_col")
        .saveAsTable(table)
    )


def _bucket_count(
    spark: SparkSession, grid: OutputGrid, config: MosaicConfig, n_buckets: int | None
) -> int:
    """An explicit count wins, then ``config.relayout_buckets``; else one
    bucket per core (plans.grid.stitch_partitions). The stitch off the
    table runs one task per bucket, and each task that reaches the
    kernel pays a fixed Python-worker set-up, so the count that sizes
    the direct stitch's shuffle sizes the table too."""
    if n_buckets is None:
        n_buckets = config.relayout_buckets
    if n_buckets is None:
        n_buckets = stitch_partitions(spark, grid, config.blocksize)
    return n_buckets


def _write_meta(
    spark: SparkSession, table: str, grid: OutputGrid, config: MosaicConfig,
    n_buckets: int, fingerprint: str | None = None,
) -> dict:
    """Store and return the meta: a corpus table (relayout_to_table)
    carries its fingerprint, a stream table (ensure_relayout_table) None."""
    meta = dict(
        x_min=grid.x_min, y_max=grid.y_max, x_res=grid.x_res, y_res=grid.y_res,
        ncols=grid.ncols, nrows=grid.nrows, n_bands=grid.n_bands,
        nullval=grid.nullval, dtype=grid.dtype, projection=grid.projection,
        blocksize=config.blocksize, min_overview_size=config.min_overview_size,
        n_buckets=n_buckets, src_blocksize=config.src_blocksize,
        fingerprint=fingerprint, placeholders=True, range_buckets=True,
    )
    spark.createDataFrame([(json.dumps(meta),)], "meta string").write.mode(
        "overwrite"
    ).saveAsTable(f"{table}_meta")
    return meta


def _table_location(spark: SparkSession, table: str) -> str | None:
    """Filesystem path where a managed table's files live (or would
    live), resolved through the CATALOG's database location — never by
    string-pasting ``<warehouse>/<name>``: Spark stores ``db.tbl`` at
    ``<warehouse>/<db>.db/<tbl>``, so the paste would miss surviving
    files after a restart, create a fresh empty table, and (with the
    seen-refs checkpoint still marking old batches seen) silently drop
    their work rows from every later stitch. Returns None when the
    database is unknown to this catalog or its location is not a local
    filesystem (a real catalog survives restarts, so the re-register
    path is moot there)."""
    from urllib.parse import urlparse

    parts = table.lower().split(".")
    if len(parts) > 1 and parts[0] == "spark_catalog":
        parts = parts[1:]
    if len(parts) == 1:
        db, tbl = spark.catalog.currentDatabase().lower(), parts[0]
    elif len(parts) == 2:
        db, tbl = parts
    else:
        return None
    try:
        db_loc = spark.catalog.getDatabase(db).locationUri
    except Exception:
        return None  # database unknown to this (restarted) catalog
    p = urlparse(db_loc)
    if p.scheme in ("", "file"):
        return f"{p.path or db_loc}/{tbl}"
    return None


def _reregister_relayout(spark: SparkSession, table: str, loc: str) -> None:
    """Re-attach a relayout table whose files survived a session restart
    (the default in-memory catalog forgets managed tables; the warehouse
    directory does NOT — deleting it would silently lose every
    pre-restart batch's work rows). Recreates the missing catalog entries
    over the existing files, bucket spec from the surviving meta json."""
    meta_loc = f"{loc}_meta"
    with named_action(spark, f"moamosaic: relayout meta {table} (files)"):
        m = json.loads(spark.read.parquet(meta_loc).collect()[0].meta)
    if not spark.catalog.tableExists(f"{table}_meta"):
        spark.sql(
            f"CREATE TABLE {table}_meta (meta string) USING parquet "
            f"LOCATION '{os.path.abspath(meta_loc)}'"
        )
    if spark.catalog.tableExists(table):
        return
    df = spark.read.parquet(loc)
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    nb = int(m.get("n_buckets", 64))
    # an older layout keeps its own bucket spec: _current then rejects it
    keys = ["band", "tile_row", "tile_col"]
    by, order = (["_rid"], ["_rid", *keys]) if m.get("range_buckets") else (keys, keys)
    spark.sql(
        f"CREATE TABLE {table} ({ddl}) USING parquet "
        f"CLUSTERED BY ({', '.join(by)}) "
        f"SORTED BY ({', '.join(order)}) INTO {nb} BUCKETS "
        f"LOCATION '{os.path.abspath(loc)}'"
    )


def ensure_relayout_table(
    spark: SparkSession,
    table: str,
    grid: OutputGrid,
    blocks: DataFrame,
    config: MosaicConfig,
    n_buckets: int | None = None,
) -> dict:
    """Return the meta of the stream table ``table``, first created
    pinned to ``grid`` if it does not exist yet, holding only the
    placeholder row of every (band, tile) — the incremental mosaic
    (process_batch, ``config.relayout_table``) appends each micro-batch's
    work rows into it (relayout_append) and stitches touched tiles with
    no Exchange. The schema is derived from a zero-row run of the
    join+clip plan over ``blocks``. The bucket count defaults as in
    relayout_to_table.

    Files that survived a session restart are re-attached (_attach),
    never truncated: they are the accumulated incremental state, and
    the seen-refs checkpoint would prevent re-appending them. An
    existing table that is a corpus table (relayout_to_table), of an
    older version, or pinned to another grid or blocksize raises a
    ValueError: the touched keys and the stitch would use other tilings."""
    if _attach(spark, table):
        m = _load_meta(spark, table)
        if not _current(spark.table(table), m):
            raise ValueError(_older_version(table))
        if (m.get("fingerprint") is not None or _grid_from_meta(m) != grid
                or int(m["blocksize"]) != config.blocksize):
            raise ValueError(
                f"relayout table {table!r} is not this stream's: it holds a corpus "
                "(relayout_to_table) or another grid or blocksize"
            )
        return m
    tiles = make_tile_relation(spark, grid, config.blocksize)
    no_footprints = spark.createDataFrame([], FOOTPRINTS_SCHEMA)
    _, empty = _work_relation(tiles, no_footprints, ingest(blocks).limit(0), grid, config)
    n_buckets = _bucket_count(spark, grid, config, n_buckets)
    empty = _with_placeholders(empty, tiles, grid.n_bands)
    _write_bucketed(_with_range_id(empty, grid, config.blocksize, n_buckets), table,
                    n_buckets, "overwrite")
    return _write_meta(spark, table, grid, config, n_buckets)


def relayout_append(
    spark: SparkSession,
    footprints_new: DataFrame,
    blocks: DataFrame,
    table: str,
    config: MosaicConfig | None = None,
) -> None:
    """Append the work rows of NEW footprints into an existing bucketed
    relayout table (same grid, tiling, chunk size and bucket spec — from
    the table meta, which fixes each row's ``_rid`` and overrides
    ``config``'s blocksize and src_blocksize). Replaying an append
    after a crash duplicates rows; the stitch folds a chunk once per
    (priority, b_top, b_left), so every merge policy is idempotent under
    duplicates and resume semantics hold — compact by re-running
    relayout_to_table when growth matters."""
    m = _load_meta(spark, table)
    grid = _grid_from_meta(m)
    config = dataclasses.replace(
        config or MosaicConfig(), blocksize=int(m["blocksize"]),
        src_blocksize=int(m.get("src_blocksize", 256)),
    )
    tiles = make_tile_relation(spark, grid, config.blocksize)
    _, work = _work_relation(tiles, footprints_new, ingest(blocks), grid, config)
    n_buckets = int(m.get("n_buckets", 64))
    _write_bucketed(_with_range_id(work, grid, config.blocksize, n_buckets), table,
                    n_buckets, "append")


def _drop_stale_location(spark: SparkSession, table: str) -> None:
    """A managed table's files outlive the in-memory session catalog;
    a fresh session's DROP TABLE then leaves a stale location that
    blocks re-creation (LOCATION_ALREADY_EXISTS). Local warehouses only
    — object-store warehouses use a real persistent catalog."""
    import shutil

    loc = _table_location(spark, table)
    if loc is not None:
        shutil.rmtree(loc, ignore_errors=True)


def _load_meta(spark: SparkSession, table: str) -> dict:
    with named_action(spark, f"moamosaic: relayout meta {table}"):
        return json.loads(spark.table(f"{table}_meta").collect()[0].meta)


def _attach(spark: SparkSession, table: str) -> bool:
    """Whether ``table`` and its meta are in the catalog, re-registered
    here (_reregister_relayout) when only their files survived a
    session restart. False when there are no such files; raises when
    there are but they cannot be re-attached."""
    if spark.catalog.tableExists(table) and spark.catalog.tableExists(f"{table}_meta"):
        return True
    loc = _table_location(spark, table)
    if loc is None or not (os.path.isdir(loc) and os.listdir(loc)):
        return False
    _reregister_relayout(spark, table, loc)
    return True


def _current(work: DataFrame, meta: dict) -> bool:
    """Whether a relayout table has this version's layout — a schema
    and meta read, no job: packed pixels (tables built from
    ``array<int>`` blocks by older versions hold none), a placeholder
    row per (band, tile) (the meta's ``placeholders`` mark; without
    those rows a tile no input covers would be missing) and buckets
    that are tile ranges (the ``range_buckets`` mark; buckets hashed on
    the tile key would need an Exchange before the ordered sinks)."""
    return (
        meta.get("placeholders") is True
        and meta.get("range_buckets") is True
        and work.schema["pixels"].dataType == PIXEL_TYPE
    )


def _grid_from_meta(m: dict) -> OutputGrid:
    return OutputGrid(
        x_min=m["x_min"], y_max=m["y_max"], x_res=m["x_res"], y_res=m["y_res"],
        ncols=m["ncols"], nrows=m["nrows"], n_bands=m["n_bands"],
        nullval=m["nullval"], dtype=m["dtype"], projection=m["projection"],
    )


def mosaic_via_relayout(
    spark: SparkSession,
    footprints: DataFrame,
    blocks: DataFrame,
    config: MosaicConfig,
    row,
    grid: OutputGrid | None = None,
    tile_row_range: tuple[int, int] | None = None,
    tile_keys: DataFrame | None = None,
) -> MosaicResult | None:
    """The relayout routing of do_mosaic and resumable_mosaic
    (config.relayout_table; ``row`` is their footprint probe,
    mosaic._summary_row, with the fingerprint).

    Stitches off the bucketed table when it provably holds this exact
    corpus (footprint fingerprint + tiling geometry match); (re)builds
    the table first when it is absent or stale — that one call is
    eager, every later call is the zero-Exchange repeated-run path
    (stitch_from_relayout); a resumable run's first batch builds the
    whole grid's table. Returns None when routing cannot apply (caller
    pinned an explicit ``grid`` the table was not built for — the
    direct dataflow handles it; an auto-build would derive its own grid
    and silently diverge). A stream table (ensure_relayout_table) raises
    a ValueError: a rebuild would drop its accumulated rows."""
    table = config.relayout_table
    fingerprint = footprints_fingerprint(footprints, row=row)
    try:
        attached = _attach(spark, table)
    except Exception:  # unreadable leftovers: rebuilt below
        attached = False
    if attached:
        m, src = _load_meta(spark, table), spark.table(table)
        if m.get("fingerprint") is None:
            raise ValueError(f"relayout table {table!r} is a stream table "
                             "(ensure_relayout_table): a rebuild would drop its rows")
        if (
            m["fingerprint"] == fingerprint
            and int(m["blocksize"]) == config.blocksize
            and int(m.get("src_blocksize", 256)) == config.src_blocksize
            and int(m["min_overview_size"]) == config.min_overview_size
            and (grid is None or _grid_from_meta(m) == grid)
            and _current(src, m)
        ):
            return _stitch_table(src, m, config, tile_row_range, tile_keys)
    if grid is not None:
        return None
    relayout_to_table(
        spark, footprints, blocks, table, config,
        grid=grid_from_row(row, config.nullval), fingerprint=fingerprint,
    )
    return stitch_from_relayout(
        spark, table, config, tile_row_range=tile_row_range, tile_keys=tile_keys
    )


def _older_version(table: str) -> str:
    return (f"relayout table {table!r} was built by an older version (array<int> "
            "pixels, no placeholder rows or no tile-range buckets); rebuild it")


def stitch_from_relayout(
    spark: SparkSession,
    table: str,
    config: MosaicConfig | None = None,
    tile_row_range: tuple[int, int] | None = None,
    tile_keys: DataFrame | None = None,
) -> MosaicResult:
    """Stitch straight off the bucketed work table — no join, no
    Exchange. ``config`` supplies merge_policy/blend_feather/
    with_overviews; the grid and tiling geometry come from the relayout
    metadata.

    ``tile_row_range=(lo, hi)`` restricts the stitch to a tile-row
    range; the predicate lands in the bucketed SCAN (PushedFilters), so
    a resumable batch off a relayout reads only its own rows AND skips
    the shuffle — the cheapest possible re-stitch, also for a caller
    without the corpus at hand. ``tile_keys`` (small DataFrame of
    (tile_row, tile_col)) restricts to an explicit tile set via a
    broadcast semi-join, which preserves the bucketed distribution —
    the incremental path's touched-tile re-stitch."""
    config = config or MosaicConfig()
    src = spark.table(table)
    m = _load_meta(spark, table)
    if not _current(src, m):
        raise ValueError(_older_version(table))
    return _stitch_table(src, m, config, tile_row_range, tile_keys)


def _stitch_table(
    src: DataFrame,
    m: dict,
    config: MosaicConfig,
    tile_row_range: tuple[int, int] | None,
    tile_keys: DataFrame | None,
) -> MosaicResult:
    """stitch_from_relayout's plan over the table ``src`` and its
    already-read meta ``m``: no action."""
    from ..session import ensure_workers_can_import

    ensure_workers_can_import(src.sparkSession)
    grid = _grid_from_meta(m)
    levels = (
        overview_levels(grid.nrows, grid.ncols, int(m["min_overview_size"]))
        if config.with_overviews
        else []
    )
    # the bucketed scan already distributes by tile range: no Exchange
    work = _restrict_tiles(src, tile_row_range, tile_keys)
    assignments = (
        work.where("media_ref IS NOT NULL")
        .select("tile_row", "tile_col", "media_ref", "priority")
        .distinct()
    )
    return _stitch_tail(work, assignments, grid, levels, config, int(m["blocksize"]))
