"""Output-grid planning: extent aggregate, remainder-absorbing tiling,
overview-level plan, and hierarchical cell indexing.

Replicates, as declarative Spark relations:

* global extent aggregate      — ref /root/reference/moamosaic/mosaic.py:429-456
* block decomposition (tiling) — ref mosaic.py:459-487 (the ``blocksize//4``
  remainder-absorption rule is replicated exactly; see :func:`n_blocks`)
* overview-level plan          — ref mosaic.py:646-658
* tile cover                   — a shape exploded to the (tile_row,
  tile_col) keys its bounds cover, the equi-join key of the spatial join
  and of the rasterize burn (the reference's join is a nested loop,
  mosaic.py:501-535)
* cell index                   — S2/H3-style Morton/Z-order cell ids

Everything here is pure column arithmetic — no UDFs, fully
whole-stage-codegen'd, and the tile relation is generated distributed via
``spark.range`` so a 100 TB mosaic's tile table never materializes on the
driver.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pixels import PIXEL_BYTES


@dataclass(frozen=True)
class OutputGrid:
    """Analog of the reference's output ImageInfo (mosaic.py:429-456)."""

    x_min: float
    y_max: float
    x_res: float
    y_res: float
    ncols: int
    nrows: int
    n_bands: int
    nullval: float
    dtype: str
    projection: str

    @property
    def transform(self) -> tuple:
        # GDAL-convention geotransform of the output grid
        return (self.x_min, self.x_res, 0.0, self.y_max, 0.0, -self.y_res)


def sql_double(x) -> str:
    """``x`` as a Spark SQL double literal (a bare ``1.5`` parses as a
    decimal): the same value ``F.lit(float(x))`` carries."""
    return f"{float(x)!r}D"


# the priority-first input's struct (ref mosaic.py:442-455)
FIRST = "min_by(struct(projection, x_res, y_res, x0, y0, n_bands, nullval, dtype), priority)"


def extent_cols(first: str = FIRST) -> list[str]:
    """The global extent aggregate (A1) plus the priority-first input's
    struct ``first``, as SQL aggregate expressions — so a caller
    (do_mosaic's one footprint probe) can fold them into a wider
    aggregate. ``first`` replaces the struct's aggregate (the probe
    reads it off a window column)."""
    return [
        f"{first} AS first",
        "min(x0) AS x_min",
        "max(x0 + ncols * x_res) AS x_max",
        "min(y0 - nrows * y_res) AS y_min",
        "max(y0) AS y_max",
    ]


def require_first(row):
    """The priority-first input of a collected ``extent_cols`` row;
    raises when the footprint table was empty."""
    if row["first"] is None:
        raise ValueError(
            "no media footprints found — the documents table has no media "
            "spans (or the footprints table is empty)"
        )
    return row["first"]


def grid_from_row(row, nullval: float | None = None) -> OutputGrid:
    """OutputGrid from a collected ``extent_cols`` row: projection/res/
    dtype/bands/null default from the priority-0 (first) input, exactly
    as ref mosaic.py:442-455."""
    first = require_first(row)
    x_res, y_res = float(first["x_res"]), float(first["y_res"])
    return OutputGrid(
        x_min=float(row["x_min"]),
        y_max=float(row["y_max"]),
        x_res=x_res,
        y_res=y_res,
        # int(round(...)) as in ref mosaic.py:446-447
        ncols=int(round((row["x_max"] - row["x_min"]) / x_res)),
        nrows=int(round((row["y_max"] - row["y_min"]) / y_res)),
        n_bands=int(first["n_bands"]),
        nullval=float(first["nullval"]) if nullval is None else float(nullval),
        dtype=str(first["dtype"]),
        projection=str(first["projection"]),
    )


def make_output_grid(footprints: DataFrame, nullval: float | None = None) -> OutputGrid:
    """Global extent aggregate (A1). One tiny all-reduce over the footprint
    dim table."""
    return grid_from_row(footprints.selectExpr(*extent_cols()).collect()[0], nullval)


def n_blocks(n: int, blocksize: int) -> int:
    """Closed form of the reference's sequential tiling loop
    (mosaic.py:459-487): blocks of ``blocksize`` except the last, which
    absorbs a remainder smaller than ``blocksize//4``.

    Derivation: the loop emits full blocks at tops 0, bs, 2bs, ... and
    the k-th block (0-based) is the last iff the remainder after it,
    n - (k+1)*bs, is strictly < bs//4 — i.e. the block count is the
    smallest k with n - k*bs < bs//4, which is floor((n - bs//4)/bs) + 1,
    clamped to >= 1. Verified against a literal re-simulation of the
    reference loop in tests/test_grid.py.
    """
    if n <= 0:
        return 0
    bs = blocksize
    return max(1, math.floor((n - bs // 4) / bs) + 1)


def stitch_partitions(
    spark: SparkSession,
    grid: OutputGrid,
    blocksize: int,
    tile_row_range: tuple[int, int] | None = None,
) -> int:
    """Partition count of the stitch (the shuffle into the grouped-map
    kernel, or the bucket count of a relayout table): one partition per
    core, fewer when there are fewer (band, tile) groups, more when the
    estimated stitch bytes need them, never more than the groups.

        n = min(groups, max(defaultParallelism,
                            ceil(stitch bytes / advisoryPartitionSizeInBytes)))

    Every task that reaches the kernel pays a fixed Python-worker
    set-up before its first group: ~10 ms per task on 4 cores of
    importlib cache invalidation once the worker's import caches are
    pruned (session.prune_import_caches; 0.15-0.22 s before), plus the
    task's own scheduling and Arrow framing, against ~5 ms of kernel per
    1024² tile. So a task per core, each folding many groups, is the
    cheapest shape; the bytes term keeps a task's input bounded as the
    mosaic grows. The stitch bytes are estimated as the
    output canvas (groups x blocksize² x pixels.PIXEL_BYTES): every
    contributor pixel lands in exactly one group, so the input is that
    times the mean overlap depth. ``tile_row_range=(lo, hi)`` counts
    only the tiles of that half-open row range (do_mosaic's restriction).
    """
    nb_r, nb_c = n_blocks(grid.nrows, blocksize), n_blocks(grid.ncols, blocksize)
    if tile_row_range is not None:
        lo, hi = tile_row_range
        nb_r = max(0, min(int(hi), nb_r) - max(int(lo), 0))
    groups = max(1, nb_r * nb_c * grid.n_bands)
    est_bytes = groups * blocksize * blocksize * PIXEL_BYTES
    return min(groups, max(spark.sparkContext.defaultParallelism,
                           math.ceil(est_bytes / advisory_bytes(spark))))


_M32 = 0xFFFFFFFF


def spark_hash_int(v: int) -> int:
    """Spark's ``hash(v)`` of an INT value: Murmur3 x86_32 ``hashInt``
    with seed 42, the hash behind ``repartition(n, col)`` and
    ``bucketBy(n, col)`` (partition = ``pmod(hash(v), n)``)."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & _M32

    k = rotl((v & _M32) * 0xCC9E2D51 & _M32, 15) * 0x1B873593 & _M32
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & _M32
    h ^= 4  # the input length in bytes
    h = (h ^ (h >> 16)) * 0x85EBCA6B & _M32
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache(maxsize=64)
def range_values(n: int) -> tuple[int, ...]:
    """``n`` distinct ints whose Spark hash partition among ``n`` is
    their index: ``pmod(hash(range_values(n)[i]), n) == i``. The first
    int that lands in each still-empty partition takes it (about
    n·ln n hashes)."""
    vals: list = [None] * n
    left, v = n, 0
    while left:
        i = spark_hash_int(v) % n
        if vals[i] is None:
            vals[i], left = v, left - 1
        v += 1
    return tuple(vals)


def range_id(
    grid: OutputGrid,
    blocksize: int,
    n: int,
    tile_row_range: tuple[int, int] | None = None,
) -> str:
    """The SQL column ``_rid``: cuts the row-major (band, tile_row,
    tile_col) order of the tiles a run covers (the half-open
    ``tile_row_range``, as in stitch_partitions) into ``n`` contiguous
    ranges whose sizes differ by at most one, and names range *i* by
    ``range_values(n)[i]``. So ``repartition(n, "_rid")`` and
    ``bucketBy(n, "_rid")`` both put range *i* in partition/bucket *i*:
    partition order is tile order, with no sampling."""
    nb_r, nb_c = n_blocks(grid.nrows, blocksize), n_blocks(grid.ncols, blocksize)
    lo, hi = (0, nb_r) if tile_row_range is None else (
        max(int(tile_row_range[0]), 0), min(int(tile_row_range[1]), nb_r))
    rows = max(1, hi - lo)
    idx = f"((CAST(band AS BIGINT) - 1) * {rows} + tile_row - {lo}) * {nb_c} + tile_col"
    return dense_range_id(idx, grid.n_bands * rows * nb_c, n)


def dense_range_id(idx: str, total: int, n: int) -> str:
    """range_id's cut of any dense SQL index ``idx`` in [0, ``total``)
    into ``n`` ranges (write_derived's basins cut their pixel ids)."""
    vals = ", ".join(map(str, range_values(n)))
    return f"element_at(array({vals}), CAST(({idx}) * {n} DIV {total} AS INT) + 1) AS _rid"


def advisory_bytes(spark: SparkSession) -> int:
    """``spark.sql.adaptive.advisoryPartitionSizeInBytes`` in bytes: the
    stitch's byte budget, which sizes its partitions (stitch_partitions)."""
    return spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )


def block_edges(n: int, blocksize: int) -> list[tuple[int, int]]:
    """Driver-side (top/left, size) list — small; used by oracles/tests."""
    nb = n_blocks(n, blocksize)
    out = []
    for i in range(nb):
        start = i * blocksize
        size = blocksize if i < nb - 1 else n - start
        out.append((start, size))
    return out


def make_tile_relation(
    spark: SparkSession, grid: OutputGrid, blocksize: int
) -> DataFrame:
    """O1: the output-tile relation, generated distributed.

    Columns: tile_row, tile_col, top, left, ysize, xsize.

    ``spark.range(nb_r * nb_c)`` + pure column math — at 100 TB scale the
    tile table is millions of rows and never touches the driver.
    """
    nb_r = n_blocks(grid.nrows, blocksize)
    nb_c = n_blocks(grid.ncols, blocksize)
    bs = blocksize
    return spark.range(nb_r * nb_c).selectExpr(
        f"CAST(id / {nb_c} AS INT) AS tile_row",
        f"CAST(id % {nb_c} AS INT) AS tile_col",
    ).selectExpr(
        "tile_row",
        "tile_col",
        f"tile_row * {bs} AS top",
        f"tile_col * {bs} AS `left`",
        f"CAST(CASE WHEN tile_row < {nb_r - 1} THEN {bs} "
        f"ELSE {grid.nrows - (nb_r - 1) * bs} END AS INT) AS ysize",
        f"CAST(CASE WHEN tile_col < {nb_c - 1} THEN {bs} "
        f"ELSE {grid.ncols - (nb_c - 1) * bs} END AS INT) AS xsize",
    )


def explode_tile_cover(
    df: DataFrame,
    grid: OutputGrid,
    blocksize: int,
    first_row: str,
    last_row: str,
    first_col: str,
    last_col: str,
) -> DataFrame:
    """Each row of ``df`` once per tile of its cover: the inclusive tile
    index ranges [first_row, last_row] x [first_col, last_col] (SQL
    expressions over ``df``'s columns), as the INT ``tile_row`` and
    ``tile_col`` keys of the tile relation (make_tile_relation).

    Both ends are clamped into the real tile-id space: the last tile
    absorbs sub-blocksize remainders (n_blocks), so a raw index past it
    would drop a shape in the absorbed strip; and a shape outside the
    grid would make ``sequence()`` descend and explode junk covers
    (millions of rows for a mis-projected input). Clamped, it costs one
    edge-tile row that the caller's exact residual rejects."""
    def cover(first: str, last: str, n: int) -> str:
        ends = (f"CAST(least(greatest({e}, 0), {n - 1}) AS INT)" for e in (first, last))
        return f"explode(sequence({', '.join(ends)}))"

    return df.selectExpr(
        "*", f"{cover(first_row, last_row, n_blocks(grid.nrows, blocksize))} AS tile_row"
    ).selectExpr(
        "*", f"{cover(first_col, last_col, n_blocks(grid.ncols, blocksize))} AS tile_col"
    )


def overview_levels(nrows: int, ncols: int, min_overview_size: int) -> list[int]:
    """W1: levels 4, 8, 16, ... while max-dim // 2**i >= min size
    (ref mosaic.py:646-658)."""
    out_size = max(nrows, ncols)
    levels = []
    i = 2
    while (out_size // (2**i)) >= min_overview_size:
        levels.append(2**i)
        i += 1
    return levels


def overview_shape(nrows: int, ncols: int, lvl: int) -> tuple[int, int]:
    """Shape of the strided subsample ``arr[lvl//2::lvl, lvl//2::lvl]``
    (ref mosaic.py:732-734, tests.py:158-160)."""
    o = lvl // 2
    nr = 0 if nrows <= o else (nrows - o + lvl - 1) // lvl
    nc = 0 if ncols <= o else (ncols - o + lvl - 1) // lvl
    return (nr, nc)


# ---------------------------------------------------------------------------
# Cell index (S2/H3-style): Morton / Z-order interleave of cell coords.
# ---------------------------------------------------------------------------

MORTON_BITS = 32  # supports cell grids up to 2^32 x 2^32 per axis


def morton_expr(cx, cy):
    """Interleave the low 32 bits of integer columns cx, cy into a single
    64-bit Z-order cell id — pure JVM-side bit arithmetic (no UDF), the
    classic Morton magic-number spread. 32 bits/axis covers a
    10^12-document footprint catalog at any sane cell size.
    MUST stay bit-identical to driver_contract._morton_sql (the DuckDB
    oracle rendering).
    """
    def spread(c):
        # spread 32 bits to even positions via magic-number shifts
        # (bitwiseOR/AND: PySpark's | and & on Columns are boolean ops)
        v = c.cast("long")
        v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
        return v

    return spread(cx).bitwiseOR(F.shiftleft(spread(cy), 1)).alias("cell_id")


def global_pixel_index(pos, blocksize: int, g_ncols: int,
                       tile_row=None, tile_col=None, xsize=None):
    """Column expression: global row-major pixel index (r * g_ncols + c)
    of element ``pos`` of a tile's row-major pixel array.

    This is THE tiling contract in one place: valid because the
    remainder-absorbing tiling (make_tile_relation) keeps t_top =
    tile_row * blocksize and t_left = tile_col * blocksize for every
    tile including the absorbed last one, so position reconstructs
    from the tile key + xsize alone."""
    tile_row = F.col("tile_row") if tile_row is None else tile_row
    tile_col = F.col("tile_col") if tile_col is None else tile_col
    xsize = F.col("xsize") if xsize is None else xsize
    r = tile_row.cast("long") * blocksize + F.floor(pos / xsize).cast("long")
    c = tile_col.cast("long") * blocksize + (pos % xsize).cast("long")
    return r * g_ncols + c
