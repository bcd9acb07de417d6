"""Driver-contract queries: every operator from SURVEY.md §2 exposed as a
(spark, sf_dir) -> DataFrame callable with a DuckDB-replayable ANSI-SQL
oracle over the shared testdata parquet views.

Mosaic-engine queries derive a deterministic 5x5 raster mosaic from the
``nation`` table (25 rows -> 25 footprints, 200x200 px each, 4-px
overlap, pixel value = local column index, null = 0 — the reference
golden-test value rule, tests.py:77-79). The Spark side runs the REAL
engine (tile relation, spatial join, stitch kernel); the oracle replays
the same algebra as set-based SQL over a generated pixel grid —
completely different execution strategy, same numbers.

All aggregates are explicitly cast/rounded identically on both sides so
the driver's schema + value-hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .mosaic import MosaicConfig, do_mosaic
from .functions import dedup as D
from .functions import similarity as S
from .functions import text as T
from .functions.portable import hash32_sql, hash60_sql, seeded_hash32_sql

# ---------------------------------------------------------------------------
# Derived mosaic corpus (from `nation`)
# ---------------------------------------------------------------------------

N_GRID = 5          # 5x5 rasters
R_SIZE = 200        # raster px
R_STRIDE = 196      # px stride -> 4 px overlap
X0, Y0, RES = 300000.0, 7000000.0, 10.0
BLOCKSIZE = 256
SRC_BS = 128
MIN_OV = 64
CELL_PX = 256       # cell size for the cell-cover query


def derived_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("int")
    return nation.select(
        F.concat(F.lit("r"), k.cast("string")).alias("media_ref"),
        k.alias("priority"),
        (F.lit(X0) + (k % N_GRID) * (R_STRIDE * RES)).alias("x0"),
        (F.lit(Y0) - F.floor(k / N_GRID) * (R_STRIDE * RES)).alias("y0"),
        F.lit(RES).alias("x_res"),
        F.lit(RES).alias("y_res"),
        F.lit(R_SIZE).alias("ncols"),
        F.lit(R_SIZE).alias("nrows"),
        F.lit(1).alias("n_bands"),
        F.lit("uint16").alias("dtype"),
        F.lit(0.0).alias("nullval"),
        F.lit("EPSG:32756").alias("projection"),
    )


def derived_blocks(footprints: DataFrame) -> DataFrame:
    """Pixel chunks generated JVM-side: value = local column index
    (transform/sequence — no Python, no driver materialization).
    Emitted in the u2 packed layout (pixels.py): the headline pipeline
    and bench run with 2 B/px through the stitch shuffle; checksum
    queries decode at the result boundary only."""
    sbs = SRC_BS
    nb = (R_SIZE + sbs - 1) // sbs
    fp = footprints.select("media_ref", "ncols", "nrows")
    b = fp.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("b_row"),
    ).select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("b_col"),
    )
    b = b.select(
        "media_ref",
        F.lit(1).alias("band"),
        "b_row",
        "b_col",
        (F.col("b_row") * sbs).alias("b_top"),
        (F.col("b_col") * sbs).alias("b_left"),
        F.least(F.lit(sbs), F.col("nrows") - F.col("b_row") * sbs).alias("b_ysize"),
        F.least(F.lit(sbs), F.col("ncols") - F.col("b_col") * sbs).alias("b_xsize"),
    ).where((F.col("b_ysize") > 0) & (F.col("b_xsize") > 0))
    from .pixels import pack_row_u2

    # value = local column index, identical on every row of a chunk:
    # pack ONE row's hex and repeat it b_ysize times (pixels.pack_row_u2)
    return b.withColumn(
        "pixels", pack_row_u2(F.col("b_left"), F.col("b_xsize"), F.col("b_ysize"))
    )


_RESULT_CACHE: dict = {}


def _mosaic_result_cached(sf_dir: str, spark: SparkSession | None = None):
    """One engine run per (session, sf_dir) — DataFrames are bound to
    their session, so the cache must not outlive it."""
    if spark is None:
        spark = SparkSession.getActiveSession()
        if spark is None:
            from .session import get_spark

            spark = get_spark()
    # keyed by the live session object (not id()): an id can be reused
    # for a new session after the old one is garbage-collected.
    key = (spark, sf_dir)
    if key not in _RESULT_CACHE:
        fp = derived_footprints(spark, sf_dir)
        blocks = derived_blocks(fp)
        cfg = MosaicConfig(
            blocksize=BLOCKSIZE, src_blocksize=SRC_BS, min_overview_size=MIN_OV
        )
        _RESULT_CACHE[key] = do_mosaic(spark, fp, blocks, cfg)
    return _RESULT_CACHE[key]


# SQL prologue shared by all mosaic oracles: footprints -> extent ->
# grid -> tiles -> merged pixels, replayed as set-based SQL.
def _sql_prologue() -> str:
    stride = R_STRIDE * RES
    return f"""
WITH fp AS (
  SELECT 'r' || CAST(CAST(n_nationkey AS INT) AS VARCHAR) AS media_ref,
         CAST(n_nationkey AS INT) AS priority,
         {X0} + (n_nationkey % {N_GRID}) * {stride} AS x0,
         {Y0} - CAST(floor(n_nationkey / {N_GRID}) AS INT) * {stride} AS y0,
         {RES} AS x_res, {RES} AS y_res,
         {R_SIZE} AS ncols, {R_SIZE} AS nrows
  FROM nation
),
ext AS (
  SELECT min(x0) AS x_min, max(x0 + ncols * x_res) AS x_max,
         min(y0 - nrows * y_res) AS y_min, max(y0) AS y_max
  FROM fp
),
grid AS (
  SELECT x_min, y_max,
         CAST(round((x_max - x_min) / {RES}) AS INT) AS g_ncols,
         CAST(round((y_max - y_min) / {RES}) AS INT) AS g_nrows
  FROM ext
),
nb AS (
  SELECT g_ncols, g_nrows, x_min, y_max,
         greatest(1, CAST(floor((g_nrows - {BLOCKSIZE // 4}) * 1.0 / {BLOCKSIZE}) AS INT) + 1) AS nb_r,
         greatest(1, CAST(floor((g_ncols - {BLOCKSIZE // 4}) * 1.0 / {BLOCKSIZE}) AS INT) + 1) AS nb_c
  FROM grid
),
tiles AS (
  -- literal series bounds + filter: DuckDB 1.0 generate_series cannot
  -- take lateral/column parameters
  SELECT tr.i AS tile_row, tc.i AS tile_col,
         tr.i * {BLOCKSIZE} AS t_top, tc.i * {BLOCKSIZE} AS t_left,
         CASE WHEN tr.i < nb_r - 1 THEN {BLOCKSIZE} ELSE g_nrows - (nb_r - 1) * {BLOCKSIZE} END AS t_ysize,
         CASE WHEN tc.i < nb_c - 1 THEN {BLOCKSIZE} ELSE g_ncols - (nb_c - 1) * {BLOCKSIZE} END AS t_xsize
  FROM nb,
       generate_series(0, 255) tr(i),
       generate_series(0, 255) tc(i)
  WHERE tr.i < nb_r AND tc.i < nb_c
),
fpx AS (
  SELECT f.*, g.y_max, g.x_min,
         CAST(round((g.y_max - f.y0) / {RES}) AS INT) AS row0,
         CAST(round((f.x0 - g.x_min) / {RES}) AS INT) AS col0
  FROM fp f, grid g
),
contrib AS (
  SELECT f.row0 + lr.i AS r, f.col0 + lc.i AS c, f.priority, lc.i AS val
  FROM fpx f,
       generate_series(0, {R_SIZE - 1}) lr(i),
       generate_series(0, {R_SIZE - 1}) lc(i)
  WHERE lr.i < f.nrows AND lc.i < f.ncols AND lc.i != 0
),
merged AS (
  SELECT r, c, arg_max(val, priority) AS val
  FROM contrib
  GROUP BY r, c
)
"""


SQL_MOSAIC_EXTENT = f"""{_sql_prologue()}
SELECT x_min, y_max, g_ncols AS ncols, g_nrows AS nrows FROM grid
"""

SQL_MOSAIC_TILES = f"""{_sql_prologue()}
SELECT tile_row, tile_col, t_top, t_left, t_ysize, t_xsize FROM tiles
"""

SQL_MOSAIC_ASSIGNMENTS = f"""{_sql_prologue()}
SELECT t.tile_row, t.tile_col, f.media_ref, f.priority,
       CAST(round((g.y_max - t.t_top * {RES} - f.y0) * -1 / {RES}) AS INT) AS in_top,
       CAST(round(((g.x_min + t.t_left * {RES}) - f.x0) / {RES}) AS INT) AS in_left,
       CAST(t.t_ysize AS INT) AS in_ysize,
       CAST(t.t_xsize AS INT) AS in_xsize
FROM tiles t, fp f, grid g
WHERE (CAST(round(((g.x_min + (t.t_left + t.t_xsize) * {RES}) - f.x0) / {RES}) AS INT)) > 0
  AND (CAST(round((f.y0 - (g.y_max - (t.t_top + t.t_ysize) * {RES})) / {RES}) AS INT)) > 0
  AND (CAST(round(((g.x_min + t.t_left * {RES}) - f.x0) / {RES}) AS INT)) < f.ncols
  AND (CAST(round((f.y0 - (g.y_max - t.t_top * {RES})) / {RES}) AS INT)) < f.nrows
"""

SQL_MOSAIC_TILE_CHECKSUMS = f"""{_sql_prologue()}
SELECT 1 AS band,
       CAST(least(floor(m.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(m.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(m.val) AS BIGINT) AS sum_val,
       CAST(min(m.val) AS INT) AS min_val,
       CAST(max(m.val) AS INT) AS max_val
FROM merged m, nb
GROUP BY 1, 2, 3
"""

SQL_MOSAIC_STATS = f"""{_sql_prologue()}
SELECT 1 AS band,
       CAST(min(val) AS DOUBLE) AS minval,
       CAST(max(val) AS DOUBLE) AS maxval,
       round(avg(val), 6) AS meanval,
       round(stddev_pop(val), 6) AS stddev,
       CAST(count(*) AS BIGINT) AS count
FROM merged
"""

# overview levels for the 984x984 derived grid with min size 64: [4, 8]
SQL_MOSAIC_OVERVIEW_CHECKSUMS = f"""{_sql_prologue()}
SELECT lvl.l AS level,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(m.val) AS BIGINT) AS sum_val,
       CAST(min(m.val) AS INT) AS min_val,
       CAST(max(m.val) AS INT) AS max_val
FROM merged m, (SELECT unnest([4, 8]) AS l) lvl
WHERE (m.r - lvl.l // 2) % lvl.l = 0 AND (m.c - lvl.l // 2) % lvl.l = 0
  AND m.r >= lvl.l // 2 AND m.c >= lvl.l // 2
GROUP BY 1
"""


def _morton_sql(x: str, y: str) -> str:
    """DuckDB rendering of plans.grid.morton_expr — same 32-bit spread
    constants (281470681808895 = 0x0000FFFF0000FFFF, etc.)."""
    def spread(v: str) -> str:
        s = f"CAST({v} AS BIGINT)"
        s = f"(({s} | ({s} << 16)) & 281470681808895)"
        s = f"(({s} | ({s} << 8)) & 71777214294589695)"
        s = f"(({s} | ({s} << 4)) & 1085102592571150095)"
        s = f"(({s} | ({s} << 2)) & 3689348814741910323)"
        s = f"(({s} | ({s} << 1)) & 6148914691236517205)"
        return s

    return f"({spread(x)} | ({spread(y)} << 1))"


def _cell_covers_sql() -> str:
    cell = CELL_PX * RES
    return f"""{_sql_prologue()}
, cov AS (
  SELECT f.media_ref, cx.i AS cx, cy.i AS cy
  FROM fp f, grid g,
       generate_series(0, 63) cx(i),
       generate_series(0, 63) cy(i)
  WHERE cx.i >= greatest(CAST(floor((f.x0 - g.x_min) / {cell}) AS BIGINT), 0)
    AND cx.i <= greatest(CAST(floor((f.x0 + f.ncols * f.x_res - g.x_min) / {cell}) AS BIGINT), 0)
    AND cy.i >= greatest(CAST(floor((g.y_max - f.y0) / {cell}) AS BIGINT), 0)
    AND cy.i <= greatest(CAST(floor((g.y_max - (f.y0 - f.nrows * f.y_res)) / {cell}) AS BIGINT), 0)
)
SELECT media_ref,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(min({_morton_sql('cx', 'cy')}) AS BIGINT) AS min_cell,
       CAST(max({_morton_sql('cx', 'cy')}) AS BIGINT) AS max_cell
FROM cov
GROUP BY media_ref
"""


# ---------------------------------------------------------------------------
# Spark-side query callables (mosaic)
# ---------------------------------------------------------------------------

def q_mosaic_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _mosaic_result_cached(sf_dir, spark)
    g = res.grid
    return spark.createDataFrame(
        [(g.x_min, g.y_max, g.ncols, g.nrows)], ["x_min", "y_max", "ncols", "nrows"]
    )


def q_mosaic_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.grid import make_tile_relation

    res = _mosaic_result_cached(sf_dir, spark)
    return make_tile_relation(spark, res.grid, BLOCKSIZE).select(
        "tile_row",
        "tile_col",
        F.col("top").alias("t_top"),
        F.col("left").alias("t_left"),
        F.col("ysize").alias("t_ysize"),
        F.col("xsize").alias("t_xsize"),
    )


def q_mosaic_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _mosaic_result_cached(sf_dir, spark)
    return res.assignments.select(
        "tile_row", "tile_col", "media_ref", "priority",
        "in_top", "in_left", "in_ysize", "in_xsize",
    )


def _nonnull(col):
    return F.filter(col, lambda x: x != 0)


def _tile_checksums_from_partials(tiles: DataFrame) -> DataFrame:
    """Per-tile (n_valid, sum_val, min_val, max_val) straight from the
    stitch kernel's single-pass stats partials (operators/stitch.py
    _base_row: count/sum/min/max over non-null canvas pixels) — the
    payload is never re-decoded or re-aggregated (guide §1.2: don't
    recompute what one pass already produced). Exactness: pixel values
    are uint16, so px_sum (float64) is an exact integer far below 2^53
    for any tile size the engine emits; the casts below are lossless."""
    return tiles.where(F.col("px_count") > 0).select(
        "band",
        "tile_row",
        "tile_col",
        F.col("px_count").cast("long").alias("n_valid"),
        F.col("px_sum").cast("long").alias("sum_val"),
        F.col("px_min").cast("int").alias("min_val"),
        F.col("px_max").cast("int").alias("max_val"),
    )


def q_mosaic_tile_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _mosaic_result_cached(sf_dir, spark)
    return _tile_checksums_from_partials(res.tiles)


BLEND_FEATHER = 64

_BLEND_CACHE: dict = {}


def _blend_result_cached(sf_dir: str, spark: SparkSession):
    key = (spark, sf_dir)
    if key not in _BLEND_CACHE:
        fp = derived_footprints(spark, sf_dir)
        blocks = derived_blocks(fp)
        cfg = MosaicConfig(
            blocksize=BLOCKSIZE, src_blocksize=SRC_BS, min_overview_size=MIN_OV,
            merge_policy="blend", blend_feather=BLEND_FEATHER,
        )
        _BLEND_CACHE[key] = do_mosaic(spark, fp, blocks, cfg)
    return _BLEND_CACHE[key]


def q_mosaic_blend_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feathered edge-blending mosaic (merge_policy='blend'),
    hash-gated per tile: overlap pixels are the half-up-rounded
    weighted mean of all non-null contributors, weight = clamped
    distance to each contributor's source edge. The engine accumulates
    in exact int64 and rounds via (2*wv + w) // (2*w), so DuckDB
    replays the blend BIT-IDENTICALLY with integer SQL — no float
    sum-order or rounding-convention divergence."""
    res = _blend_result_cached(sf_dir, spark)
    return _tile_checksums_from_partials(res.tiles)


def _blend_checksums_sql() -> str:
    return f"""{_sql_prologue()},
contrib_w AS (
  SELECT f.row0 + lr.i AS r, f.col0 + lc.i AS c,
         least(least(lr.i + 1, f.nrows - lr.i),
               least(lc.i + 1, f.ncols - lc.i),
               {BLEND_FEATHER}) AS w,
         lc.i AS val
  FROM fpx f,
       generate_series(0, {R_SIZE - 1}) lr(i),
       generate_series(0, {R_SIZE - 1}) lc(i)
  WHERE lr.i < f.nrows AND lc.i < f.ncols AND lc.i != 0
),
blended AS (
  SELECT r, c, (2 * sum(w * val) + sum(w)) // (2 * sum(w)) AS val
  FROM contrib_w
  GROUP BY r, c
)
SELECT 1 AS band,
       CAST(least(floor(m.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(m.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(m.val) AS BIGINT) AS sum_val,
       CAST(min(m.val) AS INT) AS min_val,
       CAST(max(m.val) AS INT) AS max_val
FROM blended m, nb
GROUP BY 1, 2, 3
"""


def q_mosaic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _mosaic_result_cached(sf_dir, spark)
    return res.stats.select(
        "band",
        "minval",
        "maxval",
        F.round("meanval", 6).alias("meanval"),
        F.round("stddev", 6).alias("stddev"),
        "count",
    )


def q_mosaic_overview_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pixels import unpack_u2

    res = _mosaic_result_cached(sf_dir, spark)
    nn = _nonnull(unpack_u2(F.col("pixels")))
    per_frag = res.overviews.select(
        "level",
        F.size(nn).cast("long").alias("nv"),
        F.aggregate(nn, F.lit(0).cast("long"), lambda a, x: a + x).alias("sv"),
        F.array_min(nn).cast("int").alias("mn"),
        F.array_max(nn).cast("int").alias("mx"),
    )
    return per_frag.groupBy("level").agg(
        F.sum("nv").cast("long").alias("n_valid"),
        F.sum("sv").cast("long").alias("sum_val"),
        F.min("mn").cast("int").alias("min_val"),
        F.max("mx").cast("int").alias("max_val"),
    )


RS_RES = 20.0  # resample target: 10m -> 20m (exact 2x, snap margins empty)


def q_mosaic_resampled_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 oracle gate: the REAL windowed nearest resample
    (reproject.resample_blocks, 10m -> 20m) feeding the REAL mosaic,
    checksummed per tile. The oracle replays the closed form: on this
    corpus the 20m grid aligns exactly (strides divisible by 20), so
    the resampled local value at column u is src column index
    floor(((u+0.5)*20)/10) = 2u+1 — merged by priority as usual."""
    from .reproject import resample_blocks

    fp = derived_footprints(spark, sf_dir)
    blocks = derived_blocks(fp)
    nfp, nblocks = resample_blocks(fp, blocks, RS_RES, RS_RES, src_blocksize=SRC_BS)
    # check_projections=False: every virtual footprint is planned onto
    # the SAME target grid by construction (plan_rescaled_footprints),
    # so the agreement scan would only re-run the resample planning
    # chain to prove a tautology (guide §1.2: drop work you throw away)
    cfg = MosaicConfig(
        blocksize=BLOCKSIZE, src_blocksize=SRC_BS, with_overviews=False,
        check_projections=False,
    )
    res = do_mosaic(spark, nfp, nblocks, cfg)
    return _tile_checksums_from_partials(res.tiles)


def _resampled_checksums_sql() -> str:
    stride = R_STRIDE * RES
    n20 = int(R_SIZE * RES / RS_RES)  # 100 local px per raster at 20m
    return f"""
WITH fp AS (
  SELECT CAST(n_nationkey AS INT) AS priority,
         {X0} + (n_nationkey % {N_GRID}) * {stride} AS x0,
         {Y0} - CAST(floor(n_nationkey / {N_GRID}) AS INT) * {stride} AS y0
  FROM nation
),
ext AS (
  SELECT min(x0) AS x_min, max(x0 + {R_SIZE * RES}) AS x_max,
         min(y0 - {R_SIZE * RES}) AS y_min, max(y0) AS y_max
  FROM fp
),
grid AS (
  SELECT x_min, y_max,
         CAST(round((x_max - x_min) / {RS_RES}) AS INT) AS g_ncols,
         CAST(round((y_max - y_min) / {RS_RES}) AS INT) AS g_nrows
  FROM ext
),
nb AS (
  SELECT g_ncols, g_nrows,
         greatest(1, CAST(floor((g_nrows - {BLOCKSIZE // 4}) * 1.0 / {BLOCKSIZE}) AS INT) + 1) AS nb_r,
         greatest(1, CAST(floor((g_ncols - {BLOCKSIZE // 4}) * 1.0 / {BLOCKSIZE}) AS INT) + 1) AS nb_c
  FROM grid
),
fpx AS (
  SELECT f.priority,
         CAST(round((g.y_max - f.y0) / {RS_RES}) AS INT) AS row0,
         CAST(round((f.x0 - g.x_min) / {RS_RES}) AS INT) AS col0
  FROM fp f, grid g
),
contrib AS (
  -- resampled value at local (v, u): nearest source column index
  -- floor(((u+0.5)*{RS_RES})/{RES}) = 2u+1; never the null value 0
  SELECT f.row0 + lv.i AS r, f.col0 + lu.i AS c, f.priority,
         2 * lu.i + 1 AS val
  FROM fpx f,
       generate_series(0, {n20 - 1}) lv(i),
       generate_series(0, {n20 - 1}) lu(i)
),
merged AS (
  SELECT r, c, arg_max(val, priority) AS val
  FROM contrib
  GROUP BY r, c
)
SELECT 1 AS band,
       CAST(least(floor(m.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(m.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(m.val) AS BIGINT) AS sum_val,
       CAST(min(m.val) AS INT) AS min_val,
       CAST(max(m.val) AS INT) AS max_val
FROM merged m, nb
GROUP BY 1, 2, 3
"""


WARP_DST = 32755  # derived corpus lives in zone 56S; warp to 55S


def _warped_checksums(spark: SparkSession, sf_dir: str, dst_epsg: int,
                      out_res: float) -> DataFrame:
    """Cross-CRS gate: the REAL warp (reproject.warp_blocks) feeding the
    REAL mosaic, checksummed per tile. The oracle replays the whole
    thing in DuckDB: the CRS series render as SQL (crs.*_sql — same
    constants), the per-pixel dst->src mapping yields value = source
    column index in closed form, merged by priority."""
    from .reproject import warp_blocks

    fp = derived_footprints(spark, sf_dir)
    blocks = derived_blocks(fp)
    nfp, nblocks = warp_blocks(
        fp, blocks, f"EPSG:{dst_epsg}", out_res, out_res,
        src_blocksize=SRC_BS, method="near",
    )
    # check_projections=False: plan_warped_footprints emits every
    # virtual footprint on the SAME dst CRS/resolution by construction;
    # the agreement scan would only re-run the warp planning map twice
    cfg = MosaicConfig(
        blocksize=BLOCKSIZE, src_blocksize=SRC_BS, with_overviews=False,
        check_projections=False,
    )
    res = do_mosaic(spark, nfp, nblocks, cfg)
    return _tile_checksums_from_partials(res.tiles)


def q_mosaic_warped_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM 56S -> 55S (adjacent-zone TM warp)."""
    return _warped_checksums(spark, sf_dir, WARP_DST, RES)


WEBMERC_RES = 12.0  # ~10 m ground at the corpus latitude (scale 1/cos)


def q_mosaic_warped_3857_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM 56S -> EPSG:3857 Web Mercator — the most common target CRS a
    real user brings; oracle-gated via the merc SQL renderers."""
    return _warped_checksums(spark, sf_dir, 3857, WEBMERC_RES)


def _chain_steps(inner_sql: str, steps: list[str]) -> str:
    """Nest each transform step as its own projection layer. DuckDB's
    lateral column aliases substitute the full referenced subexpression
    at bind time — a 14-step series chained through aliases in ONE
    select re-expands combinatorially (measured: minutes for 1M rows);
    as stacked projections each step evaluates once per row (~1 s)."""
    q = inner_sql
    for s in steps:
        q = f"SELECT *, {s} FROM ({q})"
    return q


def _dst_sql_chains(dst_epsg: int):
    """(inverse_steps_fn, forward_steps_fn) for the destination CRS —
    TM zones and Web Mercator render to SQL from the same crs.py
    series the engine kernels evaluate in numpy."""
    from .crs import (
        merc_forward_sql, merc_inverse_sql, tm_forward_sql, tm_inverse_sql,
    )

    if dst_epsg == 3857:
        return merc_inverse_sql, merc_forward_sql
    return (
        lambda x, y, p: tm_inverse_sql(x, y, dst_epsg, p),
        lambda lon, lat, p: tm_forward_sql(lon, lat, dst_epsg, p),
    )


def _warped_checksums_sql(dst_epsg: int | None = None, out_res: float = RES) -> str:
    from .crs import tm_forward_sql, tm_inverse_sql

    dst_epsg = WARP_DST if dst_epsg is None else dst_epsg
    dst_inv, dst_fwd = _dst_sql_chains(dst_epsg)
    stride = R_STRIDE * RES
    ext_m = R_SIZE * RES  # 2000 m raster extent

    # corners: src (zone 56) -> dst
    ci, lon_c, lat_c = tm_inverse_sql("xsrc", "ysrc", 32756, "q")
    cf, cx_a, cy_a = dst_fwd(lon_c, lat_c, "r")
    corner_chain = _chain_steps("SELECT * FROM corners", ci + cf)
    # pixels: dst center -> src (zone 56)
    pi, lon_p, lat_p = dst_inv("xd", "yd", "q")
    pf, px_a, py_a = tm_forward_sql(lon_p, lat_p, 32756, "r")
    pixel_chain = _chain_steps("SELECT * FROM px", pi + pf)
    RES_OUT = out_res

    return f"""
WITH fp AS (
  SELECT CAST(n_nationkey AS INT) AS priority,
         {X0} + (n_nationkey % {N_GRID}) * {stride} AS s_x0,
         {Y0} - CAST(floor(n_nationkey / {N_GRID}) AS INT) * {stride} AS s_y0
  FROM nation
),
corners AS (
  SELECT f.priority, f.s_x0, f.s_y0,
         f.s_x0 + cx.o AS xsrc, f.s_y0 - cy.o AS ysrc
  FROM fp f,
       (VALUES (0.0), ({ext_m})) cx(o),
       (VALUES (0.0), ({ext_m})) cy(o)
),
corner_t AS MATERIALIZED (
  {corner_chain}
),
env AS (
  SELECT priority, s_x0, s_y0,
         floor(min({cx_a}) / {RES_OUT}) * {RES_OUT} AS x0,
         ceil(max({cx_a}) / {RES_OUT}) * {RES_OUT} AS x1,
         floor(min({cy_a}) / {RES_OUT}) * {RES_OUT} AS ylo,
         ceil(max({cy_a}) / {RES_OUT}) * {RES_OUT} AS y0
  FROM corner_t
  GROUP BY 1, 2, 3
),
envd AS (
  SELECT *, CAST(round((x1 - x0) / {RES_OUT}) AS INT) AS ncols,
            CAST(round((y0 - ylo) / {RES_OUT}) AS INT) AS nrows
  FROM env
),
ext AS (
  SELECT min(x0) AS x_min, max(x1) AS x_max, min(ylo) AS y_min, max(y0) AS y_max
  FROM envd
),
grid AS (
  SELECT x_min, y_max,
         CAST(round((x_max - x_min) / {RES_OUT}) AS INT) AS g_ncols,
         CAST(round((y_max - y_min) / {RES_OUT}) AS INT) AS g_nrows
  FROM ext
),
nb AS (
  SELECT g_ncols, g_nrows,
         greatest(1, CAST(floor((g_nrows - {BLOCKSIZE // 4}) * 1.0 / {BLOCKSIZE}) AS INT) + 1) AS nb_r,
         greatest(1, CAST(floor((g_ncols - {BLOCKSIZE // 4}) * 1.0 / {BLOCKSIZE}) AS INT) + 1) AS nb_c
  FROM grid
),
px AS (
  SELECT f.priority, f.s_x0, f.s_y0,
         CAST(round((g.y_max - f.y0) / {RES_OUT}) AS INT) + lv.i AS r,
         CAST(round((f.x0 - g.x_min) / {RES_OUT}) AS INT) + lu.i AS c,
         f.x0 + (lu.i + 0.5) * {RES_OUT} AS xd,
         f.y0 - (lv.i + 0.5) * {RES_OUT} AS yd
  FROM envd f, grid g,
       generate_series(0, 299) lv(i),
       generate_series(0, 299) lu(i)
  WHERE lv.i < f.nrows AND lu.i < f.ncols
),
-- MATERIALIZED: without it DuckDB pushes downstream predicates through
-- the projection stack, re-expanding the series expressions
-- combinatorially (measured: minutes instead of ~2 s)
px_t AS MATERIALIZED (
  {pixel_chain}
),
contrib AS (
  SELECT r, c, priority,
         CAST(floor(({px_a} - s_x0) / {RES}) AS INT) AS sx,
         CAST(floor((s_y0 - {py_a}) / {RES}) AS INT) AS sy
  FROM px_t
),
valid AS (
  SELECT r, c, priority, sx AS val
  FROM contrib
  WHERE sx >= 0 AND sx < {R_SIZE} AND sy >= 0 AND sy < {R_SIZE} AND sx != 0
),
merged AS (
  SELECT r, c, arg_max(val, priority) AS val
  FROM valid
  GROUP BY r, c
)
SELECT 1 AS band,
       CAST(least(floor(m.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(m.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(m.val) AS BIGINT) AS sum_val,
       CAST(min(m.val) AS INT) AS min_val,
       CAST(max(m.val) AS INT) AS max_val
FROM merged m, nb
GROUP BY 1, 2, 3
"""


PIP_CUT = 500.0     # octagon corner cut (world m)
PIP_GRID = 48       # point grid per axis
PIP_W = (N_GRID - 1) * R_STRIDE * RES + R_SIZE * RES  # corpus extent (m)


def q_points_in_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star point-in-polygon, oracle-gated: each derived raster's
    validity outline is an octagon (bbox corners cut by PIP_CUT); a
    deterministic point grid is matched via the cell-bucketed
    points_in_polygons join (equi-join on cells + exact even-odd ray
    cast, functions/geometry.py); DuckDB replays the identical crossing
    rule per (point, polygon). Fractional grid offsets keep every point
    off polygon edges, so the half-open boundary rule never fires."""
    from .functions.geometry import points_in_polygons

    fp = derived_footprints(spark, sf_dir)
    ext, cut = R_SIZE * RES, PIP_CUT
    x0, y0 = F.col("x0"), F.col("y0")

    def v(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    oct_ring = F.array(
        v(x0 + cut, y0), v(x0 + ext - cut, y0),
        v(x0 + ext, y0 - cut), v(x0 + ext, y0 - ext + cut),
        v(x0 + ext - cut, y0 - ext), v(x0 + cut, y0 - ext),
        v(x0, y0 - ext + cut), v(x0, y0 - cut),
    )
    polys = fp.select("media_ref", oct_ring.alias("poly"))

    g = PIP_GRID
    step = PIP_W / g
    pts = (
        spark.range(g * g)
        .select(
            F.col("id").cast("int").alias("pid"),
            (F.lit(X0) + ((F.col("id") % g) + 0.37) * F.lit(step)).alias("x"),
            (F.lit(Y0) - (F.floor(F.col("id") / g) + 0.53) * F.lit(step)).alias("y"),
        )
    )
    pairs = points_in_polygons(pts, polys, cell_size=ext)
    return pairs.groupBy("media_ref").agg(
        F.count("*").cast("long").alias("n_pts"),
        F.sum("pid").cast("long").alias("sum_pid"),
    )


def _points_in_footprints_sql() -> str:
    ext, cut = R_SIZE * RES, PIP_CUT
    stride = R_STRIDE * RES
    g = PIP_GRID
    step = PIP_W / g
    # octagon vertices as (dx, dy) offsets from (x0, y0)
    verts = [
        (cut, 0.0), (ext - cut, 0.0), (ext, -cut), (ext, -ext + cut),
        (ext - cut, -ext), (cut, -ext), (0.0, -ext + cut), (0.0, -cut),
    ]
    vlist = ", ".join(
        f"struct_pack(x := x0 + {dx!r}, y := y0 + {dy!r})" for dx, dy in verts
    )
    # the same even-odd crossing rule as functions/geometry.py
    a = "poly[i]"
    b = "poly[1 + (i % 8)]"
    crossing = (
        f"(({a}.y > p.y) != ({b}.y > p.y)) AND "
        f"p.x < {a}.x + (p.y - {a}.y) * ({b}.x - {a}.x) / ({b}.y - {a}.y)"
    )
    return f"""
WITH fp AS (
  SELECT 'r' || CAST(CAST(n_nationkey AS INT) AS VARCHAR) AS media_ref,
         {X0} + (n_nationkey % {N_GRID}) * {stride} AS x0,
         {Y0} - CAST(floor(n_nationkey / {N_GRID}) AS INT) * {stride} AS y0
  FROM nation
),
oct AS (
  SELECT media_ref, [{vlist}] AS poly FROM fp
),
p AS (
  SELECT gi.i * {g} + gj.i AS pid,
         {X0} + (gj.i + 0.37) * {step!r} AS x,
         {Y0} - (gi.i + 0.53) * {step!r} AS y
  FROM generate_series(0, {g - 1}) gi(i), generate_series(0, {g - 1}) gj(i)
),
hits AS (
  SELECT o.media_ref, p.pid
  FROM p p, oct o
  WHERE (len(list_filter(generate_series(1, 8), i -> {crossing})) % 2) = 1
)
SELECT media_ref,
       CAST(count(*) AS BIGINT) AS n_pts,
       CAST(sum(pid) AS BIGINT) AS sum_pid
FROM hits
GROUP BY media_ref
"""


RAST_SIZE = 128   # rasterize fixture: 128x128 px grid
RAST_BS = 64      # -> 2x2 tiles


def _rasterize_fixture() -> list:
    """Four overlapping polygons (octagon / triangle / diamond, plus a
    top-priority square strictly inside the diamond — which turns the
    diamond region into a donut so the outline oracle exercises HOLE
    rings) over the 1280 m fixture square; vertices sit off every
    pixel-center ordinate so the half-open boundary rule never
    fires."""

    def P(dx, dy):
        return {"x": X0 + dx, "y": Y0 - dy}

    octagon = [P(300.7, 100.3), P(900.1, 100.3), P(1150.9, 400.7),
               P(1150.9, 900.1), P(900.1, 1200.3), P(300.7, 1200.3),
               P(80.3, 900.1), P(80.3, 400.7)]
    tri = [P(200.1, 1100.7), P(1200.3, 1100.7), P(700.9, 300.1)]
    diamond = [P(640.3, 100.1), P(1000.7, 640.3), P(640.3, 1180.9),
               P(300.1, 640.3)]
    square = [P(560.3, 560.1), P(720.7, 560.1), P(720.7, 720.3),
              P(560.3, 720.3)]
    return [(octagon, 1, 0), (tri, 2, 1), (diamond, 3, 2), (square, 4, 3)]


def q_polygon_raster_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector -> raster burn (geometry.rasterize_polygons), hash-gated
    per tile: pixel centers inside a polygon take its value, overlaps
    resolve by priority (higher wins), background 0. DuckDB replays the
    identical even-odd crossing rule per (pixel, polygon) and arg_max
    by priority, so the per-tile (count, sum, position-weighted
    checksum) triple gates the burn bit-for-bit."""
    from .functions.geometry import rasterize_polygons
    from .plans.grid import OutputGrid

    grid = OutputGrid(
        x_min=X0, y_max=Y0, x_res=RES, y_res=RES,
        ncols=RAST_SIZE, nrows=RAST_SIZE, n_bands=1, nullval=0,
        dtype="uint16", projection="EPSG:32756",
    )
    polys = _fixture_polys_df(spark)
    out = rasterize_polygons(spark, polys, grid, RAST_BS)
    px = out.select(
        "tile_row", "tile_col", "xsize",
        F.posexplode("pixels").alias("pos", "val"),
    ).where(F.col("val") > 0)
    gidx = (
        (F.col("tile_row") * RAST_BS + F.floor(F.col("pos") / F.col("xsize")))
        * RAST_SIZE
        + F.col("tile_col") * RAST_BS + F.col("pos") % F.col("xsize")
    )
    return px.groupBy("tile_row", "tile_col").agg(
        F.count("*").cast("long").alias("n_covered"),
        F.sum("val").cast("long").alias("value_sum"),
        F.sum(F.col("val") * gidx).cast("long").alias("checksum"),
    )


def _crossing_sql(poly: str = "o.poly", p: str = "p") -> str:
    """The half-open even-odd crossing conjunct — character-identical
    across every polygon oracle (the rule the engine's
    point_in_polygon / rasterize kernels implement)."""
    a = f"{poly}[i]"
    b = f"{poly}[1 + (i % len({poly}))]"
    return (
        f"(({a}.y > {p}.y) != ({b}.y > {p}.y)) AND "
        f"{p}.x < {a}.x + ({p}.y - {a}.y) * ({b}.x - {a}.x) / ({b}.y - {a}.y)"
    )


# burn winner: max (priority, value) lexicographic — mirrors the
# kernel's stable sort by (_prio, _value); both ints < 2^31 so the
# composite BIGINT key is exact
_BURN_KEY = "o.priority * 4294967296 + o.value"


def _fixture_polys_df(spark: SparkSession) -> DataFrame:
    """The rasterize fixture polygons, read from the committed parquet
    input table (fixtures/input/polys.parquet — minted once by
    tools/mint_fixtures.py from _rasterize_fixture; the DuckDB oracles
    read the same file)."""
    from . import fixtures as FX

    return spark.read.parquet(FX.polys_input_path())


def _polys_sql() -> str:
    """The shared polygon-input CTE body every polygon oracle uses —
    the same parquet file the Spark side reads."""
    from . import fixtures as FX

    return (f"SELECT poly, value, priority "
            f"FROM read_parquet('{FX.polys_input_path()}')")


def _polygon_raster_sql() -> str:
    crossing = _crossing_sql()
    return f"""
WITH polys AS ({_polys_sql()}),
p AS (
  SELECT ci.i AS row, cj.i AS col,
         {X0} + (cj.i + 0.5) * {RES!r} AS x,
         {Y0} - (ci.i + 0.5) * {RES!r} AS y
  FROM generate_series(0, {RAST_SIZE - 1}) ci(i),
       generate_series(0, {RAST_SIZE - 1}) cj(i)
),
hits AS (
  SELECT p.row, p.col, arg_max(o.value, {_BURN_KEY}) AS burn
  FROM p p, polys o
  WHERE (len(list_filter(generate_series(1, len(o.poly)), i -> {crossing})) % 2) = 1
  GROUP BY p.row, p.col
)
SELECT CAST(row // {RAST_BS} AS INT) AS tile_row,
       CAST(col // {RAST_BS} AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_covered,
       CAST(sum(burn) AS BIGINT) AS value_sum,
       CAST(sum(burn * (row * {RAST_SIZE} + col)) AS BIGINT) AS checksum
FROM hits
GROUP BY 1, 2
"""


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the raster <-> vector aggregate: rasterize
    the fixture polygons as zone ids on the MOSAIC's own tiling
    (geometry.rasterize_polygons), equi-join zone tiles with stitched
    mosaic tiles, one vectorized per-tile partial (np.bincount shape)
    and a tiny final merge (geometry.zonal_stats — the same
    partial-algebra pattern as the mosaic's single-pass stats). DuckDB
    replays it per pixel: the merged-mosaic CTE gives every non-null
    pixel's value, the identical even-odd rule + arg_max(priority)
    gives its zone."""
    from .functions.geometry import rasterize_polygons, zonal_stats

    res = _mosaic_result_cached(sf_dir, spark)
    polys = _fixture_polys_df(spark)
    zone_tiles = rasterize_polygons(spark, polys, res.grid, BLOCKSIZE)
    out = zonal_stats(res.tiles, zone_tiles, nullval=int(res.grid.nullval))
    # single-band fixture: band rides the operator's group key (bands
    # never mix) but carries no information here
    return out.drop("band").select(
        F.col("zone").cast("int").alias("zone"),
        "n_px", "val_sum", "val_min", "val_max",
    )


def _zonal_stats_sql() -> str:
    crossing = _crossing_sql()
    return f"""{_sql_prologue()},
zones AS ({_polys_sql()}),
px AS (
  SELECT m.r, m.c, m.val,
         g.x_min + (m.c + 0.5) * {RES!r} AS x,
         g.y_max - (m.r + 0.5) * {RES!r} AS y
  FROM merged m, grid g
),
zp AS (
  SELECT p.r, p.c, p.val, arg_max(o.value, {_BURN_KEY}) AS zone
  FROM px p, zones o
  WHERE p.x >= list_min(list_transform(o.poly, v -> v.x))
    AND p.x <= list_max(list_transform(o.poly, v -> v.x))
    AND p.y >= list_min(list_transform(o.poly, v -> v.y))
    AND p.y <= list_max(list_transform(o.poly, v -> v.y))
    AND (len(list_filter(generate_series(1, len(o.poly)), i -> {crossing})) % 2) = 1
  GROUP BY p.r, p.c, p.val
)
SELECT CAST(zone AS INT) AS zone,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) AS BIGINT) AS val_sum,
       CAST(min(val) AS INT) AS val_min,
       CAST(max(val) AS INT) AS val_max
FROM zp
GROUP BY zone
"""


REGION_BS = 32    # 4x4 tiles over the 128px fixture -> cross-tile regions

_REGION_TRUTH_CACHE: list | None = None


def _region_truth_grid():
    """The independent truth raster + its 4-connected regions: burn
    the fixture polygons with a vectorized numpy PIP (same even-odd
    rule, computed here — the engine's rasterizer is never consulted),
    then BFS flood fill equal-value regions. Returns (values array,
    list of (region_id, value, cells)) with region_id = min global
    pixel index. Shared by _region_truth (label summaries) and the
    outline-truth minter (tools/mint_outline_truth.py)."""
    from collections import deque

    import numpy as np

    SZ = RAST_SIZE
    px = X0 + (np.arange(SZ) + 0.5) * RES
    py = Y0 - (np.arange(SZ) + 0.5) * RES
    full = np.zeros((SZ, SZ), np.int32)
    # (priority, value) burn order — the engine's documented tie-break
    for verts, val, _prio in sorted(_rasterize_fixture(), key=lambda t: (t[2], t[1])):
        cnt = np.zeros((SZ, SZ), np.int32)
        n = len(verts)
        for i in range(n):
            ax, ay = verts[i]["x"], verts[i]["y"]
            bx, by = verts[(i + 1) % n]["x"], verts[(i + 1) % n]["y"]
            crosses = (ay > py) != (by > py)
            if not crosses.any():
                continue
            with np.errstate(all="ignore"):
                xi = ax + (py - ay) * (bx - ax) / (by - ay)
            cnt += crosses[:, None] & (px[None, :] < xi[:, None])
        full[cnt % 2 == 1] = val
    regions = []
    vis = np.zeros_like(full, bool)
    for r in range(SZ):
        for c in range(SZ):
            if full[r, c] == 0 or vis[r, c]:
                continue
            v = int(full[r, c])
            q = deque([(r, c)])
            vis[r, c] = True
            cells = []
            while q:
                rr, cc = q.popleft()
                cells.append((rr, cc))
                for dr, dc in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    nr, nc = rr + dr, cc + dc
                    if (0 <= nr < SZ and 0 <= nc < SZ and not vis[nr, nc]
                            and full[nr, nc] == v):
                        vis[nr, nc] = True
                        q.append((nr, nc))
            regions.append(
                (min(x * SZ + y for x, y in cells), v, cells))
    return full, regions


def _region_truth() -> list:
    """Label summaries of _region_truth_grid (q_region_labels truth,
    minted to fixtures/truth/region_labels.parquet). Cached."""
    global _REGION_TRUTH_CACHE
    if _REGION_TRUTH_CACHE is not None:
        return _REGION_TRUTH_CACHE
    _, regions = _region_truth_grid()
    out = []
    for rid, v, cells in regions:
        rows = [x for x, _ in cells]
        cols = [y for _, y in cells]
        out.append((
            rid, v, len(cells),
            min(rows), min(cols), max(rows), max(cols),
        ))
    _REGION_TRUTH_CACHE = sorted(out)
    return _REGION_TRUTH_CACHE


def q_region_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed raster region labeling (polygonize-lite,
    geometry.label_regions): rasterize the fixture on a 32px tiling so
    regions SPAN tiles, label per-tile with run-based union-find, merge
    across tiles with the DataFrame connected-components, roll up
    partials. region_id = min global pixel index (canonical across any
    tiling). Oracle = an independent numpy-PIP + BFS flood fill truth
    sidecar (fixtures/truth/region_labels.parquet, minted once by
    tools/mint_fixtures.py)."""
    from .functions.geometry import label_regions, rasterize_polygons
    from .plans.grid import OutputGrid

    grid = OutputGrid(
        x_min=X0, y_max=Y0, x_res=RES, y_res=RES,
        ncols=RAST_SIZE, nrows=RAST_SIZE, n_bands=1, nullval=0,
        dtype="uint16", projection="EPSG:32756",
    )
    polys = _fixture_polys_df(spark)
    zone_tiles = rasterize_polygons(spark, polys, grid, REGION_BS)
    return label_regions(zone_tiles, grid, REGION_BS).select(
        "region_id", "value", "n_px", "min_row", "min_col", "max_row", "max_col"
    )


def _region_labels_sql() -> str:
    from . import fixtures as FX

    return f"""
SELECT CAST(region_id AS BIGINT) AS region_id, CAST(value AS INT) AS value,
       CAST(n_px AS BIGINT) AS n_px,
       CAST(min_row AS BIGINT) AS min_row, CAST(min_col AS BIGINT) AS min_col,
       CAST(max_row AS BIGINT) AS max_row, CAST(max_col AS BIGINT) AS max_col
FROM read_parquet('{FX.truth_path("region_labels")}')
"""


ISO_T = 100  # iso-contour threshold over the merged mosaic values


def _merged_truth_grid():
    """Numpy replica of the oracle's `merged` CTE (val = local column
    index, arg_max priority over the 5x5 derived rasters) — the input
    the iso-contour truth minter thresholds. Deliberately built from
    the SPEC constants, never from engine output."""
    import numpy as np

    sz = (N_GRID - 1) * R_STRIDE + R_SIZE
    full = np.zeros((sz, sz), np.int32)
    prio = np.full((sz, sz), -1, np.int32)
    vals = np.tile(np.arange(R_SIZE, dtype=np.int32), (R_SIZE, 1))
    for k in range(N_GRID * N_GRID):
        r0 = (k // N_GRID) * R_STRIDE
        c0 = (k % N_GRID) * R_STRIDE
        win = full[r0:r0 + R_SIZE, c0:c0 + R_SIZE]
        pw = prio[r0:r0 + R_SIZE, c0:c0 + R_SIZE]
        sel = (vals != 0) & (k > pw)
        win[sel] = vals[sel]
        pw[sel] = k
    return full


def q_iso_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iso-contours of the stitched mosaic at threshold ISO_T — the
    binary-level ``gdal_contour`` analog: threshold the tiles to a
    0/1 mask JVM-side, then extract every region's boundary rings
    with the distributed crack tracer (functions/outlines.py). The
    mask's stripes cross every horizontal tile seam of the 984^2
    grid, so this gates threshold + halo + ring stitching end to end.
    Oracle = the independent Python crack-follower over a numpy
    replica of `merged` (tools/mint_outline_truth.py), minted to
    parquet."""
    from .functions.outlines import region_outlines
    from .pixels import unpack_u2

    res = _mosaic_result_cached(sf_dir, spark)
    t = _level0_tiles(res)
    px = unpack_u2(F.col("pixels"))
    thresh = t.select(
        "tile_row", "tile_col", "ysize", "xsize",
        F.transform(px, lambda v: F.when(v >= ISO_T, 1).otherwise(0))
        .alias("pixels"),
    )
    return region_outlines(thresh, res.grid, BLOCKSIZE).select(
        "region_id",
        F.col("ring_idx").cast("int").alias("ring_idx"),
        F.col("is_hole").cast("int").alias("is_hole"),
        F.col("n_vertices").cast("int").alias("n_vertices"),
        F.col("perim").cast("long").alias("perim"),
        "ring_hash",
    )


def _iso_contours_sql() -> str:
    from . import fixtures as FX

    return f"""
SELECT CAST(region_id AS BIGINT) AS region_id,
       CAST(ring_idx AS INT) AS ring_idx, CAST(is_hole AS INT) AS is_hole,
       CAST(n_vertices AS INT) AS n_vertices, CAST(perim AS BIGINT) AS perim,
       ring_hash
FROM read_parquet('{FX.truth_path("iso_contours")}')
"""


def q_region_outlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed boundary-ring tracing (functions/outlines.py — the
    ring half of the gdal_polygonize analog): rasterize the fixture on
    the 32px tiling so rings CROSS tile seams, trace per-tile crack
    segments over a 1-pixel halo exchange, stitch cross-tile cycles
    with the connected-components, and assemble canonical rings. The
    fixture's top-priority inner square makes the diamond region a
    donut, so the oracle gates outer rings AND holes. Oracle = an
    independent Python mask-based crack-follower
    (tools/mint_outline_truth.py), minted to parquet."""
    from .functions.geometry import rasterize_polygons
    from .functions.outlines import region_outlines
    from .plans.grid import OutputGrid

    grid = OutputGrid(
        x_min=X0, y_max=Y0, x_res=RES, y_res=RES,
        ncols=RAST_SIZE, nrows=RAST_SIZE, n_bands=1, nullval=0,
        dtype="uint16", projection="EPSG:32756",
    )
    polys = _fixture_polys_df(spark)
    zone_tiles = rasterize_polygons(spark, polys, grid, REGION_BS)
    return region_outlines(zone_tiles, grid, REGION_BS).select(
        "region_id",
        F.col("ring_idx").cast("int").alias("ring_idx"),
        F.col("is_hole").cast("int").alias("is_hole"),
        F.col("n_vertices").cast("int").alias("n_vertices"),
        F.col("perim").cast("long").alias("perim"),
        "ring_hash",
    )


def _region_outlines_sql() -> str:
    from . import fixtures as FX

    return f"""
SELECT CAST(region_id AS BIGINT) AS region_id,
       CAST(ring_idx AS INT) AS ring_idx, CAST(is_hole AS INT) AS is_hole,
       CAST(n_vertices AS INT) AS n_vertices, CAST(perim AS BIGINT) AS perim,
       ring_hash
FROM read_parquet('{FX.truth_path("region_outlines")}')
"""


# ---------------------------------------------------------------------------
# Focal (neighborhood) queries — halo exchange + Horn hillshade
# ---------------------------------------------------------------------------

def _level0_tiles(res):
    t = res.tiles
    return t.where(F.col("level") == 0) if "level" in t.columns else t


def _focal_gidx(g_ncols: int, blocksize: int = BLOCKSIZE):
    """Global pixel index of element ``i`` of a tile's row-major array
    — the position-sensitive checksum weight (plans/grid.py holds the
    single tiling-contract implementation)."""
    from .plans.grid import global_pixel_index

    def gidx(i):
        return global_pixel_index(i, blocksize, g_ncols)

    return gidx


def _focal_wsum(g_ncols: int, blocksize: int = BLOCKSIZE):
    """Column factory: position-weighted sum of an array column with
    -1 = undefined — all JVM-side higher-order functions."""
    gidx = _focal_gidx(g_ncols, blocksize)

    def wsum(col: str):
        return F.aggregate(
            F.transform(F.col(col), lambda x, i: F.when(x != -1, x * gidx(i)).otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        )

    return wsum


def _focal_reduce(out: DataFrame, col: str, g_ncols: int, names: tuple,
                  blocksize: int = BLOCKSIZE) -> DataFrame:
    """Reduce a per-pixel array column (-1 = undefined) to per-tile
    (count, sum, position-weighted sum, min, max)."""
    valid = F.filter(F.col(col), lambda x: x != -1)
    n_def, s, w, mn, mx = names
    return out.select(
        "band", "tile_row", "tile_col",
        F.size(valid).cast("long").alias(n_def),
        F.aggregate(valid, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(s),
        _focal_wsum(g_ncols, blocksize)(col).alias(w),
        F.array_min(valid).cast("long").alias(mn),
        F.array_max(valid).cast("long").alias(mx),
    ).where(F.col(n_def) > 0)


_TERRAIN_CACHE: dict = {}
_BASINS_CACHE: dict = {}


def _terrain_cached(sf_dir: str, spark: SparkSession) -> DataFrame:
    """One terrain (halo exchange) execution per (session, sf_dir):
    q_terrain_checksums, q_flow_basins and q_basin_zonal_stats all
    read the SAME lazily-checkpointed relation — one exchange instead
    of three, and the three gates are provably over one computation."""
    key = (spark, sf_dir)
    if key not in _TERRAIN_CACHE:
        from .functions.focal import terrain

        res = _mosaic_result_cached(sf_dir, spark)
        _TERRAIN_CACHE[key] = terrain(
            _level0_tiles(res),
            xres=float(res.grid.x_res), yres=float(res.grid.y_res),
            nullval=int(res.grid.nullval),
        ).localCheckpoint(eager=False)
    return _TERRAIN_CACHE[key]


def _basins_cached(sf_dir: str, spark: SparkSession) -> DataFrame:
    """One pointer-doubling run per (session, sf_dir), shared by
    q_flow_basins and q_basin_zonal_stats."""
    key = (spark, sf_dir)
    if key not in _BASINS_CACHE:
        from .functions.hydro import d8_edges, flow_basins

        res = _mosaic_result_cached(sf_dir, spark)
        edges = d8_edges(
            _terrain_cached(sf_dir, spark),
            g_ncols=int(res.grid.ncols), blocksize=BLOCKSIZE,
        )
        _BASINS_CACHE[key] = flow_basins(edges)
    return _BASINS_CACHE[key]


def q_focal_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 focal stats (count/sum/min/max over valid window pixels)
    over the REAL stitched mosaic tiles via the distributed halo
    exchange (functions/focal.focal_stats: 9 addressed O(perimeter)
    fragments per tile, ONE groupBy assembles a padded array, a
    vectorized nine-shifted-view kernel produces the tile). Checksums
    carry a global-pixel-index weight so any spatial permutation
    breaks the hash. The oracle replays the identical semantics
    set-based: shifted copies of `merged` re-grouped per center — the
    SQL mirror of the halo exchange itself."""
    from .functions.focal import focal_stats

    res = _mosaic_result_cached(sf_dir, spark)
    out = focal_stats(_level0_tiles(res), nullval=int(res.grid.nullval))
    gnc = int(res.grid.ncols)
    gidx, wsum = _focal_gidx(gnc), _focal_wsum(gnc)
    vs, vc = F.filter(F.col("f_sum"), lambda x: x != -1), F.filter(
        F.col("f_count"), lambda x: x != -1)
    vq = F.filter(F.col("f_ssq"), lambda x: x != -1)
    # one select over ONE halo exchange — all arrays reduce in place
    return out.select(
        "band", "tile_row", "tile_col",
        F.size(vs).cast("long").alias("n_def"),
        F.aggregate(vc, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_cnt"),
        wsum("f_count").alias("wsum_cnt"),
        F.aggregate(vs, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_sum"),
        wsum("f_sum").alias("wsum_sum"),
        F.aggregate(vq, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_ssq"),
        F.array_min(vs).cast("long").alias("min_sum"),
        F.array_max(vs).cast("long").alias("max_sum"),
    ).where(F.col("n_def") > 0)


def _focal_checksums_sql() -> str:
    return f"""{_sql_prologue()},
n9 AS (
  SELECT m.r - dr.i AS r, m.c - dc.i AS c, m.val
  FROM merged m,
       generate_series(-1, 1) dr(i),
       generate_series(-1, 1) dc(i)
),
fs AS (
  SELECT n.r, n.c,
         count(*) AS f_cnt, sum(n.val) AS f_sum,
         sum(n.val * n.val) AS f_ssq,
         min(n.val) AS f_min, max(n.val) AS f_max
  FROM n9 n JOIN merged ctr ON ctr.r = n.r AND ctr.c = n.c
  GROUP BY n.r, n.c
)
SELECT 1 AS band,
       CAST(least(floor(f.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(f.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_def,
       CAST(sum(f.f_cnt) AS BIGINT) AS sum_cnt,
       CAST(sum(f.f_cnt * (f.r * g.g_ncols + f.c)) AS BIGINT) AS wsum_cnt,
       CAST(sum(f.f_sum) AS BIGINT) AS sum_sum,
       CAST(sum(f.f_sum * (f.r * g.g_ncols + f.c)) AS BIGINT) AS wsum_sum,
       CAST(sum(f.f_ssq) AS BIGINT) AS sum_ssq,
       CAST(min(f.f_sum) AS BIGINT) AS min_sum,
       CAST(max(f.f_sum) AS BIGINT) AS max_sum
FROM fs f, nb, grid g
GROUP BY 1, 2, 3
"""


def q_focal5_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5x5 focal stats (radius=2) — gates the generalized halo
    exchange: R-row/column strips and RxR corners crossing tile
    seams, not just single-pixel borders. Same checksum shape as the
    3x3 query; the oracle widens the shifted-copy range to ±2."""
    from .functions.focal import focal_stats

    res = _mosaic_result_cached(sf_dir, spark)
    out = focal_stats(_level0_tiles(res), nullval=int(res.grid.nullval), radius=2)
    gnc = int(res.grid.ncols)
    wsum = _focal_wsum(gnc)
    vs = F.filter(F.col("f_sum"), lambda x: x != -1)
    vc = F.filter(F.col("f_count"), lambda x: x != -1)
    vq = F.filter(F.col("f_ssq"), lambda x: x != -1)
    return out.select(
        "band", "tile_row", "tile_col",
        F.size(vs).cast("long").alias("n_def"),
        F.aggregate(vc, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_cnt"),
        wsum("f_count").alias("wsum_cnt"),
        F.aggregate(vs, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_sum"),
        wsum("f_sum").alias("wsum_sum"),
        F.aggregate(vq, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_ssq"),
        F.array_min(vs).cast("long").alias("min_sum"),
        F.array_max(vs).cast("long").alias("max_sum"),
    ).where(F.col("n_def") > 0)


def _focal5_checksums_sql() -> str:
    return f"""{_sql_prologue()},
n25 AS (
  SELECT m.r - dr.i AS r, m.c - dc.i AS c, m.val
  FROM merged m,
       generate_series(-2, 2) dr(i),
       generate_series(-2, 2) dc(i)
),
fs AS (
  SELECT n.r, n.c,
         count(*) AS f_cnt, sum(n.val) AS f_sum,
         sum(n.val * n.val) AS f_ssq
  FROM n25 n JOIN merged ctr ON ctr.r = n.r AND ctr.c = n.c
  GROUP BY n.r, n.c
)
SELECT 1 AS band,
       CAST(least(floor(f.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(f.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_def,
       CAST(sum(f.f_cnt) AS BIGINT) AS sum_cnt,
       CAST(sum(f.f_cnt * (f.r * g.g_ncols + f.c)) AS BIGINT) AS wsum_cnt,
       CAST(sum(f.f_sum) AS BIGINT) AS sum_sum,
       CAST(sum(f.f_sum * (f.r * g.g_ncols + f.c)) AS BIGINT) AS wsum_sum,
       CAST(sum(f.f_ssq) AS BIGINT) AS sum_ssq,
       CAST(min(f.f_sum) AS BIGINT) AS min_sum,
       CAST(max(f.f_sum) AS BIGINT) AS max_sum
FROM fs f, nb, grid g
GROUP BY 1, 2, 3
"""


def q_focal_majority_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 modal filter over the stitched mosaic — mode over valid
    window values, ties to the SMALLEST value; the oracle replays the
    tie-break literally as first(val ORDER BY cnt DESC, val)."""
    from .functions.focal import focal_majority

    res = _mosaic_result_cached(sf_dir, spark)
    out = focal_majority(_level0_tiles(res), nullval=int(res.grid.nullval))
    return _focal_reduce(
        out, "pixels", int(res.grid.ncols),
        ("n_def", "sum_mode", "wsum_mode", "min_mode", "max_mode"),
    )


def _focal_majority_sql() -> str:
    return f"""{_sql_prologue()},
n9 AS (
  SELECT m.r - dr.i AS r, m.c - dc.i AS c, m.val
  FROM merged m,
       generate_series(-1, 1) dr(i),
       generate_series(-1, 1) dc(i)
),
cn AS (
  SELECT n.r, n.c, n.val, count(*) AS cnt
  FROM n9 n JOIN merged ctr ON ctr.r = n.r AND ctr.c = n.c
  GROUP BY n.r, n.c, n.val
),
md AS (
  SELECT r, c, first(val ORDER BY cnt DESC, val) AS mode
  FROM cn
  GROUP BY r, c
)
SELECT 1 AS band,
       CAST(least(floor(m.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(m.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_def,
       CAST(sum(m.mode) AS BIGINT) AS sum_mode,
       CAST(sum(m.mode * (m.r * g.g_ncols + m.c)) AS BIGINT) AS wsum_mode,
       CAST(min(m.mode) AS BIGINT) AS min_mode,
       CAST(max(m.mode) AS BIGINT) AS max_mode
FROM md m, nb, grid g
GROUP BY 1, 2, 3
"""


def q_hillshade_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn-method hillshade (the ``gdaldem hillshade`` analog,
    functions/focal.hillshade) over the stitched mosaic through the
    same halo exchange; shade = floor(255 * max(0, (LZ - LX*gx -
    LY*gy) / sqrt(1 + gx^2 + gy^2)) + 0.5) with Horn gradients from
    exact integer sums. Every float op after the integer gradient is
    IEEE correctly-rounded and ordered identically in the oracle, so
    the per-pixel match is exact — the weighted checksum gates every
    pixel position, including all cross-tile windows."""
    from .functions.focal import hillshade

    res = _mosaic_result_cached(sf_dir, spark)
    out = hillshade(
        _level0_tiles(res),
        xres=float(res.grid.x_res), yres=float(res.grid.y_res),
        nullval=int(res.grid.nullval),
    )
    return _focal_reduce(
        out, "pixels", int(res.grid.ncols),
        ("n_def", "sum_shade", "wsum_shade", "min_shade", "max_shade"),
    )


def _hillshade_checksums_sql() -> str:
    from .functions.focal import HS_LX, HS_LY, HS_LZ

    fx = 8.0 * RES
    fy = 8.0 * RES
    return f"""{_sql_prologue()},
n9 AS (
  SELECT m.r - dr.i AS r, m.c - dc.i AS c, dr.i AS wy, dc.i AS wx, m.val
  FROM merged m,
       generate_series(-1, 1) dr(i),
       generate_series(-1, 1) dc(i)
),
w AS (
  SELECT r, c,
         sum(CASE WHEN wy = -1 AND wx = -1 THEN val END) AS tl,
         sum(CASE WHEN wy = -1 AND wx =  0 THEN val END) AS tm,
         sum(CASE WHEN wy = -1 AND wx =  1 THEN val END) AS tr,
         sum(CASE WHEN wy =  0 AND wx = -1 THEN val END) AS ml,
         sum(CASE WHEN wy =  0 AND wx =  1 THEN val END) AS mr,
         sum(CASE WHEN wy =  1 AND wx = -1 THEN val END) AS bl,
         sum(CASE WHEN wy =  1 AND wx =  0 THEN val END) AS bm,
         sum(CASE WHEN wy =  1 AND wx =  1 THEN val END) AS br
  FROM n9
  GROUP BY r, c
  HAVING count(*) = 9
),
gxy AS (
  SELECT r, c,
         CAST((tr + 2 * mr + br) - (tl + 2 * ml + bl) AS DOUBLE) / {fx!r} AS gx,
         CAST((bl + 2 * bm + br) - (tl + 2 * tm + tr) AS DOUBLE) / {fy!r} AS gy
  FROM w
),
hs AS (
  SELECT r, c,
         CAST(floor(255.0 * greatest(
             ({HS_LZ!r} - {HS_LX!r} * gx - {HS_LY!r} * gy)
             / sqrt(1.0 + gx * gx + gy * gy), 0.0) + 0.5) AS BIGINT) AS shade
  FROM gxy
)
SELECT 1 AS band,
       CAST(least(floor(h.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(h.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_def,
       CAST(sum(h.shade) AS BIGINT) AS sum_shade,
       CAST(sum(h.shade * (h.r * g.g_ncols + h.c)) AS BIGINT) AS wsum_shade,
       CAST(min(h.shade) AS BIGINT) AS min_shade,
       CAST(max(h.shade) AS BIGINT) AS max_shade
FROM hs h, nb, grid g
GROUP BY 1, 2, 3
"""


OV_LVL = 4  # overview level for the pyramid-hillshade query


def q_hillshade_overview_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade over the LEVEL-4 OVERVIEW pyramid — the focal family
    composing with the multi-resolution machinery: 64px overview
    tiles (4x4 grid, real halo seams), pixel size 4x the base so
    xres/yres scale with the level. The oracle decimates `merged`
    with the strided lvl//2-offset rule (W2) and replays the same
    IEEE-ordered float pipeline on the decimated grid."""
    from .functions.focal import hillshade

    res = _mosaic_result_cached(sf_dir, spark)
    ov = res.overviews.where(F.col("level") == OV_LVL).select(
        "band", "tile_row", "tile_col", "ysize", "xsize", "pixels"
    )
    out = hillshade(
        ov,
        xres=float(res.grid.x_res) * OV_LVL,
        yres=float(res.grid.y_res) * OV_LVL,
        nullval=int(res.grid.nullval),
    )
    ov_ncols = (int(res.grid.ncols) - OV_LVL // 2 - 1) // OV_LVL + 1
    ov_bs = BLOCKSIZE // OV_LVL
    return _focal_reduce(
        out, "pixels", ov_ncols,
        ("n_def", "sum_shade", "wsum_shade", "min_shade", "max_shade"),
        blocksize=ov_bs,
    )


def _hillshade_overview_sql() -> str:
    from .functions.focal import HS_LX, HS_LY, HS_LZ

    lvl = OV_LVL
    off = lvl // 2
    fx = 8.0 * RES * lvl
    bs = BLOCKSIZE // lvl
    return f"""{_sql_prologue()},
ov AS (
  SELECT (r - {off}) // {lvl} AS r, (c - {off}) // {lvl} AS c, val
  FROM merged
  WHERE r >= {off} AND c >= {off}
    AND (r - {off}) % {lvl} = 0 AND (c - {off}) % {lvl} = 0
),
ovg AS (
  SELECT ((g_nrows - {off} - 1) // {lvl}) + 1 AS o_nrows,
         ((g_ncols - {off} - 1) // {lvl}) + 1 AS o_ncols
  FROM grid
),
ovnb AS (
  SELECT o_nrows, o_ncols,
         greatest(1, CAST(floor((o_nrows - {bs // 4}) * 1.0 / {bs}) AS INT) + 1) AS nb_r,
         greatest(1, CAST(floor((o_ncols - {bs // 4}) * 1.0 / {bs}) AS INT) + 1) AS nb_c
  FROM ovg
),
n9 AS (
  SELECT m.r - dr.i AS r, m.c - dc.i AS c, dr.i AS wy, dc.i AS wx, m.val
  FROM ov m,
       generate_series(-1, 1) dr(i),
       generate_series(-1, 1) dc(i)
),
w AS (
  SELECT r, c,
         sum(CASE WHEN wy = -1 AND wx = -1 THEN val END) AS tl,
         sum(CASE WHEN wy = -1 AND wx =  0 THEN val END) AS tm,
         sum(CASE WHEN wy = -1 AND wx =  1 THEN val END) AS tr,
         sum(CASE WHEN wy =  0 AND wx = -1 THEN val END) AS ml,
         sum(CASE WHEN wy =  0 AND wx =  1 THEN val END) AS mr,
         sum(CASE WHEN wy =  1 AND wx = -1 THEN val END) AS bl,
         sum(CASE WHEN wy =  1 AND wx =  0 THEN val END) AS bm,
         sum(CASE WHEN wy =  1 AND wx =  1 THEN val END) AS br
  FROM n9
  GROUP BY r, c
  HAVING count(*) = 9
),
gxy AS (
  SELECT r, c,
         CAST((tr + 2 * mr + br) - (tl + 2 * ml + bl) AS DOUBLE) / {fx!r} AS gx,
         CAST((bl + 2 * bm + br) - (tl + 2 * tm + tr) AS DOUBLE) / {fx!r} AS gy
  FROM w
),
hs AS (
  SELECT r, c,
         CAST(floor(255.0 * greatest(
             ({HS_LZ!r} - {HS_LX!r} * gx - {HS_LY!r} * gy)
             / sqrt(1.0 + gx * gx + gy * gy), 0.0) + 0.5) AS BIGINT) AS shade
  FROM gxy
)
SELECT 1 AS band,
       CAST(least(floor(h.r * 1.0 / {bs}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(h.c * 1.0 / {bs}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_def,
       CAST(sum(h.shade) AS BIGINT) AS sum_shade,
       CAST(sum(h.shade * (h.r * g.o_ncols + h.c)) AS BIGINT) AS wsum_shade,
       CAST(min(h.shade) AS BIGINT) AS min_shade,
       CAST(max(h.shade) AS BIGINT) AS max_shade
FROM hs h, ovnb nb, ovg g
GROUP BY 1, 2, 3
"""


def q_terrain_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope + D8 flow direction (functions/focal.terrain) over the
    stitched mosaic in one halo exchange. slope_q is percent slope
    quantized (floor(1e5*sqrt(gx^2+gy^2)+0.5)) so the float pipeline is
    exactly replayable; d8 is pure integer/compare semantics with the
    documented scan-order tie-break — the oracle reproduces both per
    pixel, position-gated by the weighted checksums."""
    res = _mosaic_result_cached(sf_dir, spark)
    out = _terrain_cached(sf_dir, spark)
    wsum = _focal_wsum(int(res.grid.ncols))
    vs = F.filter(F.col("slope_q"), lambda x: x != -1)
    vd = F.filter(F.col("d8"), lambda x: x != -1)
    return out.select(
        "band", "tile_row", "tile_col",
        F.size(vs).cast("long").alias("n_def"),
        F.aggregate(vs, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_slope"),
        wsum("slope_q").alias("wsum_slope"),
        F.array_max(vs).cast("long").alias("max_slope"),
        F.aggregate(vd, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_d8"),
        wsum("d8").alias("wsum_d8"),
    ).where(F.col("n_def") > 0)


def _d8_ctes(src: str = "merged") -> str:
    """CTE block (n9 -> w -> n8 -> d8) shared by the terrain, basin
    and accumulation oracles: per-pixel D8 code with the identical
    eff semantics and scan-order tie-break as functions/focal.terrain.
    ``src`` names the pixel relation (a restricted CTE for subgrid
    queries)."""
    from .functions.focal import D8_DIAG_W, D8_FLAT

    return f"""
n9 AS (
  SELECT m.r - dr.i AS r, m.c - dc.i AS c, dr.i AS wy, dc.i AS wx, m.val
  FROM {src} m,
       generate_series(-1, 1) dr(i),
       generate_series(-1, 1) dc(i)
),
w AS (
  SELECT r, c,
         sum(CASE WHEN wy = -1 AND wx = -1 THEN val END) AS tl,
         sum(CASE WHEN wy = -1 AND wx =  0 THEN val END) AS tm,
         sum(CASE WHEN wy = -1 AND wx =  1 THEN val END) AS tr,
         sum(CASE WHEN wy =  0 AND wx = -1 THEN val END) AS ml,
         sum(CASE WHEN wy =  0 AND wx =  0 THEN val END) AS cc,
         sum(CASE WHEN wy =  0 AND wx =  1 THEN val END) AS mr,
         sum(CASE WHEN wy =  1 AND wx = -1 THEN val END) AS bl,
         sum(CASE WHEN wy =  1 AND wx =  0 THEN val END) AS bm,
         sum(CASE WHEN wy =  1 AND wx =  1 THEN val END) AS br
  FROM n9
  GROUP BY r, c
  HAVING count(*) = 9
),
n8 AS (
  -- D8 scan order N,NE,E,SE,S,SW,W,NW = dir 0..7 (focal.D8_DIRS)
  SELECT n.r, n.c,
         CASE WHEN n.wy = -1 AND n.wx =  0 THEN 0
              WHEN n.wy = -1 AND n.wx =  1 THEN 1
              WHEN n.wy =  0 AND n.wx =  1 THEN 2
              WHEN n.wy =  1 AND n.wx =  1 THEN 3
              WHEN n.wy =  1 AND n.wx =  0 THEN 4
              WHEN n.wy =  1 AND n.wx = -1 THEN 5
              WHEN n.wy =  0 AND n.wx = -1 THEN 6
              ELSE 7 END AS dir,
         CAST(w.cc - n.val AS DOUBLE)
           * (CASE WHEN n.wy != 0 AND n.wx != 0 THEN {D8_DIAG_W!r} ELSE 1.0 END) AS eff
  FROM n9 n JOIN w ON w.r = n.r AND w.c = n.c
  WHERE NOT (n.wy = 0 AND n.wx = 0)
),
d8 AS (
  SELECT r, c,
         CASE WHEN max(eff) > 0.0
              THEN first(dir ORDER BY eff DESC, dir)
              ELSE {D8_FLAT} END AS d8
  FROM n8
  GROUP BY r, c
)"""


def _terrain_checksums_sql() -> str:
    from .functions.focal import SLOPE_Q

    fx = 8.0 * RES
    fy = 8.0 * RES
    return f"""{_sql_prologue()},{_d8_ctes()},
gxy AS (
  SELECT r, c,
         CAST((tr + 2 * mr + br) - (tl + 2 * ml + bl) AS DOUBLE) / {fx!r} AS gx,
         CAST((bl + 2 * bm + br) - (tl + 2 * tm + tr) AS DOUBLE) / {fy!r} AS gy
  FROM w
),
slope AS (
  SELECT r, c,
         CAST(floor({SLOPE_Q!r} * sqrt(gx * gx + gy * gy) + 0.5) AS BIGINT) AS slope_q
  FROM gxy
)
SELECT 1 AS band,
       CAST(least(floor(s.r * 1.0 / {BLOCKSIZE}), nb.nb_r - 1) AS INT) AS tile_row,
       CAST(least(floor(s.c * 1.0 / {BLOCKSIZE}), nb.nb_c - 1) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_def,
       CAST(sum(s.slope_q) AS BIGINT) AS sum_slope,
       CAST(sum(s.slope_q * (s.r * g.g_ncols + s.c)) AS BIGINT) AS wsum_slope,
       CAST(max(s.slope_q) AS BIGINT) AS max_slope,
       CAST(sum(d.d8) AS BIGINT) AS sum_d8,
       CAST(sum(d.d8 * (s.r * g.g_ncols + s.c)) AS BIGINT) AS wsum_d8
FROM slope s JOIN d8 d ON d.r = s.r AND d.c = s.c, nb, grid g
GROUP BY 1, 2, 3
"""


def q_mosaic_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pixel-value histogram of the stitched mosaic
    (operators/stats.value_histogram — JVM explode into a partial
    hash aggregate; the shuffle carries bin counts, never pixels)."""
    from .operators.stats import value_histogram

    res = _mosaic_result_cached(sf_dir, spark)
    return value_histogram(
        _level0_tiles(res), nullval=int(res.grid.nullval)
    ).select(
        "band",
        F.col("val").cast("int").alias("val"),
        F.col("n_px").cast("long").alias("n_px"),
    )


SQL_MOSAIC_HISTOGRAM = f"""{_sql_prologue()}
SELECT 1 AS band, CAST(val AS INT) AS val, CAST(count(*) AS BIGINT) AS n_px
FROM merged
GROUP BY val
"""


def q_flow_basins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drainage-basin labeling (watershed segmentation) over the
    stitched mosaic: terrain D8 -> per-cell flow edges (JVM posexplode)
    -> pointer-doubling sink resolution (functions/hydro.flow_basins,
    O(log max-path) shuffle rounds — the same round shape as the dedup
    connected-components) -> per-basin rollup. The oracle recomputes
    D8 per pixel from the merged CTE and resolves sinks with TEN
    chained materialized self-join CTEs (2^10 hops >= any path in the
    984^2 fixture; Spark side converges by count, oracle by depth)."""
    from .functions.hydro import basin_summary

    b = _basins_cached(sf_dir, spark)
    return basin_summary(b).select(
        F.col("basin").cast("long").alias("basin"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("max_dist").cast("long").alias("max_dist"),
        F.col("sum_dist").cast("long").alias("sum_dist"),
        F.col("wsum_gid").cast("long").alias("wsum_gid"),
    )


def q_basin_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query — 'mean elevation per watershed': the basin
    relation (graph result) equi-joined on gid with the mosaic's
    per-cell values (raster result), aggregated per basin. Reuses
    q_flow_basins' machinery for the labels and a JVM posexplode for
    the values; the join is slim-row hash join on gid, the aggregate
    is partial-algebra. Only basins with >= 50 cells are reported
    (keeps the relation stable and small, like a real report would)."""
    from .pixels import unpack_u2

    res = _mosaic_result_cached(sf_dir, spark)
    gnc = int(res.grid.ncols)
    basins = _basins_cached(sf_dir, spark)
    tiles = _level0_tiles(res)
    px = unpack_u2(F.col("pixels"))
    from .plans.grid import global_pixel_index

    vals = tiles.select(
        "band", "tile_row", "tile_col", "xsize",
        F.posexplode(px).alias("pos", "val"),
    ).select(
        "band",
        global_pixel_index(F.col("pos"), BLOCKSIZE, gnc).alias("gid"),
        F.col("val").cast("long").alias("val"),
    )
    joined = basins.where(F.col("is_cell")).join(vals, ["band", "gid"])
    return joined.groupBy("basin").agg(
        F.count("*").alias("n"),
        F.sum("val").alias("sum_val"),
        F.min("val").cast("long").alias("min_val"),
        F.max("val").cast("long").alias("max_val"),
    ).where(F.col("n") >= 50).select(
        F.col("basin").cast("long").alias("basin"),
        F.col("n").cast("long").alias("n"),
        F.col("sum_val").cast("long").alias("sum_val"),
        "min_val", "max_val",
    )


def _basin_zonal_sql() -> str:
    doubling = "\n".join(
        f"s{k + 1} AS MATERIALIZED (\n"
        f"  SELECT a.gid, b.ptr, a.dist + b.dist AS dist\n"
        f"  FROM s{k} a JOIN s{k} b ON b.gid = a.ptr\n"
        f"),"
        for k in range(_BASIN_DOUBLING_ROUNDS)
    )
    last = f"s{_BASIN_DOUBLING_ROUNDS}"
    return f"""{_sql_prologue()},{_d8_ctes()},
{_BASIN_EDGES_SQL}
{doubling}
final AS (
  SELECT e.gid, s.ptr AS basin
  FROM edges e JOIN {last} s ON s.gid = e.gid
),
mg AS MATERIALIZED (
  SELECT m.r * g.g_ncols + m.c AS gid, m.val
  FROM merged m, grid g
),
cells AS (
  SELECT f.basin, m.val
  FROM final f JOIN mg m ON m.gid = f.gid
)
SELECT CAST(basin AS BIGINT) AS basin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(val) AS BIGINT) AS sum_val,
       CAST(min(val) AS BIGINT) AS min_val,
       CAST(max(val) AS BIGINT) AS max_val
FROM cells
GROUP BY basin
HAVING count(*) >= 50
"""


_BASIN_DOUBLING_ROUNDS = 10  # 2^10 = 1024 hops >= any path in the fixture

# edges + doubling seed, shared by the basin oracles. Virtual outlets
# (dst outside the defined set) become absorbing self-loops, exactly
# as in hydro.flow_basins.
_BASIN_EDGES_SQL = """
edges AS MATERIALIZED (
  SELECT d.r * g.g_ncols + d.c AS gid,
         CASE d.d8
           WHEN 8 THEN d.r * g.g_ncols + d.c
           WHEN 0 THEN (d.r - 1) * g.g_ncols + d.c
           WHEN 1 THEN (d.r - 1) * g.g_ncols + (d.c + 1)
           WHEN 2 THEN d.r * g.g_ncols + (d.c + 1)
           WHEN 3 THEN (d.r + 1) * g.g_ncols + (d.c + 1)
           WHEN 4 THEN (d.r + 1) * g.g_ncols + d.c
           WHEN 5 THEN (d.r + 1) * g.g_ncols + (d.c - 1)
           WHEN 6 THEN d.r * g.g_ncols + (d.c - 1)
           ELSE (d.r - 1) * g.g_ncols + (d.c - 1)
         END AS dst
  FROM d8 d, grid g
),
s0 AS MATERIALIZED (
  SELECT gid, dst AS ptr, CASE WHEN dst = gid THEN 0 ELSE 1 END AS dist
  FROM edges
  UNION ALL
  SELECT DISTINCT dst AS gid, dst AS ptr, 0 AS dist
  FROM edges
  WHERE dst NOT IN (SELECT gid FROM edges)
),"""


def _flow_basins_sql() -> str:
    doubling = "\n".join(
        f"s{k + 1} AS MATERIALIZED (\n"
        f"  SELECT a.gid, b.ptr, a.dist + b.dist AS dist\n"
        f"  FROM s{k} a JOIN s{k} b ON b.gid = a.ptr\n"
        f"),"
        for k in range(_BASIN_DOUBLING_ROUNDS)
    )
    last = f"s{_BASIN_DOUBLING_ROUNDS}"
    return f"""{_sql_prologue()},{_d8_ctes()},
{_BASIN_EDGES_SQL}
{doubling}
final AS (
  SELECT e.gid, s.ptr AS basin, s.dist
  FROM edges e JOIN {last} s ON s.gid = e.gid
)
SELECT CAST(basin AS BIGINT) AS basin,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(max(dist) AS BIGINT) AS max_dist,
       CAST(sum(dist) AS BIGINT) AS sum_dist,
       CAST(sum(gid % 1000003) AS BIGINT) AS wsum_gid
FROM final
GROUP BY basin
"""


ACC_TILES = 2  # flow-accumulation query runs on the 2x2-tile subgrid


def q_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow accumulation (upstream cell count) via the distributed
    Euler tour + list ranking (functions/hydro.flow_accumulation) —
    the O(log)-round form of a subtree-sum, which plain pointer
    doubling cannot express. Runs on the 512^2 top-left subgrid so
    the oracle's independent ancestor-path enumeration (a recursive
    CTE materializing every (cell, ancestor) hop — Theta(sum of path
    lengths), fine at fixture scale, exactly what the Euler tour
    avoids at 100 TB) stays tractable. Output: per-tile rollups of
    acc over real cells, position-gated."""
    from .functions.focal import terrain
    from .functions.hydro import d8_edges, flow_accumulation
    from .plans.grid import global_pixel_index

    res = _mosaic_result_cached(sf_dir, spark)
    gnc = int(res.grid.ncols)
    sub = _level0_tiles(res).where(
        (F.col("tile_row") < ACC_TILES) & (F.col("tile_col") < ACC_TILES)
    )
    terr = terrain(
        sub, xres=float(res.grid.x_res), yres=float(res.grid.y_res),
        nullval=int(res.grid.nullval),
    )
    edges = d8_edges(terr, g_ncols=gnc, blocksize=BLOCKSIZE)
    acc = flow_accumulation(edges).where(F.col("is_cell"))
    r = (F.col("gid") / gnc).cast("long")
    c = F.col("gid") % gnc
    return acc.select(
        "band", "gid", "acc",
        F.floor(r / BLOCKSIZE).cast("int").alias("tile_row"),
        F.floor(c / BLOCKSIZE).cast("int").alias("tile_col"),
    ).groupBy("band", "tile_row", "tile_col").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("acc").cast("long").alias("sum_acc"),
        F.sum(F.col("acc") * F.col("gid")).cast("long").alias("wsum_acc"),
        F.max("acc").cast("long").alias("max_acc"),
    )


def _flow_accumulation_sql() -> str:
    lim = ACC_TILES * BLOCKSIZE
    return f"""{_sql_prologue()},
msub AS (
  SELECT r, c, val FROM merged WHERE r < {lim} AND c < {lim}
),{_d8_ctes(src="msub")},
ed AS MATERIALIZED (
  SELECT d.r * g.g_ncols + d.c AS gid,
         CASE d.d8
           WHEN 8 THEN d.r * g.g_ncols + d.c
           WHEN 0 THEN (d.r - 1) * g.g_ncols + d.c
           WHEN 1 THEN (d.r - 1) * g.g_ncols + (d.c + 1)
           WHEN 2 THEN d.r * g.g_ncols + (d.c + 1)
           WHEN 3 THEN (d.r + 1) * g.g_ncols + (d.c + 1)
           WHEN 4 THEN (d.r + 1) * g.g_ncols + d.c
           WHEN 5 THEN (d.r + 1) * g.g_ncols + (d.c - 1)
           WHEN 6 THEN d.r * g.g_ncols + (d.c - 1)
           ELSE (d.r - 1) * g.g_ncols + (d.c - 1)
         END AS dst
  FROM d8 d, grid g
),
anc AS (
  -- every (cell, ancestor) hop along its sink path: unique paths in a
  -- functional forest, so UNION ALL needs no dedup
  WITH RECURSIVE walk(u, a) AS (
    SELECT gid, dst FROM ed WHERE dst != gid
    UNION ALL
    SELECT w.u, e.dst
    FROM walk w JOIN ed e ON e.gid = w.a AND e.dst != e.gid
  )
  SELECT u, a FROM walk
),
acc AS (
  SELECT e.gid, 1 + coalesce(n.n, 0) AS acc
  FROM ed e
  LEFT JOIN (SELECT a, count(*) AS n FROM anc GROUP BY a) n ON n.a = e.gid
)
SELECT 1 AS band,
       CAST(floor(a.gid / g.g_ncols / {BLOCKSIZE}) AS INT) AS tile_row,
       CAST(floor((a.gid % g.g_ncols) * 1.0 / {BLOCKSIZE}) AS INT) AS tile_col,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(a.acc) AS BIGINT) AS sum_acc,
       CAST(sum(a.acc * a.gid) AS BIGINT) AS wsum_acc,
       CAST(max(a.acc) AS BIGINT) AS max_acc
FROM acc a, grid g
GROUP BY 1, 2, 3
"""


KNN_K = 3
KNN_R = 3 * R_STRIDE * RES  # candidate radius (m) — ≥ k sources inside


def q_tile_knn_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star kNN: for every output tile, the KNN_K nearest source
    rasters by footprint-center distance — routed through the AT-SCALE
    form, functions/knn.knn_join (cell-keyed equi-join with ring
    widening, auto cell size, exact top-k, no broadcast of the full
    candidate cross-range), so the plan the oracle gates every round is
    the plan a 100 TB run uses. The hash-join shape is asserted inside
    the query path: any BroadcastNestedLoopJoin / CartesianProduct in
    the final plan raises before a row is returned. Ties (the derived
    corpus is a symmetric grid, so distances DO tie) break
    deterministically by priority."""
    from .functions.knn import knn_join

    res = _mosaic_result_cached(sf_dir, spark)
    from .plans.grid import make_tile_relation

    g = res.grid
    tiles = make_tile_relation(spark, g, BLOCKSIZE).select(
        "tile_row", "tile_col",
        (F.lit(g.x_min) + (F.col("left") + F.col("xsize") / 2.0) * F.lit(g.x_res)).alias("tx"),
        (F.lit(g.y_max) - (F.col("top") + F.col("ysize") / 2.0) * F.lit(g.y_res)).alias("ty"),
    )
    fp = derived_footprints(spark, sf_dir).select(
        "media_ref", "priority",
        (F.col("x0") + R_SIZE * RES / 2.0).alias("cx"),
        (F.col("y0") - R_SIZE * RES / 2.0).alias("cy"),
    )
    out = knn_join(
        tiles, fp, KNN_K,
        left_keys=["tile_row", "tile_col"],
        lx="tx", ly="ty", rx="cx", ry="cy",
        right_cols=["media_ref"],
        tiebreak=["priority"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        if bad in plan:
            raise AssertionError(f"tile-kNN plan degraded to {bad}")
    return out.select(
        "tile_row", "tile_col", F.col("knn_rank").cast("int").alias("k"),
        "media_ref", F.round("d2", 4).alias("d2"),
    )


def _tile_knn_sql() -> str:
    half = R_SIZE * RES / 2.0
    return f"""{_sql_prologue()}
, fpc AS (
  SELECT media_ref, priority, x0 + {half!r} AS cx, y0 - {half!r} AS cy FROM fp
),
tc AS (
  SELECT tile_row, tile_col,
         g.x_min + (t.t_left + t.t_xsize / 2.0) * {RES} AS tx,
         g.y_max - (t.t_top + t.t_ysize / 2.0) * {RES} AS ty
  FROM tiles t, grid g
),
cand AS (
  SELECT t.tile_row, t.tile_col, f.media_ref, f.priority,
         (t.tx - f.cx) * (t.tx - f.cx) + (t.ty - f.cy) * (t.ty - f.cy) AS d2
  FROM tc t, fpc f
  WHERE abs(t.tx - f.cx) <= {KNN_R!r} AND abs(t.ty - f.cy) <= {KNN_R!r}
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY tile_row, tile_col ORDER BY d2, priority) AS k
  FROM cand
)
SELECT tile_row, tile_col, CAST(k AS INT) AS k, media_ref,
       round(d2, 4) AS d2
FROM ranked
WHERE k <= {KNN_K}
"""


def q_cell_covers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.spatial_join import _footprint_cell_covers

    res = _mosaic_result_cached(sf_dir, spark)
    fp = derived_footprints(spark, sf_dir)
    cov = _footprint_cell_covers(fp, res.grid, CELL_PX * RES, pad=0.0)
    return cov.groupBy("media_ref").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.min("cell_id").cast("long").alias("min_cell"),
        F.max("cell_id").cast("long").alias("max_cell"),
    )


# ---------------------------------------------------------------------------
# Text / dedup / similarity queries (documents, embeddings)
# ---------------------------------------------------------------------------

def _read_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet ships as one small file -> one partition; a
    single task would then do ALL downstream hashing work. Spread it
    (value-neutral; at real scale file splitting does this naturally)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.repartition(spark.sparkContext.defaultParallelism)


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_docs(spark, sf_dir)
    qf = T.quality_features(docs)
    return qf.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
    )


SQL_DOC_TOKEN_STATS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok, text
  FROM documents
)
SELECT doc_id,
       CAST(len(tok) AS BIGINT) AS n_tokens,
       round(CASE WHEN len(tok) > 0
             THEN length(list_aggregate(tok, 'string_agg', '')) * 1.0 / len(tok)
             ELSE 0.0 END, 6) AS mean_token_len,
       round(CASE WHEN len(tok) > 0
             THEN len(list_filter(tok, x -> x IN ('the','a','and','of','to','in','is','it'))) * 1.0 / len(tok)
             ELSE 0.0 END, 6) AS stopword_ratio,
       round(CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)
             ELSE 0.0 END, 6) AS alpha_ratio
FROM toks
"""


ROLL_K = 16


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretoken counts (LLM token-count proxy) + rolling-hash
    document fingerprint (min portable hash over 16-char grams)."""
    docs = _read_docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        T.rolling_min_fingerprint(F.col("text"), ROLL_K).cast("long").alias("roll_fp"),
    )


def _doc_fingerprints_sql() -> str:
    from .functions.text import BPE_ISH_PATTERN

    pat = BPE_ISH_PATTERN.replace("'", "''")
    gram_hash = hash32_sql(f"substr(text, CAST(i AS INT), {ROLL_K})")
    whole_hash = hash32_sql("text")
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_bpe_tokens,
       CAST(CASE WHEN length(text) >= {ROLL_K}
            THEN list_min(list_transform(
                   generate_series(1, length(text) - {ROLL_K - 1}),
                   i -> {gram_hash}))
            ELSE {whole_hash} END AS BIGINT) AS roll_fp
FROM documents
"""


SPAN_WORDS = 5  # words per derived text span


def derived_span_docs(docs: DataFrame) -> DataFrame:
    """Deterministic interleaved text+media documents derived from the
    flat corpus (the input_hint table shape: doc_id, spans:
    array<struct<kind, text, media_ref, offset>>): the text splits into
    {SPAN_WORDS}-word text spans, each followed by a synthetic media
    span, offsets strictly increasing — generated entirely JVM-side."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ng = F.ceil(F.size(toks) / SPAN_WORDS).cast("int")
    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(0), ng - 1),
            lambda g: F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.concat_ws(
                        " ", F.slice(toks, g * SPAN_WORDS + 1, SPAN_WORDS)
                    ).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    (g * 2).cast("int").alias("offset"),
                ),
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.concat(
                        F.lit("m"), F.col("doc_id").cast("string"),
                        F.lit("_"), g.cast("string"),
                    ).alias("media_ref"),
                    (g * 2 + 1).cast("int").alias("offset"),
                ),
            ),
        )
    )
    return docs.select("doc_id", spans.alias("spans"))


def q_doc_span_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint's per-row invariant, oracle-gated: span sequences
    (kind, text, media_ref, offset order) survive the engine's explode
    -> shuffle -> ordered reassembly round trip. Spark explodes the
    derived spans, groups them back per doc and fingerprints the
    offset-ordered canonical sequence; DuckDB computes the same
    fingerprint directly from the same derivation — any reorder, drop
    or mutation anywhere in the round trip breaks the hash match."""
    docs = _read_docs(spark, sf_dir)
    sd = derived_span_docs(docs)
    rows = sd.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    canon = F.concat_ws(
        "|",
        F.col("kind"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("media_ref"), F.lit("")),
        F.col("offset").cast("string"),
    )
    per_span = rows.select(
        "doc_id", F.struct(F.col("offset"), canon.alias("canon")).alias("sp")
    )
    # groupBy = a REAL shuffle between explode and reassembly
    return (
        per_span.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list("sp")), lambda x: x["canon"]
                    ),
                )
            ).alias("span_fp"),
        )
        .select(F.col("doc_id").cast("long").alias("doc_id"), "n_spans", "span_fp")
    )


SQL_DOC_SPAN_ROUNDTRIP = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok FROM documents
),
g AS (
  SELECT doc_id, tok, CAST(ceil(len(tok) / {SPAN_WORDS}.0) AS INT) AS ng FROM toks
),
spans AS (
  SELECT doc_id, gs.i AS grp,
         'text|' || array_to_string(tok[gs.i*{SPAN_WORDS}+1 : gs.i*{SPAN_WORDS}+{SPAN_WORDS}], ' ')
           || '||' || CAST(gs.i*2 AS VARCHAR) AS s_text,
         'media||m' || CAST(doc_id AS VARCHAR) || '_' || CAST(gs.i AS VARCHAR)
           || '|' || CAST(gs.i*2+1 AS VARCHAR) AS s_media
  FROM g, generate_series(0, 99999) gs(i)
  WHERE gs.i < ng
),
flat AS (
  SELECT doc_id, grp*2 AS off, s_text AS s FROM spans
  UNION ALL
  SELECT doc_id, grp*2+1 AS off, s_media AS s FROM spans
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       md5(string_agg(s, chr(10) ORDER BY off)) AS span_fp
FROM flat
GROUP BY doc_id
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_docs(spark, sf_dir)
    return D.exact_duplicates(docs).select(
        "fp", F.col("n_docs").cast("long").alias("n_docs"), F.col("keep_id").cast("long").alias("keep_id")
    )


SQL_DEDUP_EXACT = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM documents
GROUP BY 1
"""


def q_dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=0.2)
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_SQL_SHINGLES = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok FROM documents
),
shl AS (
  SELECT doc_id,
         CASE WHEN len(tok) >= 3
           THEN list_transform(generate_series(0, len(tok) - 3),
                               i -> tok[i + 1] || ' ' || tok[i + 2] || ' ' || tok[i + 3])
           ELSE [list_aggregate(tok, 'string_agg', ' ')]
         END AS shingles
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shl
)
"""

SQL_DEDUP_NGRAM_PAIRS = _SQL_SHINGLES + """,
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
       round(i.n_common * 1.0 / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_common * 1.0 / (sa.n_sh + sb.n_sh - i.n_common) >= 0.2
"""


N_MINHASH = 8

_SIG_CACHE: dict = {}


def _minhash_sig_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted minhash-signature relation per (session, sf_dir):
    q_dedup_minhash_sig, q_dedup_lsh_candidates and q_dedup_lsh_neardup
    all derive from it, so a run evaluating the dedup family pays the
    shingle + hash scan ONCE (round-2 verdict item 7)."""
    key = (spark, sf_dir)
    if key not in _SIG_CACHE:
        docs = _read_docs(spark, sf_dir)
        _SIG_CACHE[key] = D.minhash_signatures(
            docs, k=3, num_hashes=N_MINHASH
        ).persist()
    return _SIG_CACHE[key]


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_sig_cached(spark, sf_dir)
    return sig.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[F.col(f"h{i}").cast("long").alias(f"h{i}") for i in range(N_MINHASH)],
    )


def _minhash_sig_sql() -> str:
    mins = ",\n       ".join(
        f"CAST(min({seeded_hash32_sql(i, 'shingle')}) AS BIGINT) AS h{i}"
        for i in range(N_MINHASH)
    )
    return f"""{_SQL_SHINGLES}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {mins}
FROM sh
GROUP BY doc_id
"""


N_LSH_BANDS = 4


def q_dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH banding — the advertised 100-TB dedup path: docs
    sharing any (band, signature-tuple) bucket are candidate pairs.
    Buckets are the band VALUE tuples (portable), so DuckDB replays
    candidate generation bit-identically."""
    docs = _read_docs(spark, sf_dir)
    cand = D.minhash_lsh_candidates(
        docs, k=3, num_hashes=N_MINHASH, bands=N_LSH_BANDS,
        signatures=_minhash_sig_cached(spark, sf_dir),
    )
    return cand.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("n_shared_bands").cast("long").alias("n_shared_bands"),
    )


def _lsh_sig_bb_ctes() -> str:
    """The minhash-signature + banding CTEs shared by every LSH oracle
    (one definition so the bucket encoding cannot silently diverge
    between them)."""
    rows_per_band = N_MINHASH // N_LSH_BANDS
    mins = ",\n       ".join(
        f"CAST(min({seeded_hash32_sql(i, 'shingle')}) AS BIGINT) AS h{i}"
        for i in range(N_MINHASH)
    )
    band_selects = []
    for b in range(N_LSH_BANDS):
        cols = [f"h{b * rows_per_band + i}" for i in range(rows_per_band)]
        bucket = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {bucket} AS bucket FROM sig"
        )
    bb = "\n  UNION ALL ".join(band_selects)
    return f"""sig AS (
  SELECT doc_id,
       {mins}
  FROM sh
  GROUP BY doc_id
),
bb AS (
  {bb}
)"""


def _lsh_candidates_sql() -> str:
    return f"""{_SQL_SHINGLES},
{_lsh_sig_bb_ctes()}
SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
       CAST(b.doc_id AS BIGINT) AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_bands
FROM bb a
JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_dedup_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full bucketed dedup pipeline: LSH candidates -> exact
    Jaccard re-rank on candidates only (the 100-TB path end-to-end)."""
    docs = _read_docs(spark, sf_dir)
    pairs = D.lsh_neardup_pairs(
        docs, k=3, num_hashes=N_MINHASH, bands=N_LSH_BANDS, threshold=0.2,
        signatures=_minhash_sig_cached(spark, sf_dir),
    )
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# LSH candidate-pair + shingle-set CTEs shared by the neardup oracle
# and the cluster oracles (one definition so a bucket/threshold change
# cannot silently desynchronize them — same rationale as
# _lsh_sig_bb_ctes)
_SQL_CAND_SETS = """cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bb a
  JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sets AS (
  SELECT doc_id, list(shingle) AS shset, count(*) AS n_sh FROM sh GROUP BY doc_id
)"""


def _lsh_neardup_sql() -> str:
    return f"""{_SQL_SHINGLES},
{_lsh_sig_bb_ctes()},
{_SQL_CAND_SETS},
scored AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shset, sb.shset)) * 1.0
         / (sa.n_sh + sb.n_sh - len(list_intersect(sa.shset, sb.shset))) AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       round(jaccard, 6) AS jaccard
FROM scored
WHERE jaccard >= 0.2
"""


_CLUSTERS_CACHE: dict = {}


def _dedup_clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted cluster relation per (session, sf_dir):
    q_dedup_clusters and q_corpus_clean_clustered both consume it, so
    the eager connected-components iteration (several Spark jobs at
    construction time) runs ONCE per run — same pattern as
    _minhash_sig_cached."""
    key = (spark, sf_dir)
    if key not in _CLUSTERS_CACHE:
        docs = _read_docs(spark, sf_dir)
        _CLUSTERS_CACHE[key] = D.dedup_clusters(
            docs, k=3, num_hashes=N_MINHASH, bands=N_LSH_BANDS, threshold=0.2,
            signatures=_minhash_sig_cached(spark, sf_dir),
        ).persist()
    return _CLUSTERS_CACHE[key]


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment — the step after pairwise dedup:
    near-dup pairs (LSH + exact-Jaccard re-rank) union exact-fingerprint
    edges, resolved to connected components (alternating large-star/
    small-star, functions/dedup.py:connected_components), one row per
    document with its component-min cluster id and the keep flag. A
    chain A~B~C where A and C share no LSH band still collapses to one
    kept doc. Oracle: DuckDB recursive-CTE transitive closure."""
    cl = _dedup_clusters_cached(spark, sf_dir)
    return cl.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("is_kept").cast("int").alias("is_kept"),
    )


def _near_exact_edge_ctes() -> str:
    """CTE block producing the undirected duplicate-evidence edge set
    (near-dup pairs at threshold 0.2 union exact-fingerprint edges) —
    shared by the clusters oracle and the clustered corpus-clean
    oracle. Assumes _SQL_SHINGLES + _lsh_sig_bb_ctes() are in scope."""
    return _SQL_CAND_SETS + """,
near AS (
  SELECT c.doc_a AS u, c.doc_b AS v
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
  WHERE len(list_intersect(sa.shset, sb.shset)) * 1.0
        / (sa.n_sh + sb.n_sh - len(list_intersect(sa.shset, sb.shset))) >= 0.2
),
fps AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
),
exact_e AS (
  SELECT min(doc_id) OVER (PARTITION BY fp) AS u, doc_id AS v
  FROM fps
  QUALIFY u <> v
),
e0 AS (SELECT u, v FROM near UNION SELECT u, v FROM exact_e),
edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lab AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)"""


def _dedup_clusters_sql() -> str:
    return f"""{_SQL_SHINGLES.replace("WITH toks", "WITH RECURSIVE toks", 1)},
{_lsh_sig_bb_ctes()},
{_near_exact_edge_ctes()}
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(coalesce(l.cluster_id, d.doc_id) = d.doc_id AS INT) AS is_kept
FROM documents d
LEFT JOIN lab l ON l.doc_id = d.doc_id
"""


def q_corpus_clean_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_clean consuming CLUSTERS: quality gate, then keep exactly
    the min-id passing doc of each duplicate cluster (near + exact
    evidence, transitively closed) — the full production keep/drop
    chain, vs q_corpus_clean's exact-only keep-list."""
    docs = _read_docs(spark, sf_dir)
    qf = T.quality_features(docs)
    passed = qf.where((F.col("n_tokens") >= 10) & (F.col("stopword_ratio") <= 0.5))
    clusters = _dedup_clusters_cached(spark, sf_dir).select("doc_id", "cluster_id")
    pc = passed.join(clusters, on="doc_id")
    keep = pc.groupBy("cluster_id").agg(F.min("doc_id").alias("doc_id"))
    return (
        pc.join(keep.select("doc_id"), on="doc_id", how="left_semi")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def _corpus_clean_clustered_sql() -> str:
    return f"""{_SQL_SHINGLES.replace("WITH toks", "WITH RECURSIVE toks", 1)},
{_lsh_sig_bb_ctes()},
{_near_exact_edge_ctes()},
{_SQL_QF_CTE},
passed AS (
  SELECT p.doc_id, p.n_tokens,
         coalesce(l.cluster_id, p.doc_id) AS cluster_id
  FROM qf p
  LEFT JOIN lab l ON l.doc_id = p.doc_id
  WHERE p.n_tokens >= 10 AND p.stopword_ratio <= 0.5
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM passed
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY cluster_id)
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_docs(spark, sf_dir)
    return D.simhash(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


SQL_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, {hash60_sql('tok')} AS h FROM toks
),
votes AS (
  SELECT doc_id, b.i AS bit,
         sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed, generate_series(0, 59) b(i)
  GROUP BY doc_id, b.i
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes
GROUP BY doc_id
"""


TOPK_K = 10


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0].embedding]
    top = S.brute_force_topk(emb, qvec, k=TOPK_K)
    return top.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


SQL_EMBEDDING_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))) AS cs
  FROM embeddings e, q
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, round(cs, 4) AS cos_sim
FROM scored
ORDER BY cs DESC, vec_id
LIMIT {TOPK_K}
"""


# ---------------------------------------------------------------------------
# Relational demos (Catalyst-native operator coverage)
# ---------------------------------------------------------------------------

def q_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


SQL_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_quantity > 0
GROUP BY l_returnflag, l_linestatus
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT event_type, date_trunc('hour', ts) AS hour,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


SQL_ORDERS_BY_NATION = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 interval-union aggregate (the reference's wall-clock overlap
    sweep, monitoring.py:128-158) distributed as window functions."""
    from .monitoring import interval_union_seconds

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # TIMESTAMP_NTZ -> epoch seconds: via ltz under the UTC session tz
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    epoch = F.col("ts").cast("timestamp_ltz").cast("double")
    iv = ev.select(
        "event_type",
        epoch.alias("s"),
        (epoch + F.abs("value") + 1).alias("e"),
    )
    out = interval_union_seconds(iv, "s", "e", ["event_type"])
    return out.select("event_type", F.round("union_seconds", 4).alias("union_seconds"))


SQL_EVENTS_INTERVAL_UNION = """
WITH iv AS (SELECT event_type, CAST(epoch(ts) AS DOUBLE) AS s,
                   CAST(epoch(ts) AS DOUBLE) + abs(value) + 1 AS e FROM events),
ev AS (SELECT event_type, s AS ts, 1 AS delta FROM iv
       UNION ALL SELECT event_type, e, -1 FROM iv),
d AS (SELECT event_type, ts, delta,
        sum(delta) OVER (PARTITION BY event_type ORDER BY ts, delta DESC ROWS UNBOUNDED PRECEDING) AS depth
      FROM ev),
d2 AS (SELECT *, lag(depth, 1, 0) OVER (PARTITION BY event_type ORDER BY ts, delta DESC) AS prev_depth FROM d),
d3 AS (SELECT *, CASE WHEN depth = 1 AND prev_depth = 0 THEN ts END AS island_start FROM d2),
d4 AS (SELECT *, last_value(island_start IGNORE NULLS) OVER
         (PARTITION BY event_type ORDER BY ts, delta DESC ROWS UNBOUNDED PRECEDING) AS open_ts FROM d3)
SELECT event_type, round(sum(ts - open_ts), 4) AS union_seconds
FROM d4 WHERE depth = 0 GROUP BY event_type
"""


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.round("value", 4).alias("value"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


SQL_TOP_EVENTS_PER_USER = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       round(value, 4) AS value,
       CAST(rk AS INT) AS rk
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
  FROM events
)
WHERE rk <= 3
"""


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (functions/asof.py): every purchase event attributed
    to the user's latest prior-or-simultaneous view event. The oracle
    is DuckDB's NATIVE ``ASOF LEFT JOIN`` — a fully independent
    implementation of the semantics. Views are deduped per (user, ts)
    by max event_id so the match is deterministic."""
    from .functions.asof import asof_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, views, on=["user_id"], ts="ts",
                    right_values=["view_event"])
    return out.select(
        F.col("event_id").cast("long").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("view_event_r").cast("long").alias("view_id"),
        # events.ts is TIMESTAMP_NTZ; the session-tz shift of the cast
        # cancels in the difference, leaving exact microseconds
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_r").cast("timestamp"))
        ).cast("long").alias("gap_us"),
    )


SQL_PURCHASE_ATTRIBUTION = """
WITH v AS (
  SELECT user_id, ts, max(event_id) AS view_event
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
       CAST(p.user_id AS BIGINT) AS user_id,
       CAST(v.view_event AS BIGINT) AS view_id,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def q_events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: daily stats
    computed by RE-AGGREGATING hourly partials (count/sum/sum-of-
    squares — the same partial algebra the stitch kernel uses for pixel
    stats), never rescanning the raw events; the oracle computes daily
    straight from raw. Matching proves the partial algebra is lossless
    across the cascade — the property that makes continuous aggregates
    correct at any depth."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("_ts"),
        "event_type",
        # exact integer cents: partial sums are then EXACT, so the
        # derived doubles are bit-identical across engines. floor of
        # the identical double is portable; round()/bround() are not
        # (engines disagree on both .5 ties AND shortest-repr rounding)
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("vc"),
    )
    hourly = ev.groupBy(
        F.window("_ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("sc"),
        F.sum(F.col("vc") * F.col("vc")).alias("qc"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("w.start")).alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n"), F.sum("sc").alias("sc"), F.sum("qc").alias("qc")
    )
    mean = F.col("sc") / F.col("n") / 100.0
    var = F.greatest(
        F.col("qc") / F.col("n") / 10000.0 - mean * mean, F.lit(0.0)
    )
    # floor-scale instead of round: floor of a bit-identical double is
    # bit-identical; round() is not (see above)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sc").cast("long").alias("sum_cents"),
        F.floor(mean * 10000 + 0.5).cast("long").alias("mean_x1e4"),
        F.floor(F.sqrt(var) * 10000 + 0.5).cast("long").alias("stddev_x1e4"),
    )


SQL_EVENTS_DAILY_ROLLUP = """
WITH e AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events
),
d AS (
  SELECT day, event_type,
         count(*) AS n, sum(vc) AS sc, sum(vc * vc) AS qc
  FROM e GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       event_type,
       CAST(n AS BIGINT) AS n,
       CAST(sc AS BIGINT) AS sum_cents,
       CAST(floor(sc * 1.0 / n / 100.0 * 10000 + 0.5) AS BIGINT) AS mean_x1e4,
       CAST(floor(sqrt(greatest(qc * 1.0 / n / 10000.0
            - (sc * 1.0 / n / 100.0) * (sc * 1.0 / n / 100.0), 0.0))
            * 10000 + 0.5) AS BIGINT) AS stddev_x1e4
FROM d
"""


KMV_K = 8  # < the sf0.001 per-type distinct-user count, so the parity gate exercises the ESTIMATOR branch, not just the exact fallback


def q_user_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (functions/sketch.py): per event type,
    the exact distinct-user count and the bottom-k estimate — the
    portable hash family makes even the ESTIMATE bit-reproducible, so
    DuckDB hash-matches a sketch."""
    from .functions.sketch import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(ev, ["event_type"], "user_id", k=KMV_K).select(
        "event_type", "n_hashes", "kmv_est"
    )


SQL_USER_DISTINCT_KMV = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         {hash32_sql("CAST(user_id AS VARCHAR)")} AS hv
  FROM events WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM h
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hashes,
       round(coalesce({float(KMV_K - 1)!r} * {float(2**32)!r}
             / max(CASE WHEN rk = {KMV_K} THEN hv END),
             CAST(count(*) AS DOUBLE)), 4) AS kmv_est
FROM ranked
GROUP BY event_type
"""


ERR_WINDOW_S = 600  # error aftermath window (s)


def q_error_window_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (functions/ranges.py): every purchase inside the
    10-minute window after an error by the same user — the bucketed
    interval join vs DuckDB's plain inequality join. Exact integer
    microsecond arithmetic on both sides."""
    from .functions.ranges import interval_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", tsu.alias("t_us")
    )
    ivs = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        tsu.alias("s_us"),
        (tsu + ERR_WINDOW_S * 1_000_000).alias("e_us"),
    )
    out = interval_join(
        pts, ivs, on=["user_id"], ts="t_us", start="s_us", end="e_us",
        bucket_size=ERR_WINDOW_S * 1_000_000,
    )
    return out.select(
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("error_id").cast("long").alias("error_id"),
        F.col("user_id").cast("long").alias("user_id"),
        (F.col("t_us") - F.col("s_us")).cast("long").alias("lag_us"),
    )


SQL_ERROR_WINDOW_PURCHASES = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS t_us
  FROM events WHERE event_type = 'purchase'
),
e AS (
  SELECT event_id AS error_id, user_id, epoch_us(ts) AS s_us
  FROM events WHERE event_type = 'error'
)
SELECT CAST(p.purchase_id AS BIGINT) AS purchase_id,
       CAST(e.error_id AS BIGINT) AS error_id,
       CAST(p.user_id AS BIGINT) AS user_id,
       CAST(p.t_us - e.s_us AS BIGINT) AS lag_us
FROM p JOIN e ON p.user_id = e.user_id
 AND p.t_us >= e.s_us AND p.t_us < e.s_us + {ERR_WINDOW_S * 1_000_000}
"""


SESSION_GAP_S = 900.0


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization (gaps-and-islands; the batch/exact twin
    of the applyInPandasWithState streaming operator in
    streaming/sessions.py)."""
    from .streaming.sessions import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # integer MICROSECONDS, not float epoch: Spark's and DuckDB's
    # float epoch conversions disagree in the last ulp, which any fixed
    # decimal rounding can straddle; unix_micros/epoch_us are exact.
    epoch = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    sess = sessionize(
        ev.select("user_id", epoch.alias("epoch"), "value"),
        SESSION_GAP_S * 1e6,
    )
    return sess.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_start").cast("long").alias("session_start_us"),
        F.col("session_end").cast("long").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    )


SQL_USER_SESSIONS = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS e, value FROM events
),
lagd AS (
  SELECT user_id, e, value,
         CASE WHEN lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
                OR e - lag(e) OVER (PARTITION BY user_id ORDER BY e) > {int(SESSION_GAP_S * 1e6)}
              THEN 1 ELSE 0 END AS ns
  FROM ev
),
run AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY e
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM lagd
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(min(e) AS BIGINT) AS session_start_us,
       CAST(max(e) AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM run
GROUP BY user_id, sess
"""


def q_doc_lang_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_docs(spark, sf_dir)
    return T.predict_lang(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "pred_lang",
        F.col("score_en").cast("int").alias("score_en"),
    )


def _lang_pred_sql() -> str:
    from .functions.text import STOPWORDS

    score_exprs = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x IN ({lst}))) AS score_{lang}"
        )
    langs = list(STOPWORDS.keys())
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, {", ".join(score_exprs)} FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {case} AS pred_lang,
       CAST(score_en AS INT) AS score_en
FROM scored
"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed cleaning pipeline: quality gate (token count + stopword
    ratio) -> exact-dedup keep-list -> surviving docs. The canonical
    pretraining-corpus filter chain as one declarative plan."""
    docs = _read_docs(spark, sf_dir)
    qf = T.quality_features(docs)
    passed = qf.where((F.col("n_tokens") >= 10) & (F.col("stopword_ratio") <= 0.5))
    keep = D.exact_duplicates(passed).select(F.col("keep_id").alias("doc_id"))
    kept = passed.join(keep, on="doc_id", how="left_semi")
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


# the quality-gate CTE shared by both corpus-clean oracles (one
# definition so a token/stopword change cannot desynchronize them)
_SQL_QF_CTE = """qf AS (
  SELECT doc_id, text,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
           THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x IN ('the','a','and','of','to','in','is','it'))) * 1.0
                / len(string_split_regex(trim(text), '\\s+'))
           ELSE 0.0 END AS stopword_ratio
  FROM documents
)"""

SQL_CORPUS_CLEAN = f"""
WITH {_SQL_QF_CTE},
passed AS (SELECT * FROM qf WHERE n_tokens >= 10 AND stopword_ratio <= 0.5),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM passed
  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
)
SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       round(p.stopword_ratio, 6) AS stopword_ratio
FROM passed p
WHERE p.doc_id IN (SELECT doc_id FROM keep)
"""


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution on the EMBEDDING modality: the
    exact cosine near-dup pairs become edges, connected components
    assigns every vector its component-min cluster id (transitive
    chains A~B~C collapse even when cos(A,C) < threshold). Same
    DataFrame-algebra CC as the text clusters; oracle = recursive-CTE
    closure over the same SQL pair relation."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = S.neardup_pairs(emb, threshold=0.4999).where(
        F.round("cos_sim", 4) >= 0.5
    )
    cc = D.connected_components(pairs, src="id_a", dst="id_b")
    return (
        emb.select(F.col("vec_id").cast("long").alias("vec_id"))
        .join(
            cc.select(F.col("doc_id").alias("vec_id"), "cluster_id"),
            on="vec_id", how="left",
        )
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id"))
            .cast("long").alias("cluster_id"),
        )
    )


def _embedding_clusters_sql() -> str:
    return f"""WITH RECURSIVE pairs AS (
{SQL_EMBEDDING_NEARDUP_PAIRS}
),
e0 AS (SELECT id_a AS u, id_b AS v FROM pairs),
edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lab AS (SELECT u AS vec_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
SELECT CAST(em.vec_id AS BIGINT) AS vec_id,
       CAST(coalesce(l.cluster_id, em.vec_id) AS BIGINT) AS cluster_id
FROM embeddings em
LEFT JOIN lab l ON l.vec_id = em.vec_id
"""


def q_media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end with REAL decode: the sf-scaled
    BMP/PPM corpus parquet (fixtures/corpus — genuine payloads, pure
    numpy codecs) through the mapInPandas feature extractor. The
    oracle is a decoded-truth sidecar computed from the SOURCE arrays
    at fixture-mint time (the decode path never touched), stored as
    committed parquet (fixtures/truth/media_image.parquet) whose sf
    slice DuckDB selects by its own orders rowcount: a hash match
    gates the whole encode -> decode -> feature chain bit-for-bit."""
    from . import fixtures as FX
    from .operators import multimodal as MM

    media = FX.load_media(spark, sf_dir)
    feats = MM.image_features(media, fake_decode=False)
    return feats.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"),
        F.col("phash").cast("long").alias("phash"),
    )


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM-WAV audio rows through decode + duration/RMS/zero-crossing
    extraction, gated by the source-array truth parquet sidecar (see
    q_media_image_features)."""
    from . import fixtures as FX
    from .operators import multimodal as MM

    media = FX.load_media(spark, sf_dir)
    feats = MM.audio_features(media)
    return feats.select(
        "media_id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("n_samples").cast("int").alias("n_samples"),
        F.round("rms", 4).alias("rms"),
        F.col("zero_crossings").cast("int").alias("zero_crossings"),
    )


def _truth_slice_sql(name: str) -> str:
    """Shared oracle body for sf-keyed truth sidecars: read the
    committed parquet and select this sf's slice by the one scale key
    DuckDB can derive from its own registered views (orders rowcount —
    distinct across every shipped sf, unlike documents)."""
    from . import fixtures as FX

    return (f"SELECT * FROM read_parquet('{FX.truth_path(name)}') "
            f"WHERE n_orders = (SELECT count(*) FROM orders)")


def _media_image_features_sql() -> str:
    return f"""
WITH truth AS ({_truth_slice_sql("media_image")})
SELECT media_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(mean_intensity AS DOUBLE) AS mean_intensity,
       CAST(phash AS BIGINT) AS phash
FROM truth
"""


def _media_audio_features_sql() -> str:
    return f"""
WITH truth AS ({_truth_slice_sql("media_audio")})
SELECT media_id, CAST(sample_rate AS INT) AS sample_rate,
       CAST(n_samples AS INT) AS n_samples, CAST(rms AS DOUBLE) AS rms,
       CAST(zero_crossings AS INT) AS zero_crossings
FROM truth
"""


def q_media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1->N row expansion over real Y4M decode):
    every 10th frame's mean luma intensity over the sf-scaled corpus
    parquet, gated by the source-frame truth parquet sidecar."""
    from . import fixtures as FX
    from .operators import multimodal as MM

    media = FX.load_media(spark, sf_dir)
    frames = MM.sample_frames(media, every_n=FX.FRAME_EVERY_N,
                              fake_decode=False)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


def _media_frame_samples_sql() -> str:
    return f"""
WITH truth AS ({_truth_slice_sql("frame_samples")})
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(mean_intensity AS DOUBLE) AS mean_intensity
FROM truth
"""


def q_audio_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs over the sf-scaled planted-duplicate
    PCM-WAV corpus parquet: sample-chunk hashes (real decode) through
    the shared postings-Jaccard inverted index; DuckDB replays the
    Jaccard over a chunk-hash parquet sidecar computed from the SOURCE
    signals at fixture-mint time."""
    from . import fixtures as FX
    from .operators import multimodal as MM

    media = FX.load_audio_clips(spark, sf_dir)
    pairs = MM.audio_neardup_pairs(media, threshold=0.5)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


def _postings_jaccard_sql(truth_name: str,
                          threshold: float = 0.5) -> str:
    """Shared oracle body for media near-dup queries: replay the
    postings Jaccard over a truth (doc_id, shingle) parquet sidecar
    (sf slice selected by orders rowcount). Mirrors
    functions/dedup.py:postings_jaccard_pairs."""
    return f"""
WITH post AS ({_truth_slice_sql(truth_name)}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.n_common * 1.0 / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_common * 1.0 / (sa.n_sh + sb.n_sh - i.n_common) >= {threshold!r}
"""


def _audio_neardup_sql() -> str:
    return _postings_jaccard_sql("audio_postings")


def q_video_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO pairs over the sf-scaled planted-duplicate
    Y4M clip corpus parquet: per-frame perceptual hashes (real Y4M
    luma decode) through the shared postings-Jaccard inverted index.
    The oracle replays the Jaccard in DuckDB over a frame-hash parquet
    sidecar computed from the SOURCE frames at fixture-mint time."""
    from . import fixtures as FX
    from .operators import multimodal as MM

    media = FX.load_video_clips(spark, sf_dir)
    pairs = MM.video_neardup_pairs(media, threshold=0.5)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


def _video_neardup_sql() -> str:
    return _postings_jaccard_sql("video_postings")


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold. EXACT
    semantics via the shifted-grid bucketed candidate generator
    (functions/similarity.py:neardup_pairs) — candidates are a
    guaranteed superset of qualifying pairs, generated by an equi-join
    on projection cells (no CartesianProduct at any scale), then
    re-ranked with the exact cosine. The candidate threshold is set a
    hair below 0.5 so the final round(cos,4) >= 0.5 filter (matching
    the oracle's rounding-at-comparison semantics) loses nothing."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = S.neardup_pairs(emb, threshold=0.4999)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos_sim", 4).alias("cos_sim"),
    ).where(F.round("cos_sim", 4) >= 0.5)


SQL_EMBEDDING_NEARDUP_PAIRS = """
SELECT CAST(a.vec_id AS BIGINT) AS id_a,
       CAST(b.vec_id AS BIGINT) AS id_b,
       round(
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
         4) AS cos_sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
         4) >= 0.5
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def queries() -> dict:
    return {
        "mosaic_extent": q_mosaic_extent,
        "mosaic_tiles": q_mosaic_tiles,
        "mosaic_assignments": q_mosaic_assignments,
        "mosaic_tile_checksums": q_mosaic_tile_checksums,
        "mosaic_blend_checksums": q_mosaic_blend_checksums,
        "mosaic_stats": q_mosaic_stats,
        "mosaic_overview_checksums": q_mosaic_overview_checksums,
        "mosaic_histogram": q_mosaic_histogram,
        "mosaic_resampled_checksums": q_mosaic_resampled_checksums,
        "mosaic_warped_checksums": q_mosaic_warped_checksums,
        "mosaic_warped_3857_checksums": q_mosaic_warped_3857_checksums,
        "cell_covers": q_cell_covers,
        "points_in_footprints": q_points_in_footprints,
        "polygon_raster_checksums": q_polygon_raster_checksums,
        "zonal_stats": q_zonal_stats,
        "region_labels": q_region_labels,
        "region_outlines": q_region_outlines,
        "iso_contours": q_iso_contours,
        "focal_checksums": q_focal_checksums,
        "focal5_checksums": q_focal5_checksums,
        "focal_majority_checksums": q_focal_majority_checksums,
        "hillshade_checksums": q_hillshade_checksums,
        "hillshade_overview_checksums": q_hillshade_overview_checksums,
        "terrain_checksums": q_terrain_checksums,
        "flow_basins": q_flow_basins,
        "flow_accumulation": q_flow_accumulation,
        "basin_zonal_stats": q_basin_zonal_stats,
        "tile_knn_sources": q_tile_knn_sources,
        "doc_token_stats": q_doc_token_stats,
        "doc_fingerprints": q_doc_fingerprints,
        "doc_span_roundtrip": q_doc_span_roundtrip,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_pairs": q_dedup_ngram_pairs,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_lsh_candidates": q_dedup_lsh_candidates,
        "dedup_lsh_neardup": q_dedup_lsh_neardup,
        "dedup_clusters": q_dedup_clusters,
        "corpus_clean_clustered": q_corpus_clean_clustered,
        "dedup_simhash": q_dedup_simhash,
        "embedding_topk": q_embedding_topk,
        "lineitem_agg": q_lineitem_agg,
        "events_hourly": q_events_hourly,
        "events_daily_rollup": q_events_daily_rollup,
        "orders_by_nation": q_orders_by_nation,
        "events_interval_union": q_events_interval_union,
        "top_events_per_user": q_top_events_per_user,
        "user_sessions": q_user_sessions,
        "purchase_attribution": q_purchase_attribution,
        "error_window_purchases": q_error_window_purchases,
        "user_distinct_kmv": q_user_distinct_kmv,
        "doc_lang_pred": q_doc_lang_pred,
        "corpus_clean": q_corpus_clean,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "embedding_clusters": q_embedding_clusters,
        # media queries: real decode over the sf-scaled corpus parquet
        # (fixtures/corpus), gated by source-array truth parquet
        # sidecars (fixtures/truth — decode never consulted when
        # computing the truth; minted by tools/mint_fixtures.py)
        "media_image_features": q_media_image_features,
        "media_audio_features": q_media_audio_features,
        "media_frame_samples": q_media_frame_samples,
        "video_neardup_pairs": q_video_neardup_pairs,
        "audio_neardup_pairs": q_audio_neardup_pairs,
    }


def oracle_sql() -> dict:
    return {
        "mosaic_extent": SQL_MOSAIC_EXTENT,
        "mosaic_tiles": SQL_MOSAIC_TILES,
        "mosaic_assignments": SQL_MOSAIC_ASSIGNMENTS,
        "mosaic_tile_checksums": SQL_MOSAIC_TILE_CHECKSUMS,
        "mosaic_blend_checksums": _blend_checksums_sql(),
        "mosaic_stats": SQL_MOSAIC_STATS,
        "mosaic_overview_checksums": SQL_MOSAIC_OVERVIEW_CHECKSUMS,
        "mosaic_histogram": SQL_MOSAIC_HISTOGRAM,
        "mosaic_resampled_checksums": _resampled_checksums_sql(),
        "mosaic_warped_checksums": _warped_checksums_sql(),
        "mosaic_warped_3857_checksums": _warped_checksums_sql(3857, WEBMERC_RES),
        "cell_covers": _cell_covers_sql(),
        "points_in_footprints": _points_in_footprints_sql(),
        "polygon_raster_checksums": _polygon_raster_sql(),
        "zonal_stats": _zonal_stats_sql(),
        "region_labels": _region_labels_sql(),
        "region_outlines": _region_outlines_sql(),
        "iso_contours": _iso_contours_sql(),
        "focal_checksums": _focal_checksums_sql(),
        "focal5_checksums": _focal5_checksums_sql(),
        "focal_majority_checksums": _focal_majority_sql(),
        "hillshade_checksums": _hillshade_checksums_sql(),
        "hillshade_overview_checksums": _hillshade_overview_sql(),
        "terrain_checksums": _terrain_checksums_sql(),
        "flow_basins": _flow_basins_sql(),
        "flow_accumulation": _flow_accumulation_sql(),
        "basin_zonal_stats": _basin_zonal_sql(),
        "tile_knn_sources": _tile_knn_sql(),
        "doc_token_stats": SQL_DOC_TOKEN_STATS,
        "doc_fingerprints": _doc_fingerprints_sql(),
        "doc_span_roundtrip": SQL_DOC_SPAN_ROUNDTRIP,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_ngram_pairs": SQL_DEDUP_NGRAM_PAIRS,
        "dedup_minhash_sig": _minhash_sig_sql(),
        "dedup_lsh_candidates": _lsh_candidates_sql(),
        "dedup_lsh_neardup": _lsh_neardup_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "corpus_clean_clustered": _corpus_clean_clustered_sql(),
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "lineitem_agg": SQL_LINEITEM_AGG,
        "events_hourly": SQL_EVENTS_HOURLY,
        "events_daily_rollup": SQL_EVENTS_DAILY_ROLLUP,
        "orders_by_nation": SQL_ORDERS_BY_NATION,
        "events_interval_union": SQL_EVENTS_INTERVAL_UNION,
        "top_events_per_user": SQL_TOP_EVENTS_PER_USER,
        "user_sessions": SQL_USER_SESSIONS,
        "purchase_attribution": SQL_PURCHASE_ATTRIBUTION,
        "error_window_purchases": SQL_ERROR_WINDOW_PURCHASES,
        "user_distinct_kmv": SQL_USER_DISTINCT_KMV,
        "doc_lang_pred": _lang_pred_sql(),
        "corpus_clean": SQL_CORPUS_CLEAN,
        "embedding_neardup_pairs": SQL_EMBEDDING_NEARDUP_PAIRS,
        "embedding_clusters": _embedding_clusters_sql(),
        "media_image_features": _media_image_features_sql(),
        "media_audio_features": _media_audio_features_sql(),
        "media_frame_samples": _media_frame_samples_sql(),
        "video_neardup_pairs": _video_neardup_sql(),
        "audio_neardup_pairs": _audio_neardup_sql(),
    }
