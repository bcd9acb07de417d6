"""Table schemas for the engine.

The engine's canonical input (per the project contract) is an
Iceberg/parquet table of interleaved text+media documents; media spans
reference rasters which exist as two tables: a small ``footprints``
dimension table (the analog of the reference's ImageInfo metadata scan,
/root/reference/moamosaic/structures.py:7-58) and a large ``blocks``
fact table of chunked pixel payloads (the analog of windowed
band.ReadAsArray, /root/reference/moamosaic/mosaic.py:264).

Every ``pixels`` column is ``pixels.PIXEL_TYPE``: packed uint16 LE,
2 B/px — the one payload format, owned by pixels.py.
"""

from pyspark.sql import types as T

from .pixels import PIXEL_TYPE

# ---------------------------------------------------------------------------
# documents — interleaved text + media spans (engine input surface)
# ---------------------------------------------------------------------------
SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),        # 'text' | 'media'
        T.StructField("text", T.StringType()),        # null for media spans
        T.StructField("media_ref", T.StringType()),   # null for text spans
        T.StructField("offset", T.IntegerType()),     # position within doc
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    ]
)

# ---------------------------------------------------------------------------
# footprints — raster metadata dim table (ImageInfo analog)
# ---------------------------------------------------------------------------
FOOTPRINTS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        # filelist order == merge priority (ref mosaic.py:663-689: the LAST
        # non-null value in filelist order wins)
        T.StructField("priority", T.IntegerType()),
        T.StructField("x0", T.DoubleType()),     # transform[0] (world x of left edge)
        T.StructField("y0", T.DoubleType()),     # transform[3] (world y of top edge)
        T.StructField("x_res", T.DoubleType()),  # transform[1], > 0
        T.StructField("y_res", T.DoubleType()),  # abs(transform[5]), > 0
        T.StructField("ncols", T.IntegerType()),
        T.StructField("nrows", T.IntegerType()),
        T.StructField("n_bands", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("nullval", T.DoubleType()),
        T.StructField("projection", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# blocks — chunked pixel payload fact table
# ---------------------------------------------------------------------------
BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("band", T.IntegerType()),     # 1-based, GDAL convention
        T.StructField("b_row", T.IntegerType()),    # source chunk-grid row index
        T.StructField("b_col", T.IntegerType()),    # source chunk-grid col index
        T.StructField("b_top", T.IntegerType()),    # chunk top-left, source px coords
        T.StructField("b_left", T.IntegerType()),
        T.StructField("b_ysize", T.IntegerType()),
        T.StructField("b_xsize", T.IntegerType()),
        T.StructField("pixels", PIXEL_TYPE),  # row-major
    ]
)

# ---------------------------------------------------------------------------
# stitch output — mosaic tiles, pyramid fragments, stat partials (one pass)
# ---------------------------------------------------------------------------
STITCH_SCHEMA = T.StructType(
    [
        T.StructField("level", T.IntegerType()),    # 0 = base tile, else 4,8,16,...
        T.StructField("band", T.IntegerType()),
        T.StructField("tile_row", T.IntegerType()),
        T.StructField("tile_col", T.IntegerType()),
        T.StructField("y_off", T.IntegerType()),    # offset in level's pixel grid
        T.StructField("x_off", T.IntegerType()),
        T.StructField("ysize", T.IntegerType()),
        T.StructField("xsize", T.IntegerType()),
        T.StructField("pixels", PIXEL_TYPE),
        # single-pass stats partials (level 0 only; ref mosaic.py:758-777)
        T.StructField("px_count", T.LongType()),
        T.StructField("px_sum", T.DoubleType()),
        T.StructField("px_ssq", T.DoubleType()),
        T.StructField("px_min", T.DoubleType()),
        T.StructField("px_max", T.DoubleType()),
    ]
)

STATS_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("minval", T.DoubleType()),
        T.StructField("maxval", T.DoubleType()),
        T.StructField("meanval", T.DoubleType()),
        T.StructField("stddev", T.DoubleType()),
        T.StructField("count", T.LongType()),
    ]
)

# ---------------------------------------------------------------------------
# lineage — per-partition checkpoint rows for resumable runs
# ---------------------------------------------------------------------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("batch_key", T.LongType()),   # coarse cell-group id
        T.StructField("band_lo", T.IntegerType()),
        T.StructField("band_hi", T.IntegerType()),
        T.StructField("n_tiles", T.LongType()),
        T.StructField("seconds", T.DoubleType()),
        T.StructField("status", T.StringType()),    # 'done'
    ]
)
