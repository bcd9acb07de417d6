"""The pixel payload format — defined here and nowhere else.

Every pixel payload of the engine (the ``blocks`` table, the work
relation and relayout table feeding the stitch, the stitch output,
reprojected blocks, the halo fragments shared by the focal and region
kernels, the tiles ``label_regions`` labels) is ONE ``binary`` value:
row-major uint16 little-endian, 2 bytes/px (SURVEY §7.4: the uint16
rasters the reference targets). Half the bytes of an int32 array on
every scan, shuffle and spill, and one flat buffer across the Python
boundary — kernels decode it zero-copy.

This module owns:

* the element type and byte width (``PIXEL_TYPE``, ``PIXEL_DTYPE``,
  ``PIXEL_BYTES``, ``PIXEL_MAX``);
* the numpy pair ``decode`` / ``encode`` (one payload), and its Arrow
  column form ``decode_column`` / ``encode_column`` (a batch);
* ``ingest``, the ONE place an ``array<int>`` payload is accepted: it
  passes a binary column through and packs an integer-array column once,
  JVM-side, with the range-guarded ``pack_u2``. Every public entry that
  takes pixels calls it first, so nothing below sees a second layout
  (the stitch, reproject, focal/terrain and region kernels all read
  payloads through ``decode`` / ``decode_column``);
* the JVM-side column expressions (pack/unpack/repeat) used at
  generation and correctness-query boundaries, never in the hot path.

To read a tile yourself: ``np.frombuffer(row.pixels, "<u2")`` (that is
``decode``), or ``unpack_u2`` in SQL.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F, types as T

PIXEL_TYPE = T.BinaryType()          # Spark type of every ``pixels`` column
PIXEL_DTYPE = np.dtype("<u2")        # one pixel: uint16 little-endian
PIXEL_BYTES = PIXEL_DTYPE.itemsize   # 2
PIXEL_MAX = 0xFFFF

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def decode(buf) -> np.ndarray:
    """One payload (bytes-like, or None) -> its uint16 pixels, zero-copy."""
    if buf is None:
        return np.empty(0, PIXEL_DTYPE)
    return np.frombuffer(buf, PIXEL_DTYPE)


def _as_pixel_array(values) -> np.ndarray:
    """Contiguous uint16 pixels; other integer arrays are range-checked
    first (a uint16 canvas, the kernels' own, needs no check or copy)."""
    a = np.asarray(values)
    if a.dtype == PIXEL_DTYPE:
        return np.ascontiguousarray(a)
    if a.size:
        lo, hi = a.min(), a.max()
        if lo < 0 or hi > PIXEL_MAX:
            raise ValueError(f"pixel value {lo if lo < 0 else hi} outside uint16 range")
    return a.astype(PIXEL_DTYPE)


def encode(values) -> bytes:
    """Integer pixels -> one payload. Values outside [0, 65535] raise."""
    return _as_pixel_array(values).tobytes()


def decode_column(arr):
    """An Arrow binary payload column -> (element offsets, uint16
    values): payload i is ``values[offsets[i]:offsets[i + 1]]``.
    Zero-copy: a view of the column's own data buffer."""
    offsets = np.frombuffer(
        arr.buffers()[1], dtype=np.int32, count=len(arr) + 1, offset=arr.offset * 4
    )
    return offsets // PIXEL_BYTES, decode(arr.buffers()[2])


def encode_column(payloads: list):
    """A non-empty list of integer pixel arrays -> one Arrow binary
    column."""
    import pyarrow as pa

    lengths = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=len(payloads))
    offsets = np.concatenate(([0], np.cumsum(lengths))) * PIXEL_BYTES
    data = _as_pixel_array(np.concatenate(payloads))
    return pa.Array.from_buffers(
        pa.binary(),
        len(payloads),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def ingest(df: DataFrame, col: str = "pixels") -> DataFrame:
    """The one ingest adaptor. A binary ``col`` passes through
    unchanged; an integer-array ``col`` is packed once, JVM-side
    (``pack_u2``: a value outside [0, 65535] fails the job instead of
    wrapping). Any other type raises TypeError."""
    t = df.schema[col].dataType
    if t == PIXEL_TYPE:
        return df
    if isinstance(t, T.ArrayType) and isinstance(t.elementType, _INT_TYPES):
        return df.withColumn(col, pack_u2(F.col(col)))
    raise TypeError(
        f"column {col!r} must be binary (uint16 LE) or an integer array, "
        f"got {t.simpleString()}"
    )


def _u2_le_hex(x: Column) -> Column:
    """4-hex-char little-endian encoding of one uint16 column value.
    Values outside [0, 65535] raise at runtime (lpad would otherwise
    TRUNCATE the high-byte hex and silently corrupt the pixel)."""
    guard = F.assert_true(
        (x >= 0) & (x <= PIXEL_MAX), F.concat(F.lit("pixel value outside uint16: "), x)
    )
    lo = F.lpad(F.hex(x % 256), 2, "0")
    hi = F.lpad(F.hex((x / 256).cast("int")), 2, "0")
    # assert_true yields NULL when the predicate holds; coalesce routes
    # execution through the guard without changing the value
    return F.coalesce(guard.cast("string"), F.concat(lo, hi))


def pack_u2(arr: Column) -> Column:
    """array<int> -> binary (uint16 LE). Values must fit uint16
    (runtime-guarded)."""
    return F.unhex(F.array_join(F.transform(arr, _u2_le_hex), ""))


def pack_row_u2(first_value: Column, xsize: Column, ysize: Column) -> Column:
    """binary of ``ysize`` repeats of the packed row
    [first_value, first_value+1, ..., first_value+xsize-1] — the cheap
    generator for column-index-valued synthetic chunks (pack one row's
    hex, repeat per row: ~30x fewer string ops than per-pixel packing)."""
    row_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), xsize.cast("int") - 1),
            lambda u: _u2_le_hex(first_value + u),
        ),
        "",
    )
    return F.unhex(F.repeat(row_hex, ysize.cast("int")))


def unpack_u2(bin_col: Column, chunk_bytes: int = 512) -> Column:
    """binary (uint16 LE) -> array<int>.

    Two-level decode: slice the blob into ``chunk_bytes`` pieces first,
    then decode pixels within each small piece. Per-element expressions
    inside higher-order lambdas run interpreted and pay O(operand size)
    per element — decoding a 128 KB blob with per-pixel substr directly
    on it is quadratic (measured 16x slower at 64k px; hex-ing the
    whole blob per element 280x slower)."""
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.ceil(F.length(bin_col) / chunk_bytes).cast("int") - 1
        ),
        lambda j: bin_col.substr(j * chunk_bytes + 1, F.lit(chunk_bytes)),
    )
    decoded = F.flatten(
        F.transform(
            chunks,
            lambda ch: F.transform(
                F.sequence(F.lit(1), (F.length(ch) / 2).cast("int")),
                lambda i: F.conv(
                    F.concat(
                        F.hex(ch.substr(i * 2, F.lit(1))),
                        F.hex(ch.substr(i * 2 - 1, F.lit(1))),
                    ),
                    16,
                    10,
                ).cast("int"),
            ),
        )
    )
    # sequence(0, -1) would produce a DESCENDING series on empty input
    empty = F.array().cast("array<int>")
    return F.when(F.length(bin_col) == 0, empty).otherwise(decoded)


def repeat_u2(value: Column, count: Column) -> Column:
    """binary of ``count`` repeats of one uint16 value column (per-row
    nodata fill), synthesized JVM-side."""
    return F.unhex(F.repeat(_u2_le_hex(value), count.cast("int")))


def pixel_count(col: Column) -> Column:
    """Number of pixels in a payload column."""
    return (F.length(col) / PIXEL_BYTES).cast("long")
