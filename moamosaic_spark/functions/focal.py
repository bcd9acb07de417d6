"""Focal (neighborhood) raster operators with distributed halo exchange.

Reference-side scope: the reference computes whole-image aggregates
over the stitched mosaic (mosaic.py:746-794) but has no neighborhood
ops; focal window operators (focal count/sum/min/max, Horn slope /
hillshade — the ``gdaldem`` analog) are the natural next raster family
over the same tile relation, and the classic distributed-raster
problem: every output pixel needs its 8 neighbors, which for border
pixels live in ANOTHER tile.

Scale shape (the halo-exchange pattern): each tile emits its full
payload addressed to itself plus eight O(perimeter) border fragments
(1-px strips and 1x1 corners, packed u2) addressed to its neighbors;
ONE groupBy on the tile key assembles a (ys+2, xs+2) padded array per
tile and a vectorized numpy kernel produces the whole output tile.
Pixels cross the wire once (area + ~4*perimeter bytes), no tile ever
needs another tile's interior, and the shuffle parallelism is the
tile count — the same unit the rest of the engine scales by. At
100 TB the strips are ~1.6% of payload at 256px tiles (and shrink
linearly with blocksize), so halo cost is noise against the scan.

Pixels: tiles carry packed uint16 payloads (pixels.py); an
``array<int>`` tile relation is packed once on entry (pixels.ingest).
Fragments are slices of the packed payload (2 B/px).

Output convention: one row per input tile, ``pixels`` as array<long>
in row-major order with -1 at pixels where the op is undefined
(null center for focal stats; any-null 3x3 window for hillshade) —
callers that need only aggregates reduce the array JVM-side with
higher-order functions (filter/aggregate), never per-row Python.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..pixels import PIXEL_BYTES, decode_column, ingest

FOCAL_STATS_SCHEMA = (
    "band int, tile_row int, tile_col int, ysize int, xsize int, "
    "f_count array<long>, f_sum array<long>, f_ssq array<long>, "
    "f_min array<long>, f_max array<long>"
)

FOCAL_APPLY_SCHEMA = (
    "band int, tile_row int, tile_col int, ysize int, xsize int, "
    "pixels array<long>"
)

TERRAIN_SCHEMA = (
    "band int, tile_row int, tile_col int, ysize int, xsize int, "
    "slope_q array<long>, d8 array<long>"
)


FRAG_SCHEMA = (
    "band int, tile_row int, tile_col int, dy int, dx int, frow int, "
    "fysize int, fxsize int, frag binary"
)


def _emit_fragments(tiles: DataFrame, radius: int = 1) -> DataFrame:
    """Map side of the halo exchange: 9 addressed fragment REGIONS per
    tile, for an arbitrary window ``radius`` (halo width = R pixels).

    ALL fragments are pure JVM projections (guide §4.1: don't ship the
    heavy payload across the Python boundary to slice its edges):

    * the 3 CONTIGUOUS regions (full payload to self, top/bottom R-row
      strips) are one substr each;
    * the 6 STRIDED regions (left/right R-column strips, 4 RxR
      corners) are emitted ONE ROW PER SOURCE ROW — explode over the
      row range, then a single codegen'd substr of the 2R-byte slice,
      with ``frow`` carrying the row offset inside the region. This is
      linear in the strip bytes; the old per-element HOF variant
      re-copied the whole payload per element, and the mapInPandas
      variant that replaced it shipped every tile's full payload
      through Arrow both ways just to keep O(perimeter) output.

    The tiles pass through the ingest adaptor (pixels.ingest) first.

    A fragment row (band, tr, tc, dy, dx, ...) is addressed TO tile
    (tr, tc) and was emitted BY tile (tr - dy, tc - dx); the assembler
    places it purely from (dy, dx, frow). Fragments addressed off the
    grid edge form centerless groups the reduce side drops — no
    grid-extent lookup is needed on the map side. Requires radius <=
    every tile dimension (blocksize >= radius; guarded on the full
    payload fragment) — a wider halo would need pixels from two tiles
    away.
    """
    R = int(radius)
    if R < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    cols = [c for c in ("band", "tile_row", "tile_col", "ysize", "xsize", "pixels")
            if c in tiles.columns]
    src = tiles.select(*cols) if "band" in tiles.columns else tiles.select(
        F.lit(1).alias("band"), "tile_row", "tile_col", "ysize", "xsize", "pixels"
    )
    src = ingest(src)

    px = F.col("pixels")
    ys, xs = F.col("ysize"), F.col("xsize")
    xs2 = xs * PIXEL_BYTES  # bytes per row
    r_ = F.lit(R)

    def frag_s(dy, dx, frow, fy, fx, data):
        frow_c = frow if isinstance(frow, Column) else F.lit(frow)
        fy_c = fy if isinstance(fy, Column) else F.lit(fy)
        fx_c = fx if isinstance(fx, Column) else F.lit(fx)
        dy_c = dy if isinstance(dy, Column) else F.lit(dy)
        dx_c = dx if isinstance(dx, Column) else F.lit(dx)
        return F.struct(
            dy_c.cast("int").alias("dy"), dx_c.cast("int").alias("dx"),
            frow_c.cast("int").alias("frow"),
            fy_c.cast("int").alias("fysize"), fx_c.cast("int").alias("fxsize"),
            data.alias("frag"),
        )

    f = F.col("f")
    proj = [
        "band",
        (F.col("tile_row") + f.dy).cast("int").alias("tile_row"),
        (F.col("tile_col") + f.dx).cast("int").alias("tile_col"),
        f.dy.alias("dy"), f.dx.alias("dx"), f.frow.alias("frow"),
        f.fysize.alias("fysize"), f.fxsize.alias("fxsize"),
        f.frag.alias("frag"),
    ]

    # ONE generate chain over src for all nine regions (the
    # _contributor_chunks lesson: a union of two arms reads src, and
    # runs an unmaterialized input's whole plan, once per arm). Row
    # bi = -1 carries the whole payload for the contiguous regions;
    # rows bi >= 0 carry the payload's KROWS-row bands for the strided
    # ones. TWO-LEVEL slicing (the unpack_u2 lesson): exploding the
    # full payload once per source row would drag O(tile) bytes through
    # the generate per emitted row (O(tile * rows) churn — observed as
    # GC death at 1024^2 tiles); instead cut the payload into
    # contiguous KROWS-row bands first (fan-out ~16, one substr each),
    # then slice rows off the small band payload — two linear passes.
    KROWS = 64
    bi = F.col("bi")
    bt = bi * KROWS
    bn = F.when(bi < 0, 1).otherwise(F.least(F.lit(KROWS), ys - bt))
    bands_rel = src.select(
        "band", "tile_row", "tile_col", "ysize", "xsize",
        F.explode(F.sequence(F.lit(-1), F.ceil(ys / KROWS).cast("int") - 1)).alias("bi"),
        "pixels",
    ).select(
        "band", "tile_row", "tile_col", "ysize", "xsize", "bi",
        bt.alias("bt"), bn.alias("bn"),
        F.when(bi < 0, px).otherwise(px.substr(bt * xs2 + 1, bn * xs2)).alias("bpx"),
    )
    bpx = F.col("bpx")

    # contiguous slices of THIS tile that the neighbor at (+dy,+dx)
    # pads with: whole payload, last R rows, first R rows. The radius
    # guard rides the self fragment: assert_true yields NULL when the
    # predicate holds, so coalesce routes through it without changing
    # the payload
    guard = F.coalesce(
        F.assert_true(
            (ys >= R) & (xs >= R),
            F.concat(
                F.lit(f"halo radius {R} exceeds tile dimensions "),
                ys.cast("string"), F.lit("x"), xs.cast("string"),
            ),
        ).cast("binary"),
        bpx,
    )
    three = F.array(
        frag_s(0, 0, 0, ys, xs, guard),
        frag_s(1, 0, 0, r_, xs, bpx.substr((ys - R) * xs2 + 1, xs2 * R)),
        frag_s(-1, 0, 0, r_, xs, bpx.substr(F.lit(1), xs2 * R)),
    )
    # strided regions, one output row per source row: side strips span
    # every row; the top/bottom R-row bands additionally feed the four
    # corners (their slices are the SAME substr as the side strips)
    j = F.col("j")
    rr = F.col("bt") + j
    right = bpx.substr((j * xs + xs - R) * PIXEL_BYTES + 1, F.lit(PIXEL_BYTES * R))
    left = bpx.substr(j * xs * PIXEL_BYTES + 1, F.lit(PIXEL_BYTES * R))
    sides = F.array(
        frag_s(0, F.lit(1), rr, 1, R, right),
        frag_s(0, F.lit(-1), rr, 1, R, left),
        F.when(rr >= ys - R, frag_s(1, F.lit(1), rr - (ys - R), 1, R, right)),
        F.when(rr >= ys - R, frag_s(1, F.lit(-1), rr - (ys - R), 1, R, left)),
        F.when(rr < R, frag_s(-1, F.lit(1), rr, 1, R, right)),
        F.when(rr < R, frag_s(-1, F.lit(-1), rr, 1, R, left)),
    )
    return (
        bands_rel.select(
            "band", "tile_row", "tile_col", "ysize", "xsize", "bi", "bt", "bpx",
            F.explode(F.sequence(F.lit(0), F.col("bn") - 1)).alias("j"),
        )
        .select(
            "band", "tile_row", "tile_col",
            F.explode(
                F.when(bi < 0, three).otherwise(F.filter(sides, lambda x: x.isNotNull()))
            ).alias("f"),
        )
        .select(*proj)
    )


_STRIP_BASES = {
    # (dy, dx) -> region top-left in the padded array, as functions of
    # (R, ys, xs). dy=+1 fragments come from the tile ABOVE (they fill
    # the top pad band), dy=-1 from below; same for dx.
    0: lambda R, n: R,
    1: lambda R, n: 0,
    -1: lambda R, n: R + n,
}


def _assemble_arrow(tbl, nullval: int, radius: int = 1) -> tuple | None:
    """Reduce side: padded (ys+2R, xs+2R) array for one target tile
    from an Arrow fragment group, or None for centerless (off-grid)
    groups. Single-row strip fragments of each region are pasted with
    one vectorized gather/scatter per (dy, dx) — no per-row Python."""
    R = int(radius)
    cols = {
        c: tbl.column(c).to_numpy()
        for c in ("dy", "dx", "frow", "fysize", "fxsize")
    }
    offs, vals = decode_column(tbl.column("frag").combine_chunks())
    dy, dx, frow = cols["dy"], cols["dx"], cols["frow"]
    center = np.flatnonzero((dy == 0) & (dx == 0))
    if center.size == 0:
        return None
    c0 = int(center[0])
    ys, xs = int(cols["fysize"][c0]), int(cols["fxsize"][c0])
    padded = np.full((ys + 2 * R, xs + 2 * R), nullval, dtype=np.int64)
    # contiguous block fragments (dx == 0): paste individually
    for i in np.flatnonzero(dx == 0):
        fy, fx = int(cols["fysize"][i]), int(cols["fxsize"][i])
        r0 = _STRIP_BASES[int(dy[i])](R, ys) + int(frow[i])
        padded[r0: r0 + fy, R: R + fx] = (
            vals[offs[i]: offs[i + 1]].astype(np.int64).reshape(fy, fx)
        )
    # strided 1xR strip rows: one gather + one scatter per region
    for dy_ in (0, 1, -1):
        for dx_ in (1, -1):
            sel = np.flatnonzero((dy == dy_) & (dx == dx_))
            if sel.size == 0:
                continue
            idx = offs[sel][:, None] + np.arange(R)[None, :]
            r0 = _STRIP_BASES[dy_](R, ys)
            c0_ = _STRIP_BASES[dx_](R, xs)
            padded[r0 + frow[sel], c0_: c0_ + R] = vals[idx].astype(np.int64)
    return ys, xs, padded


def _focal_arrow_map(frags: DataFrame, out_schema: str, nullval: int,
                     radius: int, compute):
    """groupBy(band, tile) applyInArrow wrapper shared by the focal
    kernels: assembles the padded tile and hands it to
    ``compute(ys, xs, padded) -> list[np.ndarray]`` (one array per
    array field of ``out_schema``, in order, after the five key/shape
    fields); outputs are emitted as zero-copy Arrow ListArrays — no
    pandas object-column churn (guide §4.2)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow_schema = to_arrow_schema(_parse_datatype_string(out_schema))

    def work(key, tbl):
        got = _assemble_arrow(tbl, nullval, radius=radius)
        if got is None:
            return arrow_schema.empty_table()
        band, tr, tc = (int(k.as_py() if hasattr(k, "as_py") else k) for k in key)
        ys, xs, padded = got
        outs = compute(ys, xs, padded)
        head = {"band": band, "tile_row": tr, "tile_col": tc,
                "ysize": ys, "xsize": xs}
        arrs = []
        i = 0
        for field in arrow_schema:
            if field.name in head:
                arrs.append(pa.array([head[field.name]], field.type))
            else:
                v = outs[i]
                i += 1
                arrs.append(
                    pa.ListArray.from_arrays(
                        pa.array([0, v.size], pa.int32()),
                        pa.array(v.ravel(), field.type.value_type),
                    )
                )
        return pa.Table.from_arrays(arrs, schema=arrow_schema)

    return frags.groupBy("band", "tile_row", "tile_col").applyInArrow(
        work, out_schema
    )


def _window_views(padded: np.ndarray, radius: int = 1):
    """The (2R+1)^2 shifted (ys, xs) views of a padded array."""
    k = 2 * int(radius) + 1
    ys, xs = padded.shape[0] - (k - 1), padded.shape[1] - (k - 1)
    return [padded[i:i + ys, j:j + xs] for i in range(k) for j in range(k)]


def _horn(padded: np.ndarray, nullval: int, fx: float, fy: float):
    """Shared Horn-gradient stage for hillshade/terrain: (views, gx,
    gy, all-valid mask). ONE implementation on purpose — both kernels'
    oracles rely on the float pipeline being expression-identical, so
    the gradients must never be able to diverge between them."""
    v = _window_views(padded)
    vv = _window_views(padded != nullval)
    allv = np.ones_like(vv[4])
    for m in vv:
        allv &= m
    tl, tm, tr_, ml, _, mr, bl, bm, br = v
    gx = ((tr_ + 2 * mr + br) - (tl + 2 * ml + bl)) / fx
    gy = ((bl + 2 * bm + br) - (tl + 2 * tm + tr_)) / fy
    return v, gx, gy, allv


def focal_stats(tiles: DataFrame, nullval: int = 0, radius: int = 1) -> DataFrame:
    """Per-pixel (2R+1)x(2R+1) focal count/sum/sum-of-squares/min/max
    over VALID
    (non-null) window pixels, defined at valid centers (the window
    includes the center). -1 where the center is null. One shuffle
    (the halo exchange, halo width R); the kernel is (2R+1)^2
    shifted-view reductions, no Python per pixel."""
    frags = _emit_fragments(tiles, radius=radius)

    def compute(ys, xs, padded):
        vpad = padded != nullval
        cnt = np.zeros((ys, xs), np.int64)
        tot = np.zeros((ys, xs), np.int64)
        ssq = np.zeros((ys, xs), np.int64)
        mn = np.full((ys, xs), np.iinfo(np.int64).max)
        mx = np.full((ys, xs), np.iinfo(np.int64).min)
        pv = _window_views(padded, radius)
        vv = _window_views(vpad, radius)
        for p, v in zip(pv, vv):
            cnt += v
            tot += np.where(v, p, 0)
            ssq += np.where(v, p * p, 0)
            mn = np.minimum(mn, np.where(v, p, np.iinfo(np.int64).max))
            mx = np.maximum(mx, np.where(v, p, np.iinfo(np.int64).min))
        cvalid = vv[len(vv) // 2]  # center view of the validity pad
        return [np.where(cvalid, a, -1) for a in (cnt, tot, ssq, mn, mx)]

    return _focal_arrow_map(frags, FOCAL_STATS_SCHEMA, nullval, radius, compute)


# light vector for hillshade: azimuth 315deg / altitude 45deg resolved
# to exact double literals so the SQL oracle can use the SAME constants
# (all remaining ops are IEEE correctly-rounded: * / + - sqrt floor)
HS_LX = 0.5
HS_LY = 0.5
HS_LZ = 0.7071067811865476


def hillshade(
    tiles: DataFrame,
    xres: float,
    yres: float,
    nullval: int = 0,
    zfactor: float = 1.0,
) -> DataFrame:
    """Horn-method hillshade (the ``gdaldem hillshade`` analog) as an
    integer 0..255 raster; -1 where any of the 9 window pixels is null
    or off-raster. Gradients use Horn's weighted differences over the
    halo-padded tile:

        gx = ((tr + 2*mr + br) - (tl + 2*ml + bl)) / (8 * xres)
        gy = ((bl + 2*bm + br) - (tl + 2*tm + tr)) / (8 * yres)

    (rows increase downward). Shade = floor(255 * max(0, (LZ - LX*gx -
    LY*gy) / sqrt(1 + gx^2 + gy^2)) + 0.5). Every floating op after the
    exact integer gradient sums is IEEE correctly-rounded and ordered
    identically in the DuckDB oracle, so the match is exact, not
    approximate."""
    frags = _emit_fragments(tiles)
    fx = 8.0 * float(xres) / float(zfactor)
    fy = 8.0 * float(yres) / float(zfactor)

    def compute(ys, xs, padded):
        _, gx, gy, allv = _horn(padded, nullval, fx, fy)
        num = HS_LZ - HS_LX * gx - HS_LY * gy
        den = np.sqrt(1.0 + gx * gx + gy * gy)
        shade = np.floor(255.0 * np.maximum(num / den, 0.0) + 0.5)
        return [np.where(allv, shade.astype(np.int64), -1)]

    return _focal_arrow_map(frags, FOCAL_APPLY_SCHEMA, nullval, 1, compute)


# D8 neighbor scan order (the tie-break order): N, NE, E, SE, S, SW, W,
# NW as (window_dy, window_dx); diagonals weight drops by 1/sqrt(2).
D8_DIRS = ((-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1))
D8_DIAG_W = 0.7071067811865476
D8_FLAT = 8
SLOPE_Q = 100000.0  # percent-slope x 1000, floor(q*slope + 0.5)


def terrain(
    tiles: DataFrame,
    xres: float,
    yres: float,
    nullval: int = 0,
    zfactor: float = 1.0,
) -> DataFrame:
    """Slope + D8 flow direction (the ``gdaldem slope`` and hydrology
    flow-routing primitives) in ONE halo exchange and one kernel pass.

    ``slope_q`` = floor(100000 * sqrt(gx^2 + gy^2) + 0.5) — Horn
    gradients as in :func:`hillshade`, percent slope quantized x1000.
    Every op (int-sum, cast, multiply, add, sqrt, floor) is IEEE
    correctly-rounded, so a SQL oracle running the same expression
    matches exactly.

    ``d8`` = index into D8_DIRS of the steepest-descent neighbor,
    comparing drop * (1 or 1/sqrt(2) for diagonals); ties take the
    FIRST direction in scan order; no positive drop -> D8_FLAT (8).
    Both are -1 wherever any of the 9 window pixels is null or
    off-raster."""
    frags = _emit_fragments(tiles)
    fx = 8.0 * float(xres) / float(zfactor)
    fy = 8.0 * float(yres) / float(zfactor)

    def compute(ys, xs, padded):
        v, gx, gy, allv = _horn(padded, nullval, fx, fy)
        cc = v[4]
        slope = np.floor(SLOPE_Q * np.sqrt(gx * gx + gy * gy) + 0.5)

        by_off = {(i // 3 - 1, i % 3 - 1): v[i] for i in range(9)}
        best_eff = np.full((ys, xs), -np.inf)
        best_dir = np.full((ys, xs), D8_FLAT, np.int64)
        for k, (dy, dx) in enumerate(D8_DIRS):
            w = D8_DIAG_W if dy != 0 and dx != 0 else 1.0
            eff = (cc - by_off[(dy, dx)]).astype(np.float64) * w
            take = eff > best_eff  # strict: first direction wins ties
            best_eff = np.where(take, eff, best_eff)
            best_dir = np.where(take, k, best_dir)
        d8 = np.where(best_eff > 0.0, best_dir, D8_FLAT)
        return [
            np.where(allv, slope.astype(np.int64), -1),
            np.where(allv, d8, -1),
        ]

    return _focal_arrow_map(frags, TERRAIN_SCHEMA, nullval, 1, compute)


MAJ_SENT = 1 << 20  # sorts after any uint16 value


def focal_majority(
    tiles: DataFrame, nullval: int = 0, radius: int = 1
) -> DataFrame:
    """Modal (majority) filter — the classification-cleanup analog of
    a GDAL majority/sieve pass: per pixel, the most frequent VALID
    value in the (2R+1)^2 window (center included); ties break to the
    SMALLEST value (exactly replayable in SQL as
    first(val ORDER BY cnt DESC, val)); -1 at null centers.

    Kernel: stack the shifted views, mask invalid to a sentinel that
    sorts last, np.sort along the window axis, then one vectorized
    run-length scan — ascending order makes the first maximal run the
    smallest tied value, so strict > IS the tie-break. No Python per
    pixel."""
    frags = _emit_fragments(tiles, radius=radius)

    def compute(ys, xs, padded):
        vpad = padded != nullval
        vals = np.stack(_window_views(padded, radius))
        valid = np.stack(_window_views(vpad, radius))
        vals = np.where(valid, vals, MAJ_SENT)
        vals.sort(axis=0)
        best_val = vals[0].copy()
        best_run = np.ones((ys, xs), np.int64)
        cur = np.ones((ys, xs), np.int64)
        for i in range(1, vals.shape[0]):
            eq = vals[i] == vals[i - 1]
            cur = np.where(eq, cur + 1, 1)
            take = (vals[i] != MAJ_SENT) & (cur > best_run)
            best_run = np.where(take, cur, best_run)
            best_val = np.where(take, vals[i], best_val)
        k = valid.shape[0]
        cvalid = valid[k // 2]
        return [np.where(cvalid, best_val, -1)]

    return _focal_arrow_map(frags, FOCAL_APPLY_SCHEMA, nullval, radius, compute)


def focal_mean_stddev(stats: DataFrame) -> DataFrame:
    """Derive per-pixel focal mean and stddev arrays from a
    focal_stats result — pure JVM zip_with over the partial arrays
    (mean = sum/count; var = ssq/count - mean^2 clamped at 0, the
    same negative-rounding guard as the whole-image stats,
    operators/stats.py). -1.0 where undefined."""
    def z(a, b, f):
        return F.zip_with(F.col(a), F.col(b), f)

    mean = z("f_sum", "f_count",
             lambda s, n: F.when(n > 0, s / n).otherwise(F.lit(-1.0)))
    return stats.withColumn("f_mean", mean).withColumn(
        "f_stddev",
        F.zip_with(
            z("f_ssq", "f_count",
              lambda q, n: F.when(n > 0, q / n).otherwise(F.lit(-1.0))),
            F.col("f_mean"),
            lambda m2, m: F.when(
                m >= 0, F.sqrt(F.greatest(m2 - m * m, F.lit(0.0)))
            ).otherwise(F.lit(-1.0)),
        ),
    )
