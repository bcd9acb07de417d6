"""Deterministic synthetic corpus + independent numpy oracle.

Mirrors the reference's golden test fixture (tests.py:69-94: value =
column index, uint16, nullval 0, two rasters side-by-side with a
2-pixel overlap whose first overlap column is null) scaled per
FIXTURES.md, plus multi-raster / multi-band / gap / skew variants.
All generation is seeded and pure — no external data, no GDAL.

The oracle is an *independent* reimplementation: it builds the full
mosaic canvas by pasting whole rasters in priority order with a
non-null mask (the same construction as the reference test's
``trueMosaicImg``, tests.py:90-94), then slices tiles out of the canvas
— structurally different from the engine's join + per-tile fold, so a
shared bug cannot hide.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ..pixels import encode
from ..plans.grid import OutputGrid, block_edges, overview_shape

PROJECTION = "EPSG:32756"
X_RES = 10.0
Y_RES = 10.0
NULLVAL = 0


@dataclass
class SynthRaster:
    media_ref: str
    x0: float
    y0: float
    nrows: int
    ncols: int
    n_bands: int = 1
    x_res: float = X_RES
    y_res: float = Y_RES
    nullval: float = NULLVAL
    # per-band pixel arrays, filled by the corpus builder
    bands: list = field(default_factory=list)


def _colvalue_array(nrows: int, ncols: int, band: int) -> np.ndarray:
    """value = column index (+ band offset), uint16 range, like
    tests.py:77-78. Column 0 is the null value (0)."""
    row = (np.arange(ncols, dtype=np.int64) + (band - 1) * 3) % 65536
    return np.tile(row.astype(np.int32), (nrows, 1))


def make_rasters(spec: list[dict]) -> list[SynthRaster]:
    out = []
    for s in spec:
        r = SynthRaster(**s)
        r.bands = [_colvalue_array(r.nrows, r.ncols, b + 1) for b in range(r.n_bands)]
        out.append(r)
    return out


def golden_pair(nrows: int = 512, ncols: int = 512, n_bands: int = 1) -> list[SynthRaster]:
    """The reference golden-test geometry (tests.py:71-87): second raster
    shifted right by (ncols-2) pixels -> 2-pixel overlap whose first
    column is null in raster B."""
    x0, y0 = 300000.0, 7000000.0
    return make_rasters(
        [
            dict(media_ref="r000", x0=x0, y0=y0, nrows=nrows, ncols=ncols, n_bands=n_bands),
            dict(
                media_ref="r001",
                x0=x0 + (ncols - 2) * X_RES,
                y0=y0,
                nrows=nrows,
                ncols=ncols,
                n_bands=n_bands,
            ),
        ]
    )


def grid3x3(nrows: int = 300, ncols: int = 300, overlap: int = 3) -> list[SynthRaster]:
    """3x3 grid of rasters with small overlaps (the shape of the
    reference's Sentinel-2 benchmark workload, runmoatiming.py:98-111)."""
    x0, y0 = 300000.0, 7000000.0
    spec = []
    k = 0
    for i in range(3):
        for j in range(3):
            spec.append(
                dict(
                    media_ref=f"r{k:03d}",
                    x0=x0 + j * (ncols - overlap) * X_RES,
                    y0=y0 - i * (nrows - overlap) * Y_RES,
                    nrows=nrows,
                    ncols=ncols,
                )
            )
            k += 1
    return make_rasters(spec)


def hot_cell(n: int = 30, nrows: int = 128, ncols: int = 128) -> list[SynthRaster]:
    """n rasters stacked over (nearly) the same area — the skew fixture:
    one cell's tiles have n contributors."""
    x0, y0 = 300000.0, 7000000.0
    spec = [
        dict(
            media_ref=f"r{k:03d}",
            x0=x0 + (k % 3) * X_RES,
            y0=y0 - (k % 5) * Y_RES,
            nrows=nrows,
            ncols=ncols,
        )
        for k in range(n)
    ]
    return make_rasters(spec)


def with_gap(nrows: int = 200, ncols: int = 200) -> list[SynthRaster]:
    """Two rasters far apart -> tiles between them intersect nothing
    (null-fill path, mosaic.py:351-359)."""
    x0, y0 = 300000.0, 7000000.0
    return make_rasters(
        [
            dict(media_ref="r000", x0=x0, y0=y0, nrows=nrows, ncols=ncols),
            dict(
                media_ref="r001",
                x0=x0 + 3 * ncols * X_RES,
                y0=y0,
                nrows=nrows,
                ncols=ncols,
            ),
        ]
    )


# ---------------------------------------------------------------------------
# Table builders (pandas -> Spark via Arrow)
# ---------------------------------------------------------------------------

def footprints_pdf(rasters: list[SynthRaster]) -> pd.DataFrame:
    return pd.DataFrame(
        [
            dict(
                media_ref=r.media_ref,
                priority=i,
                x0=r.x0,
                y0=r.y0,
                x_res=r.x_res,
                y_res=r.y_res,
                ncols=r.ncols,
                nrows=r.nrows,
                n_bands=r.n_bands,
                dtype="uint16",
                nullval=float(r.nullval),
                projection=PROJECTION,
            )
            for i, r in enumerate(rasters)
        ]
    )


def blocks_pdf(rasters: list[SynthRaster], src_blocksize: int = 256) -> pd.DataFrame:
    """The blocks fact table, pixels packed (pixels.encode)."""
    rows = []
    sbs = src_blocksize
    for r in rasters:
        for b, arr in enumerate(r.bands, start=1):
            for br in range((r.nrows + sbs - 1) // sbs):
                for bc in range((r.ncols + sbs - 1) // sbs):
                    top, left = br * sbs, bc * sbs
                    chunk = arr[top: top + sbs, left: left + sbs]
                    rows.append(
                        dict(
                            media_ref=r.media_ref,
                            band=b,
                            b_row=br,
                            b_col=bc,
                            b_top=top,
                            b_left=left,
                            b_ysize=chunk.shape[0],
                            b_xsize=chunk.shape[1],
                            pixels=encode(chunk.ravel()),
                        )
                    )
    return pd.DataFrame(rows)


_WORDS = (
    "tile scan merge block raster mosaic extent grid cell join shuffle "
    "arrow pandas spark stitch priority null pixel band overview stats"
).split()


def documents_pdf(rasters: list[SynthRaster], seed: int = 42) -> pd.DataFrame:
    """Interleaved text+media documents: media spans carry the rasters in
    priority order; 1-4 text spans interleaved; offsets strictly
    increasing (FIXTURES.md §1)."""
    rng = np.random.default_rng(seed)
    docs: list[dict] = []
    refs = [r.media_ref for r in rasters]
    i = 0
    doc_idx = 0
    while i < len(refs):
        n_media = int(rng.integers(1, 4))
        spans = []
        offset = 0
        for ref in refs[i: i + n_media]:
            for _ in range(int(rng.integers(1, 5))):
                words = rng.choice(_WORDS, size=int(rng.integers(3, 9)))
                spans.append(
                    dict(kind="text", text=" ".join(words), media_ref=None, offset=offset)
                )
                offset += 1
            spans.append(dict(kind="media", text=None, media_ref=ref, offset=offset))
            offset += 1
        docs.append(dict(doc_id=f"d{doc_idx:06d}", spans=spans))
        doc_idx += 1
        i += n_media
    return pd.DataFrame(docs)


def corpus_to_spark(
    spark,
    rasters: list[SynthRaster],
    src_blocksize: int = 256,
    seed: int = 42,
):
    """Build the (documents, footprints, blocks) Spark DataFrames for a
    synthetic corpus. Requires an Arrow-enabled session
    (moamosaic_spark.session.get_spark)."""
    from ..schema import BLOCKS_SCHEMA, DOCUMENTS_SCHEMA, FOOTPRINTS_SCHEMA

    docs = spark.createDataFrame(
        documents_pdf(rasters, seed=seed).to_dict("records"), schema=DOCUMENTS_SCHEMA
    )
    fp = spark.createDataFrame(footprints_pdf(rasters), schema=FOOTPRINTS_SCHEMA)
    blocks = spark.createDataFrame(
        blocks_pdf(rasters, src_blocksize), schema=BLOCKS_SCHEMA
    )
    return docs, fp, blocks


# ---------------------------------------------------------------------------
# Independent numpy oracle
# ---------------------------------------------------------------------------

@dataclass
class OracleResult:
    grid: OutputGrid
    canvas: dict          # band -> full mosaic ndarray
    tiles: dict           # (band, tile_row, tile_col) -> ndarray
    tile_index: list      # [(tile_row, tile_col, top, left, ysize, xsize)]
    assignments: set      # {(tile_row, tile_col, media_ref)}
    stats: dict           # band -> (min, max, mean, stddev, count)
    overviews: dict       # (band, lvl) -> ndarray (global strided subsample)


def _tiling_loop(n: int, blocksize: int) -> list[tuple[int, int]]:
    """Literal re-simulation of the reference tiling loop
    (mosaic.py:459-487) — used to cross-check the closed form."""
    out = []
    top = 0
    while top < n:
        size = min(blocksize, n - top)
        if (n - (top + size)) < (blocksize // 4):
            size = n - top
        out.append((top, size))
        top += size
    return out


def oracle(
    rasters: list[SynthRaster],
    blocksize: int = 256,
    min_overview_size: int = 128,
    nullval: float | None = None,
) -> OracleResult:
    xres, yres = rasters[0].x_res, rasters[0].y_res
    x_min = min(r.x0 for r in rasters)
    x_max = max(r.x0 + r.ncols * xres for r in rasters)
    y_min = min(r.y0 - r.nrows * yres for r in rasters)
    y_max = max(r.y0 for r in rasters)
    ncols = int(round((x_max - x_min) / xres))
    nrows = int(round((y_max - y_min) / yres))
    nv = int(rasters[0].nullval if nullval is None else nullval)
    n_bands = rasters[0].n_bands
    grid = OutputGrid(
        x_min=x_min, y_max=y_max, x_res=xres, y_res=yres, ncols=ncols, nrows=nrows,
        n_bands=n_bands, nullval=nv, dtype="uint16", projection=PROJECTION,
    )

    # full-canvas paste in priority order (tests.py:90-94 generalized)
    canvas = {}
    for b in range(1, n_bands + 1):
        c = np.full((nrows, ncols), nv, dtype=np.int32)
        for r in rasters:
            row0 = int(round((y_max - r.y0) / yres))
            col0 = int(round((r.x0 - x_min) / xres))
            arr = r.bands[b - 1]
            sub = c[row0: row0 + r.nrows, col0: col0 + r.ncols]
            mask = arr != nv
            sub[mask] = arr[mask]
        canvas[b] = c

    row_edges = _tiling_loop(nrows, blocksize)
    col_edges = _tiling_loop(ncols, blocksize)
    assert row_edges == block_edges(nrows, blocksize)
    assert col_edges == block_edges(ncols, blocksize)

    tile_index = []
    tiles = {}
    for ti, (top, ys) in enumerate(row_edges):
        for tj, (left, xs) in enumerate(col_edges):
            tile_index.append((ti, tj, top, left, ys, xs))
            for b in range(1, n_bands + 1):
                tiles[(b, ti, tj)] = canvas[b][top: top + ys, left: left + xs]

    # nested-loop join oracle with banker's rounding (mosaic.py:501-535,
    # structures.py:72-99)
    assignments = set()
    for (ti, tj, top, left, ys, xs) in tile_index:
        for r in rasters:
            x_l = x_min + left * xres
            y_t = y_max - top * yres
            x_r = x_min + (left + xs) * xres
            y_b = y_max - (top + ys) * yres
            fl = int(round((x_l - r.x0) / r.x_res))
            ft = int(round((r.y0 - y_t) / r.y_res))
            fr = int(round((x_r - r.x0) / r.x_res))
            fb = int(round((r.y0 - y_b) / r.y_res))
            if fr > 0 and fb > 0 and fl < r.ncols and ft < r.nrows:
                assignments.add((ti, tj, r.media_ref))

    stats = {}
    for b in range(1, n_bands + 1):
        vals = canvas[b][canvas[b] != nv]
        if vals.size:
            stats[b] = (
                float(vals.min()),
                float(vals.max()),
                float(vals.astype(np.float64).mean()),
                float(vals.astype(np.float64).std()),
                int(vals.size),
            )
        else:
            stats[b] = (None, None, None, None, 0)

    overviews = {}
    out_size = max(nrows, ncols)
    lvl, i = 4, 2
    while (out_size // (2**i)) >= min_overview_size:
        lvl = 2**i
        o = lvl // 2
        for b in range(1, n_bands + 1):
            overviews[(b, lvl)] = canvas[b][o::lvl, o::lvl]
            assert overviews[(b, lvl)].shape == overview_shape(nrows, ncols, lvl)
        i += 1

    return OracleResult(
        grid=grid,
        canvas=canvas,
        tiles=tiles,
        tile_index=tile_index,
        assignments=assignments,
        stats=stats,
        overviews=overviews,
    )
