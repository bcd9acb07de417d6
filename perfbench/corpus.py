"""Seeded benchmark corpora: smooth-noise uint16 rasters with nodata
holes and overlaps, staged as parquet input tables.

Every array comes from ``numpy.random.default_rng(seed)``, so a seed
fixes the corpus byte for byte. Pixels are a smooth field (sum of
bilinearly upsampled random grids) sampled per raster window, plus a
small per-raster offset so the merge priority is visible in every
overlap, plus elliptical nodata holes. Unlike a "value = column index"
ramp this does not compress to nothing, so shuffle and sink bytes stay
realistic.

Inputs are written with pyarrow (no Spark needed) in the engine's
production layout: footprints, u2 binary blocks, documents.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

X0, Y0, RES = 300000.0, 7000000.0, 10.0
PROJECTION = "EPSG:32756"
NULLVAL = 0


@dataclass(frozen=True)
class Shape:
    """Geometry of one workload's corpus."""

    grid: int          # rasters per side (grid x grid layout)
    size: int          # nominal raster side in pixels
    overlap: int       # nominal overlap between neighbours in pixels
    lo: int            # smooth-field value range (uint16)
    hi: int
    holes: int         # nodata ellipses per raster
    tile: int          # output tile size
    chunk: int         # source chunk size of the blocks table
    min_overview: int  # MosaicConfig.min_overview_size


# The mosaic corpus is a 2816-px canvas; MosaicConfig's default
# min_overview_size (1024) would give it no pyramid level, 512 gives one.
SHAPES = {
    "mosaic": Shape(grid=3, size=1024, overlap=128, lo=1000, hi=60000, holes=2,
                    tile=512, chunk=256, min_overview=512),
    "incremental": Shape(grid=3, size=384, overlap=48, lo=1000, hi=60000, holes=2,
                         tile=256, chunk=128, min_overview=1024),
    "dem": Shape(grid=2, size=320, overlap=40, lo=200, hi=3200, holes=1,
                 tile=128, chunk=128, min_overview=1024),
}


def _smooth_field(rng: np.random.Generator, nrows: int, ncols: int) -> np.ndarray:
    """Sum of three octaves of bilinearly upsampled uniform noise, in [0, 1]."""
    out = np.zeros((nrows, ncols))
    for cell, weight in ((96, 1.0), (32, 0.35), (8, 0.08)):
        gr, gc = nrows // cell + 2, ncols // cell + 2
        coarse = rng.random((gr, gc))
        ry = np.arange(nrows) / cell
        rx = np.arange(ncols) / cell
        rows = np.array([np.interp(rx, np.arange(gc), coarse[i]) for i in range(gr)])
        out += weight * np.array(
            [np.interp(ry, np.arange(gr), rows[:, j]) for j in range(ncols)]
        ).T
    out -= out.min()
    return out / max(out.max(), 1e-12)


@dataclass
class Raster:
    media_ref: str
    row0: int          # top-left offset on the corpus canvas, pixels
    col0: int
    pixels: np.ndarray  # int32 (nrows, ncols), 0 = nodata

    @property
    def x0(self) -> float:
        return X0 + self.col0 * RES

    @property
    def y0(self) -> float:
        return Y0 - self.row0 * RES


def make_rasters(kind: str, seed: int) -> list[Raster]:
    """The corpus of ``kind`` for ``seed``, in priority order
    (row-major over the raster grid)."""
    s = SHAPES[kind]
    rng = np.random.default_rng([seed, list(SHAPES).index(kind)])
    stride = s.size - s.overlap
    jitter = max(1, s.overlap // 4)

    def offset(i: int) -> int:
        # inner rasters move by up to ``jitter``; the outer ones stay put,
        # so the canvas (and with it the output grid and its tile count)
        # is the same for every seed and only overlaps and pixels vary
        inner = 0 < i < s.grid - 1
        return i * stride + (int(rng.integers(0, jitter)) if inner else 0)

    placed = [(offset(i), offset(j)) for i in range(s.grid) for j in range(s.grid)]
    side = (s.grid - 1) * stride + s.size
    field = s.lo + (s.hi - s.lo) * _smooth_field(rng, side, side)
    out = []
    nr = nc = s.size
    yy, xx = np.mgrid[0:nr, 0:nc]
    for k, (r0, c0) in enumerate(placed):
        px = np.rint(field[r0:r0 + nr, c0:c0 + nc]).astype(np.int32) + (k % 5) * 3
        for _ in range(s.holes):
            cy, cx = rng.integers(0, nr), rng.integers(0, nc)
            ay, ax = rng.integers(6, max(7, nr // 10)), rng.integers(6, max(7, nc // 10))
            px[((yy - cy) / ay) ** 2 + ((xx - cx) / ax) ** 2 <= 1.0] = NULLVAL
        out.append(Raster(f"r{k:03d}", r0, c0, np.clip(px, 0, 65535).astype(np.int32)))
    return out


def fingerprint(rasters: list[Raster]) -> str:
    """sha256 over geometry and pixels — equal corpora, equal prints."""
    h = hashlib.sha256()
    for r in rasters:
        h.update(f"{r.media_ref}:{r.row0}:{r.col0}:{r.pixels.shape}".encode())
        h.update(np.ascontiguousarray(r.pixels, dtype="<u2").tobytes())
    return h.hexdigest()


def to_synth(rasters: list[Raster]):
    """The engine's own SynthRaster records (what ``synth.oracle``
    consumes)."""
    from moamosaic_spark.sources import synth

    out = []
    for r in rasters:
        sr = synth.SynthRaster(
            media_ref=r.media_ref, x0=r.x0, y0=r.y0,
            nrows=r.pixels.shape[0], ncols=r.pixels.shape[1],
        )
        sr.bands = [r.pixels]
        out.append(sr)
    return out


# ---------------------------------------------------------------------------
# staging as parquet input tables
# ---------------------------------------------------------------------------

_I32, _F64, _STR = pa.int32(), pa.float64(), pa.string()
FOOTPRINTS = pa.schema([
    ("media_ref", _STR), ("priority", _I32), ("x0", _F64), ("y0", _F64),
    ("x_res", _F64), ("y_res", _F64), ("ncols", _I32), ("nrows", _I32),
    ("n_bands", _I32), ("dtype", _STR), ("nullval", _F64), ("projection", _STR),
])
BLOCKS = pa.schema([
    ("media_ref", _STR), ("band", _I32), ("b_row", _I32), ("b_col", _I32),
    ("b_top", _I32), ("b_left", _I32), ("b_ysize", _I32), ("b_xsize", _I32),
    ("pixels", pa.binary()),
])
SPAN = pa.struct([("kind", _STR), ("text", _STR), ("media_ref", _STR), ("offset", _I32)])
DOCUMENTS = pa.schema([("doc_id", _STR), ("spans", pa.list_(SPAN))])


def _footprint_rows(rasters: list[Raster]) -> list[dict]:
    return [
        dict(media_ref=r.media_ref, priority=i, x0=r.x0, y0=r.y0, x_res=RES,
             y_res=RES, ncols=r.pixels.shape[1], nrows=r.pixels.shape[0],
             n_bands=1, dtype="uint16", nullval=float(NULLVAL), projection=PROJECTION)
        for i, r in enumerate(rasters)
    ]


def _block_rows(rasters: list[Raster], chunk: int) -> list[dict]:
    rows = []
    for r in rasters:
        nr, nc = r.pixels.shape
        for br in range((nr + chunk - 1) // chunk):
            for bc in range((nc + chunk - 1) // chunk):
                top, left = br * chunk, bc * chunk
                c = r.pixels[top:top + chunk, left:left + chunk]
                rows.append(dict(
                    media_ref=r.media_ref, band=1, b_row=br, b_col=bc, b_top=top,
                    b_left=left, b_ysize=c.shape[0], b_xsize=c.shape[1],
                    pixels=np.ascontiguousarray(c, dtype="<u2").tobytes(),
                ))
    return rows


def document_rows(rasters: list[Raster], seed: int, groups: int) -> list[dict]:
    """Interleaved text+media documents in raster priority order from
    the engine's own generator (``synth.documents_pdf``), one seeded
    call per group of consecutive rasters; doc ids carry the group
    (``b<g>-``) so they sort in priority order across groups."""
    from moamosaic_spark.sources import synth

    per = -(-len(rasters) // groups)
    rows = []
    for g in range(groups):
        part = to_synth(rasters[g * per:(g + 1) * per])
        for d in synth.documents_pdf(part, seed=seed * 7919 + g).to_dict("records"):
            d["doc_id"] = f"b{g}-{d['doc_id']}"
            rows.append(d)
    return rows


def stage(kind: str, seed: int, root: Path) -> tuple[list[Raster], Path]:
    """Generate the corpus and write its input tables under
    ``root/<kind>-<seed>/`` once per seed; later calls reuse the files
    while the fingerprint matches (the corpus is regenerated in memory —
    it is cheap and seeded)."""
    rasters = make_rasters(kind, seed)
    d = root / f"{kind}-{seed}"
    stamp = d / "fingerprint.json"
    fp = fingerprint(rasters)
    if stamp.exists() and json.loads(stamp.read_text()).get("fingerprint") == fp:
        return rasters, d
    shutil.rmtree(d, ignore_errors=True)  # staged by another corpus version
    d.mkdir(parents=True)
    tables = {
        "footprints": pa.Table.from_pylist(_footprint_rows(rasters), FOOTPRINTS),
        "blocks": pa.Table.from_pylist(_block_rows(rasters, SHAPES[kind].chunk), BLOCKS),
        "documents": pa.Table.from_pylist(
            document_rows(rasters, seed, SHAPES[kind].grid), DOCUMENTS),
    }
    for name, t in tables.items():
        (d / name).mkdir(exist_ok=True)
        pq.write_table(t, d / name / "part-0.parquet")
    stamp.write_text(json.dumps({"fingerprint": fp}))
    return rasters, d
