"""Output checks against numpy oracles, on decoded pixel values.

Outputs are read back with pyarrow straight from the parquet sinks
(no Spark job), and pixel payloads are decoded before comparison, so a
change of the engine's payload layout leaves these checks valid as
long as the values are right. Every check returns a list of failure
strings; an empty list means the output matches.

- mosaic: level-0 tiles, overview pyramids and band stats against the
  engine's independent canvas oracle (``synth.oracle``);
- incremental: the sink after each micro-batch against a canvas pasted
  from the refs seen so far, and after the last batch, against the
  full run over all refs;
- terrain: hillshade and basin labels against a numpy Horn / D8 /
  pointer-following computation written here.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.dataset as ds

from corpus import NULLVAL, Raster


def read_table(path: Path):
    """All rows of a Spark-written parquet directory (hive partitions
    such as ``part=3`` become a column)."""
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table()


def decode(payload, ysize: int, xsize: int) -> np.ndarray:
    """Pixel payload -> (ysize, xsize) int64 array; accepts the u2
    binary layout and integer lists."""
    if isinstance(payload, (bytes, bytearray, memoryview)):
        a = np.frombuffer(payload, dtype="<u2")
    else:
        a = np.asarray(payload)
    return a.astype(np.int64).reshape(ysize, xsize)


def paste(rasters: list[Raster], nrows: int, ncols: int) -> np.ndarray:
    """Canvas of the given rasters in priority order (later non-null
    pixels win), offsets relative to the corpus origin."""
    c = np.full((nrows, ncols), NULLVAL, dtype=np.int64)
    for r in rasters:
        sub = c[r.row0:r.row0 + r.pixels.shape[0], r.col0:r.col0 + r.pixels.shape[1]]
        m = r.pixels != NULLVAL
        sub[m] = r.pixels[m]
    return c


# ---------------------------------------------------------------------------
# mosaic
# ---------------------------------------------------------------------------

def read_tiles(path: Path) -> dict:
    """(band, tile_row, tile_col) -> decoded tile; duplicate keys are
    kept apart under a ``("dup", key)`` entry so the check sees them."""
    t = read_table(path).to_pydict()
    out: dict = {}
    for i in range(len(t["tile_row"])):
        key = (t["band"][i], t["tile_row"][i], t["tile_col"][i])
        arr = decode(t["pixels"][i], t["ysize"][i], t["xsize"][i])
        out[("dup", key) if key in out else key] = arr
    return out


def compare_tiles(got: dict, want: dict) -> list[str]:
    fails = []
    dups = [k for k in got if k[0] == "dup"]
    if dups:
        fails.append(f"{len(dups)} duplicate tile rows, e.g. {dups[0][1]}")
    missing = set(want) - set(got)
    extra = {k for k in got if k[0] != "dup"} - set(want)
    if missing:
        fails.append(f"{len(missing)} tiles missing, e.g. {sorted(missing)[0]}")
    if extra:
        fails.append(f"{len(extra)} unexpected tiles, e.g. {sorted(extra)[0]}")
    for k in sorted(set(want) & set(got)):
        w = np.asarray(want[k], dtype=np.int64)
        if got[k].shape != w.shape:
            fails.append(f"tile {k}: shape {got[k].shape} != {w.shape}")
        elif not np.array_equal(got[k], w):
            fails.append(f"tile {k}: {int((got[k] != w).sum())} pixels differ")
    return fails


def check_overviews(path: Path, want: dict) -> list[str]:
    t = read_table(path).to_pydict()
    canv = {k: np.full(v.shape, -1, dtype=np.int64) for k, v in want.items()}
    fails = []
    for i in range(len(t["level"])):
        k = (t["band"][i], t["level"][i])
        if k not in canv:
            fails.append(f"unexpected overview level {k}")
            continue
        y, x, ys, xs = t["y_off"][i], t["x_off"][i], t["ysize"][i], t["xsize"][i]
        canv[k][y:y + ys, x:x + xs] = decode(t["pixels"][i], ys, xs)
    for k, w in want.items():
        if not np.array_equal(canv[k], w):
            fails.append(f"overview {k}: {int((canv[k] != w).sum())} pixels differ")
    return fails


def check_stats(path: Path, want: dict) -> list[str]:
    t = read_table(path).to_pydict()
    fails = []
    got = {t["band"][i]: i for i in range(len(t["band"]))}
    for b, (mn, mx, mean, sd, n) in want.items():
        if b not in got:
            fails.append(f"stats band {b} missing")
            continue
        i = got[b]
        if (t["minval"][i], t["maxval"][i], t["count"][i]) != (mn, mx, n):
            fails.append(f"stats band {b}: min/max/count differ")
        elif not (np.isclose(t["meanval"][i], mean, rtol=1e-9)
                  and np.isclose(t["stddev"][i], sd, rtol=1e-6)):
            fails.append(f"stats band {b}: mean/stddev differ")
    return fails


def check_mosaic(out: Path, oracle, with_overviews: bool = True) -> list[str]:
    fails = compare_tiles(read_tiles(out / "tiles"), oracle.tiles)
    if with_overviews:
        fails += check_overviews(out / "overviews", oracle.overviews)
    return fails + check_stats(out / "stats", oracle.stats)


# ---------------------------------------------------------------------------
# incremental
# ---------------------------------------------------------------------------

def expected_tiles(canvas: np.ndarray, tile_index: list, keys=None) -> dict:
    return {
        (1, ti, tj): canvas[top:top + ys, left:left + xs]
        for (ti, tj, top, left, ys, xs) in tile_index
        if keys is None or (ti, tj) in keys
    }


def check_incremental(sink: Path, rasters: list[Raster], n_seen: int,
                      tile_index: list, complete: bool) -> list[str]:
    """Sink after a batch: every stored tile equals the canvas of the
    first ``n_seen`` refs; when ``complete``, the stored tile set is
    the full grid (the full run over all refs)."""
    got = read_tiles(sink)
    nrows = max(t[2] + t[4] for t in tile_index)
    ncols = max(t[3] + t[5] for t in tile_index)
    canvas = paste(rasters[:n_seen], nrows, ncols)
    keys = None if complete else {k[1:] for k in got if k[0] != "dup"}
    return compare_tiles(got, expected_tiles(canvas, tile_index, keys))


# ---------------------------------------------------------------------------
# terrain: hillshade + basins
# ---------------------------------------------------------------------------

D8 = ((-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1))
FLAT = 8


def _windows(dem: np.ndarray):
    """The 3x3 neighbourhood of every pixel as a dict (dy, dx) -> view,
    plus the mask of pixels whose whole window is valid and in-raster."""
    p = np.pad(dem, 1, constant_values=NULLVAL)
    n, m = dem.shape
    v = {(dy, dx): p[1 + dy:1 + dy + n, 1 + dx:1 + dx + m]
         for dy in (-1, 0, 1) for dx in (-1, 0, 1)}
    ok = np.ones(dem.shape, dtype=bool)
    for a in v.values():
        ok &= a != NULLVAL
    return v, ok


def hillshade_np(dem: np.ndarray, res: float) -> np.ndarray:
    """Horn hillshade (azimuth 315, altitude 45) in 0..255, -1 where
    the window is incomplete."""
    v, ok = _windows(dem)
    f = 8.0 * res
    gx = ((v[-1, 1] + 2 * v[0, 1] + v[1, 1]) - (v[-1, -1] + 2 * v[0, -1] + v[1, -1])) / f
    gy = ((v[1, -1] + 2 * v[1, 0] + v[1, 1]) - (v[-1, -1] + 2 * v[-1, 0] + v[-1, 1])) / f
    lz = np.sqrt(0.5)
    num = lz - 0.5 * gx - 0.5 * gy
    den = np.sqrt(1.0 + gx * gx + gy * gy)
    shade = np.floor(255.0 * np.maximum(num / den, 0.0) + 0.5).astype(np.int64)
    return np.where(ok, shade, -1)


def basins_np(dem: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """D8 steepest descent (first direction wins ties, no positive drop
    = flat), then pointer following to the terminal cell: a flat/pit,
    or the first cell without a defined direction. Returns (gid, basin,
    dist) over the cells with a defined direction, sorted by gid."""
    v, ok = _windows(dem)
    n, m = dem.shape
    best = np.full(dem.shape, -np.inf)
    code = np.full(dem.shape, FLAT)
    for k, (dy, dx) in enumerate(D8):
        w = np.sqrt(0.5) if dy and dx else 1.0
        eff = (v[0, 0] - v[dy, dx]).astype(np.float64) * w
        take = eff > best
        best = np.where(take, eff, best)
        code = np.where(take, k, code)
    code = np.where(best > 0.0, code, FLAT)
    gid = np.arange(n * m).reshape(n, m)
    off = np.array([dy * m + dx for dy, dx in D8] + [0])
    ptr = np.where(ok, gid + off[code], gid).ravel()
    dist = (ptr != gid.ravel()).astype(np.int64)
    while True:
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            break
        dist = dist + dist[ptr]
        ptr = nxt
    cells = gid[ok]
    return cells, ptr[cells], dist[cells]


def check_terrain(out: Path, dem: np.ndarray, res: float, blocksize: int) -> list[str]:
    fails = []
    t = read_table(out / "hillshade").to_pydict()
    got = np.full(dem.shape, -2, dtype=np.int64)
    for i in range(len(t["tile_row"])):
        r0, c0 = t["tile_row"][i] * blocksize, t["tile_col"][i] * blocksize
        ys, xs = t["ysize"][i], t["xsize"][i]
        got[r0:r0 + ys, c0:c0 + xs] = decode(t["pixels"][i], ys, xs)
    want = hillshade_np(dem, res)
    if not np.array_equal(got, want):
        fails.append(f"hillshade: {int((got != want).sum())} pixels differ")
    b = read_table(out / "basins").sort_by("gid").to_pydict()
    gid, basin, dist = basins_np(dem)
    if not (np.array_equal(np.asarray(b["gid"]), gid)
            and np.array_equal(np.asarray(b["basin"]), basin)
            and np.array_equal(np.asarray(b["dist"]), dist)):
        fails.append(f"basins: {len(b['gid'])} rows do not match {len(gid)} oracle cells")
    return fails


def corrupt_one(tiles: dict) -> dict:
    """The negative control: a copy of a tile map with one pixel of one
    tile changed."""
    bad = dict(tiles)
    k = sorted(k for k in bad if k[0] != "dup")[len(bad) // 2]
    t = bad[k].copy()
    t[t.shape[0] // 2, t.shape[1] // 2] ^= 1
    bad[k] = t
    return bad
