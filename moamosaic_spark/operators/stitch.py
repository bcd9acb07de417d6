"""The stitch kernel: per-(band, tile) grouped Arrow UDF that replays the
reference's read-side padding, overlap-resolution merge, single-pass
statistics partials, and pyramid subsampling in ONE pass.

The merge is a fold over the group's Arrow record batches, one batch at
a time and in any order: the survey's ``MERGE_LAST_NON_NULL(block ORDER
BY source_priority)`` as an aggregate with bounded state. A group's rows
reach the kernel in shuffle-read order, and a batch boundary can fall
inside a contributor, so the fold never relies on row order. Its state
is the tile canvas plus a per-pixel int32 priority plane; a Python task
holds one Arrow batch and that state at a time, whatever the group's
size (Spark's batch caps, session.ENGINE_CONF, bound the batch).

Reference semantics replicated exactly:

* read-window clamp + null padding — mosaic.py:258-273. Each source
  chunk is clamped and pasted straight into its part of the tile; the
  padding is the pixels no chunk reaches.
* "last non-null wins" merge — mosaic.py:663-689. A non-null pixel wins
  when its priority is >= the plane's, so the fold ends at the
  highest-priority non-null value in any arrival order. Starting from a
  null canvas is pixel-identical to the reference's "start from
  inputs[0] then overwrite" (inputs[0]'s null pixels stay null either
  way), which is what lets contributors with fully-degenerate windows
  be dropped before the shuffle.
* contributor window-shape guard — mosaic.py:586-593 (rows sharing a
  priority must agree on their window geometry, across batches too;
  mismatch raises instead of silently pasting through the wrong window)
* stats partials (count/sum/ssq/min/max over non-null, float64 algebra)
  — mosaic.py:758-777
* pyramid fragments ``arr[lvl//2::lvl, lvl//2::lvl]`` written at
  ``(top//lvl, left//lvl)``, clipped to the overview raster shape
  — mosaic.py:720-743
* a block no input covers is pure nullval, with no read or merge —
  mosaic.py:351-359: its group holds only its placeholder row

A chunk is identified by (priority, b_top, b_left) and folds once: a
chunk replayed by an interrupted ``relayout_append`` is a duplicate row,
and 'blend' sums would otherwise count its weights twice.

All pixel math is numpy over Arrow-delivered batches; the only Python
loop is per source *chunk* (a ~64K-pixel array), never per pixel/row.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa

from pyspark.sql.pandas.types import to_arrow_schema

from ..pixels import PIXEL_DTYPE, decode_column, encode_column
from ..plans.grid import OutputGrid, overview_shape
from ..schema import STITCH_SCHEMA

# the Arrow form of the Spark relation the kernel emits
ARROW_STITCH_SCHEMA = to_arrow_schema(STITCH_SCHEMA)

MERGE_POLICIES = ("last", "nearest", "blend")

# a contributor's window: rows sharing a priority must agree on these
_GEOMETRY = ("in_top", "in_left", "in_ysize", "in_xsize", "src_nrows", "src_ncols")


def check_merge_policy(policy: str) -> None:
    """Raise ValueError naming a merge policy the stitch does not know;
    callers run it before any driver action."""
    if policy not in MERGE_POLICIES:
        raise ValueError(
            f"unknown merge_policy {policy!r} (expected 'last', 'nearest' or 'blend')"
        )


def _priority_plane(ysize: int, xsize: int):
    """Per-pixel priority of the value the canvas holds; below every
    int32 priority until a non-null pixel lands."""
    return np.full((ysize, xsize), np.iinfo(np.int32).min, dtype=np.int32)


def _nearest_state(ysize: int, xsize: int):
    """(priority plane, best distance-squared) for policy='nearest'."""
    return _priority_plane(ysize, xsize), np.full((ysize, xsize), np.inf)


def _blend_state(ysize: int, xsize: int, feather: int):
    """(weight sum, weighted value sum, feather width) accumulators for
    policy='blend'. INTEGER accumulators deliberately: weights and
    pixel values are ints, so the sums are exact and ORDER-FREE —
    float accumulation would differ from a SQL oracle's arbitrary sum
    order in the last ulp and flip rounded values at .5 boundaries."""
    return (
        np.zeros((ysize, xsize), dtype=np.int64),
        np.zeros((ysize, xsize), dtype=np.int64),
        int(feather),
    )


def _policy_state(policy: str, ysize: int, xsize: int, feather: int):
    if policy == "last":
        return _priority_plane(ysize, xsize)
    if policy == "nearest":
        return _nearest_state(ysize, xsize)
    return _blend_state(ysize, xsize, feather)


def _state_view(policy: str, state, region):
    """The part of ``state`` under the canvas ``region``."""
    if policy == "last":
        return state[region]
    if policy == "nearest":
        return tuple(a[region] for a in state)
    wsum, wvsum, feather = state
    return wsum[region], wvsum[region], feather


def _apply_window(canvas, win, nullval, policy, best, in_top, in_left,
                  src_nrows, src_ncols, priority):
    """Fold one contributor window of priority ``priority`` into the
    canvas, in any order relative to the other windows. ``canvas`` and
    ``best`` (the policy state, _policy_state) may be views of a region
    of the tile; ``win`` has the region's shape and its pixel (0, 0) is
    source pixel (``in_top``, ``in_left``).

    policy='last': the highest-priority non-null pixel wins (reference
    mosaic.py:683-689); ``best`` is the priority plane.
    policy='nearest': kNN nearest-source tie-breaking (north-star
    extension, NOT in the reference): a non-null pixel wins if its
    source raster's center is nearer (in output pixels) than the
    current holder's; equal distance falls back to the higher
    priority. ``best`` is (priority plane, distance-squared plane).
    policy='blend': nodata-aware EDGE-BLENDING (north-star extension):
    overlapping non-null pixels are feathered — each contributor
    weighs in by its pixel's distance to its own source edge (clamped
    to the feather width), so seams fade instead of stepping; null
    pixels contribute nothing. ``best`` carries (weight-sum,
    weighted-value-sum, feather); the blended canvas is resolved in
    _finalize_policy.
    """
    non_null = win != nullval
    if policy == "last":
        non_null &= best <= priority
        np.copyto(canvas, win, where=non_null)
        np.copyto(best, priority, where=non_null)
        return
    if policy == "blend":
        wsum, wvsum, feather = best
        # distance of each window pixel to its SOURCE's nearest edge
        # (source row of window row r is in_top + r)
        sr = in_top + np.arange(win.shape[0], dtype=np.int64)
        sc = in_left + np.arange(win.shape[1], dtype=np.int64)
        dr = np.minimum(sr + 1, src_nrows - sr)
        dc = np.minimum(sc + 1, src_ncols - sc)
        w = np.clip(np.minimum(dr[:, None], dc[None, :]), 1, int(feather))
        np.add(wsum, w, out=wsum, where=non_null)
        np.add(wvsum, w * win, out=wvsum, where=non_null)
        return
    plane, dist_best = best
    # source center in window coords: source col 0 sits at window col
    # -in_left
    cy = -in_top + (src_nrows - 1) / 2.0
    cx = -in_left + (src_ncols - 1) / 2.0
    rr = np.arange(win.shape[0])[:, None] - cy
    cc = np.arange(win.shape[1])[None, :] - cx
    dist = rr * rr + cc * cc
    mask = non_null & (
        (dist < dist_best) | ((dist == dist_best) & (priority >= plane))
    )
    np.copyto(canvas, win, where=mask)
    np.copyto(dist_best, dist, where=mask)
    np.copyto(plane, priority, where=mask)


def _finalize_policy(canvas, policy, best) -> None:
    """Resolve accumulated policy state into the canvas (blend only;
    last/nearest write the canvas directly). Blend rounds HALF-UP via
    exact integer division — (2*wv + w) // (2*w) — so any SQL engine
    reproduces it bit-identically (np.rint's half-to-even and SQL
    round()'s half-away diverge at .5 boundaries)."""
    if policy == "blend":
        wsum, wvsum, _ = best
        valid = wsum > 0
        canvas[valid] = (
            (2 * wvsum[valid] + wsum[valid]) // (2 * wsum[valid])
        ).astype(canvas.dtype)


class _TileFold:
    """The merge state of one (band, tile): the canvas, the policy
    state, the window of every priority seen (the shape guard) and the
    chunks already folded (duplicates fold once)."""

    def __init__(self, first: pa.RecordBatch, nullval: int, policy: str, feather: int,
                 key: tuple):
        self.top, self.left, ysize, xsize = (
            int(first.column(c)[0].as_py()) for c in ("top", "left", "ysize", "xsize")
        )
        self.canvas = np.full((ysize, xsize), nullval, dtype=PIXEL_DTYPE)
        self.state = _policy_state(policy, ysize, xsize, feather)
        self.nullval, self.policy, self.key = nullval, policy, key
        self.windows: dict = {}
        self.seen: set = set()

    def add(self, batch: pa.RecordBatch) -> None:
        """Fold the rows of ``batch`` that carry a payload; placeholder
        rows (null ``pixels``) are skipped by index, and the payloads
        are read zero-copy from the Arrow buffers."""
        pix = batch.column("pixels")
        rows = np.flatnonzero(pix.is_valid().to_numpy(zero_copy_only=False))
        if rows.size == 0:
            return
        offsets, values = decode_column(pix)
        cols = {
            c: batch.column(c).to_numpy(zero_copy_only=False)
            for c in ("priority", "b_top", "b_left", "b_ysize", "b_xsize", *_GEOMETRY)
        }
        for ri in rows:
            prio = int(cols["priority"][ri])
            geo = tuple(int(cols[c][ri]) for c in _GEOMETRY)
            if self.windows.setdefault(prio, geo) != geo:
                raise ValueError(
                    f"window geometry mismatch within priority {prio} at group "
                    f"{self.key}: two sources share a priority (priorities must "
                    f"be unique per source)"
                )
            b_top, b_left = int(cols["b_top"][ri]), int(cols["b_left"][ri])
            if (prio, b_top, b_left) in self.seen:
                continue
            self.seen.add((prio, b_top, b_left))
            in_top, in_left, in_ys, in_xs, src_nrows, src_ncols = geo
            b_ys, b_xs = int(cols["b_ysize"][ri]), int(cols["b_xsize"][ri])
            # the chunk's part of the clamped read window (mosaic.py:258-263)
            rt = max(b_top, in_top, 0)
            rb = min(b_top + b_ys, in_top + in_ys, src_nrows)
            cl = max(b_left, in_left, 0)
            cr = min(b_left + b_xs, in_left + in_xs, src_ncols)
            if rb <= rt or cr <= cl:
                continue
            arr = values[offsets[ri]: offsets[ri + 1]].reshape(b_ys, b_xs)
            region = np.s_[rt - in_top: rb - in_top, cl - in_left: cr - in_left]
            _apply_window(
                self.canvas[region], arr[rt - b_top: rb - b_top, cl - b_left: cr - b_left],
                self.nullval, self.policy, _state_view(self.policy, self.state, region),
                rt, cl, src_nrows, src_ncols, prio,
            )


def _key_ints(key) -> tuple:
    return tuple(int(k.as_py() if hasattr(k, "as_py") else k) for k in key)


def make_stitch_kernel(
    grid: OutputGrid, levels: list[int], policy: str = "last", feather: int = 64,
):
    """The applyInArrow kernel for groupBy(..., band, tile_row, tile_col)
    (the stitch also groups by its tile range first, mosaic._stitch_tail;
    the kernel reads the last three key fields), in PySpark's iterator
    form: it folds the group's record batches one at a time (_TileFold)
    and yields the tile, its stats partials and its
    pyramid fragments as one batch. Payloads are read zero-copy from
    the Arrow binary buffers and emitted as one batched binary column.

    Every output (band, tile) is a group: it holds the tile's
    placeholder row (mosaic._with_placeholders; null ``pixels``), and
    only rows with a payload fold. A group with no such row is a tile
    no input covers: it emits the null canvas, ``px_count`` 0 and its
    pyramid fragments."""
    check_merge_policy(policy)
    nullval = int(grid.nullval)
    ov_shapes = {lvl: overview_shape(grid.nrows, grid.ncols, lvl) for lvl in levels}

    def stitch(
        key: Tuple[pa.Scalar, ...], batches: Iterator[pa.RecordBatch]
    ) -> Iterator[pa.RecordBatch]:
        band, tile_row, tile_col = _key_ints(key[-3:])
        fold = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if fold is None:
                fold = _TileFold(batch, nullval, policy, feather, (band, tile_row, tile_col))
            fold.add(batch)
        canvas = fold.canvas
        _finalize_policy(canvas, policy, fold.state)
        rows = [_base_row(band, tile_row, tile_col, fold.top, fold.left, canvas, nullval)]
        rows.extend(_pyramid_rows(
            band, tile_row, tile_col, fold.top, fold.left, canvas, levels, ov_shapes
        ))
        yield from _rows_to_arrow(rows, ARROW_STITCH_SCHEMA).to_batches()

    return stitch


def make_stitch_fn_arrow(
    grid: OutputGrid, levels: list[int], policy: str = "last", binary: bool = True,
    feather: int = 64,
):
    """The stitch kernel in table form, ``fn(key, tbl) -> pa.Table``, for
    callers that hold a whole group in memory: the same fold
    (make_stitch_kernel) over the table's record batches. ``binary``
    must be True (payloads are always packed uint16, see pixels.py); it
    stays only for callers that still pass it."""
    if not binary:
        raise ValueError("binary must be True: packed uint16 is the only pixel layout")
    kernel = make_stitch_kernel(grid, levels, policy, feather)

    def stitch(key: tuple, tbl: pa.Table) -> pa.Table:
        return pa.Table.from_batches(kernel(key, tbl.to_batches()), ARROW_STITCH_SCHEMA)

    return stitch


def _rows_to_arrow(rows: list[dict], schema: pa.Schema) -> pa.Table:
    arrs = []
    for field in schema:
        vals = [r[field.name] for r in rows]
        if field.name == "pixels" and not any(v is None for v in vals):
            arrs.append(encode_column(vals))
        else:
            arrs.append(pa.array(vals, type=field.type))
    return pa.Table.from_arrays(arrs, schema=schema)


def _base_row(band, tile_row, tile_col, top, left, canvas, nullval) -> dict:
    values = canvas[canvas != nullval]
    n = int(values.size)
    v64 = values.astype(np.float64)
    return {
        "level": 0,
        "band": band,
        "tile_row": tile_row,
        "tile_col": tile_col,
        "y_off": top,
        "x_off": left,
        "ysize": canvas.shape[0],
        "xsize": canvas.shape[1],
        "pixels": canvas.ravel(),
        "px_count": n,
        "px_sum": float(v64.sum()) if n else 0.0,
        "px_ssq": float((v64**2).sum()) if n else 0.0,
        "px_min": float(values.min()) if n else None,
        "px_max": float(values.max()) if n else None,
    }


def _pyramid_rows(band, tile_row, tile_col, top, left, canvas, levels, ov_shapes):
    rows = []
    for lvl in levels:
        o = lvl // 2
        sub = canvas[o::lvl, o::lvl]
        y_off, x_off = top // lvl, left // lvl
        ov_nr, ov_nc = ov_shapes[lvl]
        sub = sub[: max(0, ov_nr - y_off), : max(0, ov_nc - x_off)]
        if sub.size == 0:
            continue
        rows.append(
            {
                "level": lvl,
                "band": band,
                "tile_row": tile_row,
                "tile_col": tile_col,
                "y_off": y_off,
                "x_off": x_off,
                "ysize": sub.shape[0],
                "xsize": sub.shape[1],
                "pixels": sub.ravel(),
                "px_count": 0,
                "px_sum": 0.0,
                "px_ssq": 0.0,
                "px_min": None,
                "px_max": None,
            }
        )
    return rows
