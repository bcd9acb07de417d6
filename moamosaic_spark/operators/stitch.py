"""The stitch kernel: per-(band, tile) grouped Arrow UDF that replays the
reference's read-side padding, ordered overlap-resolution merge,
single-pass statistics partials, and pyramid subsampling in ONE pass.

Reference semantics replicated exactly:

* read-window clamp + null padding — mosaic.py:258-273
* "last non-null wins" ordered merge — mosaic.py:663-689. The fold is
  re-based on a null canvas: starting from ``np.full(nullval)`` and
  overwriting non-null pixels of inputs[0], inputs[1], ... in priority
  order is pixel-identical to the reference's "start from inputs[0] then
  overwrite" (inputs[0]'s null pixels stay null either way). This
  re-basing is what lets contributors with fully-degenerate windows be
  dropped before the shuffle.
* contributor window-shape guard — mosaic.py:586-593 (rows sharing a
  priority must agree on their window geometry; mismatch raises instead
  of silently pasting through the wrong window)
* stats partials (count/sum/ssq/min/max over non-null, float64 algebra)
  — mosaic.py:758-777
* pyramid fragments ``arr[lvl//2::lvl, lvl//2::lvl]`` written at
  ``(top//lvl, left//lvl)``, clipped to the overview raster shape
  — mosaic.py:720-743
* a block no input covers is pure nullval, with no read or merge —
  mosaic.py:351-359: its group holds only its placeholder row

All pixel math is numpy over Arrow-delivered batches; the only Python
loop is per source *chunk* (a ~64K-pixel array), never per pixel/row.

The split stitch (hot tiles: contributors' bytes over the stitch byte
budget, mosaic._hot_runs) has one kernel per stage, shared by the
'last' and 'blend' merge policies: ``make_partial_fn_arrow`` folds a
priority run into one PARTIAL_SCHEMA row, and ``make_stitch_fn_arrow``
— the same kernel as the unsplit stitch — composes the partials. One fold implementation
(`_fold_arrow_group`) serves all of them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql.pandas.types import to_arrow_schema

from ..pixels import PIXEL_DTYPE, decode_column, encode_column
from ..plans.grid import OutputGrid, overview_shape
from ..schema import PARTIAL_SCHEMA, STITCH_SCHEMA

# the Arrow forms of the Spark relations the kernels emit
ARROW_STITCH_SCHEMA = to_arrow_schema(STITCH_SCHEMA)
ARROW_PARTIAL_SCHEMA = to_arrow_schema(PARTIAL_SCHEMA)

_WINDOW_COLS = (
    "top", "left", "ysize", "xsize", "priority",
    "in_top", "in_left", "in_ysize", "in_xsize",
    "src_ncols", "src_nrows", "b_top", "b_left", "b_ysize", "b_xsize",
)


def _nearest_state(ysize: int, xsize: int):
    return np.full((ysize, xsize), np.inf)


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
        return None
    if policy == "nearest":
        return _nearest_state(ysize, xsize)
    if policy == "blend":
        return _blend_state(ysize, xsize, feather)
    raise ValueError(
        f"unknown merge_policy {policy!r} (expected 'last', 'nearest' or 'blend')"
    )


def _apply_window(canvas, win, nullval, policy, best, in_top, in_left,
                  src_nrows, src_ncols):
    """Fold one contributor window into the canvas.

    policy='last': last non-null wins (reference mosaic.py:683-689).
    policy='nearest': kNN nearest-source tie-breaking (north-star
    extension, NOT in the reference): a non-null pixel wins if its
    source raster's center is nearer (in output pixels) than the
    current holder's; equal distance falls back to last-wins. ``best``
    carries the per-pixel best distance-squared state.
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
        canvas[non_null] = win[non_null]
        return
    if policy == "blend":
        wsum, wvsum, feather = best
        # distance of each window pixel to its SOURCE's nearest edge
        # (source row of window row r is in_top + r); padded
        # out-of-extent pixels are null and masked out anyway
        sr = in_top + np.arange(win.shape[0], dtype=np.int64)
        sc = in_left + np.arange(win.shape[1], dtype=np.int64)
        dr = np.minimum(sr + 1, src_nrows - sr)
        dc = np.minimum(sc + 1, src_ncols - sc)
        w = np.clip(np.minimum(dr[:, None], dc[None, :]), 1, int(feather))
        wsum[non_null] += w[non_null]
        wvsum[non_null] += w[non_null] * win[non_null].astype(np.int64)
        return
    # source center in tile-local pixel coords: source col 0 sits at
    # tile-local col -in_left (in_left is the tile's left in src coords)
    cy = -in_top + (src_nrows - 1) / 2.0
    cx = -in_left + (src_ncols - 1) / 2.0
    rr = np.arange(win.shape[0])[:, None] - cy
    cc = np.arange(win.shape[1])[None, :] - cx
    dist = rr * rr + cc * cc
    mask = non_null & (dist <= best)
    canvas[mask] = win[mask]
    best[mask] = dist[mask]


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


def _extract_arrow_group(tbl: pa.Table):
    """Column arrays, the pixel payloads (element offsets, uint16
    values) and the indices of the rows that carry a payload of one
    Arrow group, zero-copy where the types allow: placeholder rows are
    skipped by index, never filtered out by copying the payloads."""
    pix = tbl.column("pixels").combine_chunks()
    cols = {name: tbl.column(name).to_numpy(zero_copy_only=False) for name in _WINDOW_COLS}
    offsets, values = decode_column(pix)
    return cols, offsets, values, np.flatnonzero(pix.is_valid())


def _check_run_geometry(cols, idxs, key):
    """Reference shape guard (mosaic.py:586-593): every row of a
    priority run must describe the same contributor window — otherwise
    two sources share a priority and pixels would be pasted through the
    wrong geometry. Raise instead of corrupting."""
    r0 = idxs[0]
    for ri in idxs[1:]:
        for c in ("in_top", "in_left", "in_ysize", "in_xsize", "src_nrows", "src_ncols"):
            if cols[c][ri] != cols[c][r0]:
                raise ValueError(
                    f"window geometry mismatch within priority "
                    f"{int(cols['priority'][r0])} at group {key}: two sources "
                    f"share a priority (priorities must be unique per source)"
                )


def _fold_arrow_group(cols, offsets, values, rows, canvas, nullval, policy, best, key):
    """The ordered merge over the payload ``rows`` of one Arrow group:
    for each contiguous priority run (one contributor), clamp + pad +
    paste its chunks into a window, then fold the window into the
    canvas. Shared by the full stitch and the split stitch's stage-1 merge."""
    order = rows[np.argsort(cols["priority"][rows], kind="stable")]
    n = len(order)
    i = 0
    while i < n:
        j = i
        prio = cols["priority"][order[i]]
        idxs = []
        while j < n and cols["priority"][order[j]] == prio:
            idxs.append(order[j])
            j += 1
        i = j
        _check_run_geometry(cols, idxs, key)
        r0 = idxs[0]
        in_top, in_left = int(cols["in_top"][r0]), int(cols["in_left"][r0])
        in_ys, in_xs = int(cols["in_ysize"][r0]), int(cols["in_xsize"][r0])
        src_nrows, src_ncols = int(cols["src_nrows"][r0]), int(cols["src_ncols"][r0])
        # clamp (mosaic.py:258-263)
        top1, left1 = max(in_top, 0), max(in_left, 0)
        bottom1 = min(in_top + in_ys, src_nrows)
        right1 = min(in_left + in_xs, src_ncols)
        if bottom1 <= top1 or right1 <= left1:
            continue
        # padded window (mosaic.py:268-273)
        win = np.full((in_ys, in_xs), nullval, dtype=PIXEL_DTYPE)
        row_off, col_off = max(0, -in_top), max(0, -in_left)
        for ri in idxs:
            b_top, b_left = int(cols["b_top"][ri]), int(cols["b_left"][ri])
            b_ys, b_xs = int(cols["b_ysize"][ri]), int(cols["b_xsize"][ri])
            rt, rb = max(b_top, top1), min(b_top + b_ys, bottom1)
            cl, cr = max(b_left, left1), min(b_left + b_xs, right1)
            if rb <= rt or cr <= cl:
                continue
            arr = values[offsets[ri]: offsets[ri + 1]].reshape(b_ys, b_xs)
            win[
                row_off + (rt - top1): row_off + (rb - top1),
                col_off + (cl - left1): col_off + (cr - left1),
            ] = arr[rt - b_top: rb - b_top, cl - b_left: cr - b_left]
        _apply_window(canvas, win, nullval, policy, best,
                      in_top, in_left, src_nrows, src_ncols)


def _key_ints(key) -> tuple:
    return tuple(int(k.as_py() if hasattr(k, "as_py") else k) for k in key)


def make_stitch_fn_arrow(
    grid: OutputGrid, levels: list[int], policy: str = "last", binary: bool = True,
    feather: int = 64,
):
    """The applyInArrow kernel for groupBy(band, tile_row, tile_col):
    reads pixel payloads zero-copy from the Arrow binary buffers and
    emits one batched binary column — no pandas object-column churn.
    ``binary`` must be True (payloads are always packed uint16, see
    pixels.py); it stays only for callers that still pass it.

    Every output (band, tile) is a group: it holds the tile's
    placeholder row (mosaic._with_placeholders; null ``pixels``), and
    only rows with a payload fold. A group with no such row is a tile
    no input covers: it emits the null canvas, ``px_count`` 0 and its
    pyramid fragments.

    It is also stage 2 of the split stitch. A group whose input has a
    ``wsum`` column (PARTIAL_SCHEMA) folds its rows with non-null
    ``pixels`` as contributors — raw cold rows and 'last' partials —
    and adds the canvases of its rows with non-null ``wsum`` ('blend'
    partials) into the blend state before finalize. Finalize is the same
    exact integer half-up division either way, so split == unsplit
    bit-for-bit."""
    if not binary:
        raise ValueError("binary must be True: packed uint16 is the only pixel layout")
    import pyarrow.compute as pc

    nullval = int(grid.nullval)
    ov_shapes = {lvl: overview_shape(grid.nrows, grid.ncols, lvl) for lvl in levels}

    def stitch(key: tuple, tbl: pa.Table) -> pa.Table:
        band, tile_row, tile_col = _key_ints(key)
        top, left, ysize, xsize = (
            int(tbl.column(c)[0].as_py()) for c in ("top", "left", "ysize", "xsize")
        )
        canvas = np.full((ysize, xsize), nullval, dtype=PIXEL_DTYPE)
        best = _policy_state(policy, ysize, xsize, feather)
        cols, offsets, values, rows = _extract_arrow_group(tbl)
        _fold_arrow_group(cols, offsets, values, rows, canvas, nullval, policy, best,
                          (band, tile_row, tile_col))
        parts = None
        if "wsum" in tbl.column_names:
            parts = tbl.filter(pc.is_valid(tbl.column("wsum")))
        if parts is not None and parts.num_rows:
            _add_blend_partials(best, parts)
        _finalize_policy(canvas, policy, best)
        rows = [_base_row(band, tile_row, tile_col, top, left, canvas, nullval)]
        rows.extend(
            _pyramid_rows(band, tile_row, tile_col, top, left, canvas, levels, ov_shapes)
        )
        return _rows_to_arrow(rows, ARROW_STITCH_SCHEMA)

    return stitch


def _add_blend_partials(best, parts: pa.Table) -> None:
    """Add each 'blend' partial's (wsum, wvsum) box into the tile's
    blend state at the box's offset (in_top = -r0, in_left = -c0)."""
    geo = {
        c: parts.column(c).to_numpy(zero_copy_only=False)
        for c in ("in_top", "in_left", "src_nrows", "src_ncols")
    }
    for name, acc in (("wsum", best[0]), ("wvsum", best[1])):
        arr = parts.column(name).combine_chunks()
        off, val = arr.offsets.to_numpy(), arr.values.to_numpy(zero_copy_only=False)
        for i in range(parts.num_rows):
            r0, c0 = -int(geo["in_top"][i]), -int(geo["in_left"][i])
            h, w = int(geo["src_nrows"][i]), int(geo["src_ncols"][i])
            acc[r0: r0 + h, c0: c0 + w] += val[off[i]: off[i + 1]].reshape(h, w)


def make_partial_fn_arrow(grid: OutputGrid, policy: str = "last", feather: int = 64):
    """Stage-1 kernel of the SPLIT stitch, for groupBy(band, tile_row,
    tile_col, run): fold a contiguous-priority run of a hot tile's
    contributors, then emit ONE PARTIAL_SCHEMA row covering the bounding
    box of what the run wrote (not the whole tile — partially covered
    tiles would otherwise inflate the stage-2 shuffle) — no row when it
    wrote nothing: the tile's placeholder keeps its stage-2 group.

    Correctness (SURVEY.md §7.5 "ordered merge under salting"):

    * 'last': the per-pixel fold op(a,b) = (b if b != nullval else a) is
      associative, so partial canvases built over contiguous priority
      ranges and composed in run order (priority = run id) equal
      the unsplit fold exactly. The box is the written pixels
      (``canvas != nullval``) and rides in ``pixels``.
    * 'blend': a per-pixel SUM of (weight, weight*value) over non-null
      contributors — commutative and associative — so each run emits
      the box of its integer (wsum, wvsum) canvases (``wsum > 0``) and
      stage 2 adds them in any order; ``pixels`` is null.

    'nearest' carries per-pixel arg-min state a partial cannot
    decompose; do_mosaic never splits its tiles."""
    nullval = int(grid.nullval)

    def partial(key: tuple, tbl: pa.Table) -> pa.Table:
        band, tile_row, tile_col, run = _key_ints(key)
        cols, offsets, values, rows = _extract_arrow_group(tbl)
        top, left = int(cols["top"][0]), int(cols["left"][0])
        ysize, xsize = int(cols["ysize"][0]), int(cols["xsize"][0])
        canvas = np.full((ysize, xsize), nullval, dtype=PIXEL_DTYPE)
        best = _policy_state(policy, ysize, xsize, feather)
        _fold_arrow_group(cols, offsets, values, rows, canvas, nullval, policy, best,
                          (band, tile_row, tile_col, run))
        # bounding box of written pixels
        written = canvas != nullval if best is None else best[0] > 0
        nn_rows = np.flatnonzero(written.any(axis=1))
        nn_cols = np.flatnonzero(written.any(axis=0))
        if nn_rows.size == 0:
            return ARROW_PARTIAL_SCHEMA.empty_table()
        r0, r1 = int(nn_rows[0]), int(nn_rows[-1]) + 1
        c0, c1 = int(nn_cols[0]), int(nn_cols[-1]) + 1
        box = np.s_[r0:r1, c0:c1]
        row = {
            "tile_row": tile_row, "tile_col": tile_col, "band": band,
            "top": top, "left": left, "ysize": ysize, "xsize": xsize,
            "priority": run,
            # window geometry: the bbox as a synthetic source placed so
            # that src px (0,0) lands at tile-local (r0, c0):
            # in_top = -r0 => pad offset row_off = r0; clamp keeps the
            # bbox extent because src dims == bbox dims.
            "in_top": -r0, "in_left": -c0,
            "in_ysize": ysize, "in_xsize": xsize,
            "src_nrows": r1 - r0, "src_ncols": c1 - c0,
            "b_top": 0, "b_left": 0, "b_ysize": r1 - r0, "b_xsize": c1 - c0,
            "pixels": canvas[box].ravel() if best is None else None,
            "wsum": None if best is None else best[0][box].ravel(),
            "wvsum": None if best is None else best[1][box].ravel(),
        }
        return _rows_to_arrow([row], ARROW_PARTIAL_SCHEMA)

    return partial


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
