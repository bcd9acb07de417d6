"""Region boundary-ring tracing (the second half of the
``gdal_polygonize`` analog; reference-side consumer of polygon
footprints: reproj.py:221-234).

``label_regions`` (geometry.py) discovers 4-connected equal-value
regions; this module emits each region's boundary RINGS — one outer
ring plus any holes — as canonical vertex sequences, fully
distributed:

1. **Halo exchange** (one shuffle, O(perimeter) strip rows): every
   tile sends its 4 border lines + 4 corner pixels to its neighbors,
   so each tile can evaluate boundary cracks and turn decisions on its
   seams without seeing neighbor tiles' pixel payloads.
2. **Per-tile crack tracing, vectorized** (one pixel pass): boundary
   *edges* are the unit pixel-sides where the interior value changes,
   oriented interior-on-RIGHT (outer rings clockwise in screen
   coords). Each edge's successor is decided locally from the 2x2
   pixel block at its end vertex with right-turn preference — the
   4-connectivity pinch rule: at a checkerboard vertex the trace turns
   back along its own region instead of crossing to the diagonal
   pixel. Edges are identified globally by (vertex, direction), so a
   successor in a neighboring tile is addressable without knowing that
   tile's data. Maximal collinear runs collapse to single segments
   (array ops — the kernel loops over neither pixels nor edges).
3. **Cross-tile stitching** through the SAME machinery as the label
   pass: gids merge via the border-row CC, rings form as cycles in the
   segment->successor permutation — found with the identical
   alternating-star connected-components over (seg_key, succ_key)
   pairs, O(|segments|) rows per round.
4. **Per-ring assembly**: one ``applyInPandas`` group per ring walks
   its (collapsed) segments in successor order — O(#turns) per ring,
   never O(perimeter pixels) — merges collinear seam joints, and
   canonicalizes: vertices rotated to start at the lexicographically
   smallest (row, col), shoelace sign gives outer-vs-hole (interior
   on right => outer rings positive in (x=col, y=row)).

Scale shape: pixels are touched once; everything downstream is
O(perimeter) rows, and a region spanning thousands of tiles stitches
through the O(|E|)-per-round CC rather than by moving pixels. One
ring's *collapsed segments* must fit in one task for final assembly —
O(number of direction changes), orders of magnitude below pixel
counts.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

# Directions (row-down screen coords): R, D, L, U. Right turn = +1
# (mod 4); the successor preference [right, straight, left] implements
# 4-connectivity at checkerboard pinch vertices.
_DR = [0, 1, 0, -1]
_DC = [1, 0, -1, 0]
# Interior / exterior pixel of an edge, as offsets from its FROM
# vertex (interior-on-right orientation):
#   R from (a,b): pixel (a,b)   vs (a-1,b)
#   D from (a,b): pixel (a,b-1) vs (a,b)
#   L from (a,b): pixel (a-1,b-1) vs (a,b-1)
#   U from (a,b): pixel (a-1,b) vs (a-1,b-1)
_INT_R = [0, 0, -1, -1]
_INT_C = [0, -1, -1, 0]
_EXT_R = [-1, 0, 0, -1]
_EXT_C = [0, 0, -1, -1]

HALO_SCHEMA = (
    "tile_row int, tile_col int, part int, ysize int, xsize int, "
    "pixels array<int>"
)

OUTLINE_WORK_SCHEMA = (
    "kind int, seg_key long, succ_key long, gid long, value int, "
    "fr long, fc long, tr long, tc long, n_edges int"
)

RING_SCHEMA = (
    "region_id long, start_r long, start_c long, n_vertices int, "
    "is_hole int, perim long, ring_hash string"
)


def make_halo_emit_fn():
    """mapInPandas kernel: re-key every tile's border strips to the
    neighbor tiles that need them as halo, alongside the tile's own
    core row. O(perimeter) strip payload per tile."""
    import numpy as np
    import pandas as pd

    def emit(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                arr = np.asarray(t.pixels, np.int32).reshape(int(t.ysize), int(t.xsize))
                tr, tc = int(t.tile_row), int(t.tile_col)
                ys, xs = arr.shape
                rows.append((tr, tc, 0, ys, xs, arr.ravel().tolist()))
                strips = [
                    (tr + 1, tc, 1, arr[-1, :]),      # their top halo
                    (tr - 1, tc, 2, arr[0, :]),       # their bottom halo
                    (tr, tc + 1, 3, arr[:, -1]),      # their left halo
                    (tr, tc - 1, 4, arr[:, 0]),       # their right halo
                    (tr + 1, tc + 1, 5, arr[-1:, -1].ravel()),  # up-left px
                    (tr + 1, tc - 1, 6, arr[-1:, 0].ravel()),   # up-right px
                    (tr - 1, tc + 1, 7, arr[:1, -1].ravel()),   # down-left px
                    (tr - 1, tc - 1, 8, arr[:1, 0].ravel()),    # down-right px
                ]
                for dtr, dtc, part, data in strips:
                    if dtr < 0 or dtc < 0:
                        continue
                    rows.append((dtr, dtc, part, ys, xs, data.tolist()))
            yield pd.DataFrame(
                rows,
                columns=["tile_row", "tile_col", "part", "ysize", "xsize",
                         "pixels"],
            )

    return emit


def _tile_edges(H, nullval):
    """All boundary edges of a tile given its halo-augmented array H
    ((ys+2) x (xs+2), core at [1:-1, 1:-1]) — vectorized. Returns
    (a, b, d, val, int_flat): LOCAL from-vertex coords, direction,
    interior value, interior pixel flat index."""
    import numpy as np

    arr = H[1:-1, 1:-1]
    ys, xs = arr.shape
    valid = arr != nullval
    out = []
    sides = [
        (0, valid & (arr != H[:-2, 1:-1]), 0, 0),   # R: top side
        (1, valid & (arr != H[1:-1, 2:]), 0, 1),    # D: right side
        (2, valid & (arr != H[2:, 1:-1]), 1, 1),    # L: bottom side
        (3, valid & (arr != H[1:-1, :-2]), 1, 0),   # U: left side
    ]
    for d, mask, va, vb in sides:
        r, c = np.nonzero(mask)
        out.append((r + va, c + vb, np.full(r.size, d, np.int64),
                    arr[r, c].astype(np.int64), r * xs + c))
    a = np.concatenate([o[0] for o in out]).astype(np.int64)
    b = np.concatenate([o[1] for o in out]).astype(np.int64)
    d = np.concatenate([o[2] for o in out])
    val = np.concatenate([o[3] for o in out])
    int_flat = np.concatenate([o[4] for o in out]).astype(np.int64)
    return a, b, d, val, int_flat


def make_outline_work_fn(W: int, nrows: int, bs: int, nullval: int):
    """The per-tile tracing kernel: assemble the halo, enumerate
    boundary edges, resolve every edge's successor from the 2x2 block
    at its end vertex (right-turn preference), collapse collinear runs
    to segments, and emit segment rows (kind 0) plus border-pixel rows
    (kind 1, for the cross-tile gid merge). Pure array ops — no loop
    over pixels or edges."""
    import numpy as np
    import pandas as pd

    from .geometry import _label_tile_runs

    vstride = W + 2  # vertex grid is (nrows+1) x (ncols+1)

    def encode(gr, gc, d):
        return (gr * vstride + gc) * 4 + d

    def work(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        core = pdf[pdf["part"] == 0]
        if core.empty:
            return pd.DataFrame(
                columns=["kind", "seg_key", "succ_key", "gid", "value",
                         "fr", "fc", "tr", "tc", "n_edges"])
        ct = core.iloc[0]
        ys, xs = int(ct.ysize), int(ct.xsize)
        H = np.full((ys + 2, xs + 2), nullval, np.int32)
        H[1:-1, 1:-1] = np.asarray(ct.pixels, np.int32).reshape(ys, xs)
        for s in pdf[pdf["part"] != 0].itertuples(index=False):
            data = np.asarray(s.pixels, np.int32)
            p = int(s.part)
            if p == 1:
                H[0, 1:1 + data.size] = data
            elif p == 2:
                H[-1, 1:1 + data.size] = data
            elif p == 3:
                H[1:1 + data.size, 0] = data
            elif p == 4:
                H[1:1 + data.size, -1] = data
            elif p == 5:
                H[0, 0] = data[0]
            elif p == 6:
                H[0, -1] = data[0]
            elif p == 7:
                H[-1, 0] = data[0]
            elif p == 8:
                H[-1, -1] = data[0]
        arr = H[1:-1, 1:-1]
        g0r, g0c = tr * bs, tc * bs

        roots, runs, run_of_px = _label_tile_runs(arr, nullval)
        frames = []
        cols = ["kind", "seg_key", "succ_key", "gid", "value",
                "fr", "fc", "tr", "tc", "n_edges"]
        if roots.size == 0:
            return pd.DataFrame(columns=cols)

        gid_of_root = np.zeros(roots.size, dtype=np.int64)
        for root in np.unique(roots):
            m = roots == root
            rr, rc0 = runs[m, 0], runs[m, 1]
            gid_of_root[int(root)] = int(((g0r + rr) * W + g0c + rc0).min())

        # border-pixel rows for the cross-tile gid merge (same shape
        # as the label_regions border machinery)
        bflat = np.unique(np.concatenate([
            np.arange(xs, dtype=np.int64),
            (ys - 1) * xs + np.arange(xs, dtype=np.int64),
            np.arange(ys, dtype=np.int64) * xs,
            np.arange(ys, dtype=np.int64) * xs + xs - 1,
        ]))
        bval = arr.ravel()[bflat]
        keep = bval != nullval
        bflat, bval = bflat[keep], bval[keep]
        if bflat.size:
            z = np.zeros(bflat.size, dtype=np.int64)
            frames.append(pd.DataFrame({
                "kind": np.ones(bflat.size, np.int64),
                "seg_key": z, "succ_key": z,
                "gid": gid_of_root[roots[run_of_px[bflat]]],
                "value": bval.astype(np.int64),
                "fr": g0r + bflat // xs, "fc": g0c + bflat % xs,
                "tr": z, "tc": z, "n_edges": z,
            }))

        a, b, d, val, int_flat = _tile_edges(H, nullval)
        if a.size:
            gid = gid_of_root[roots[run_of_px[int_flat]]]
            ga, gb = g0r + a, g0c + b
            key_arr = encode(ga, gb, d)
            # successor: end vertex + [right, straight, left] preference
            er, ec = a + np.take(_DR, d), b + np.take(_DC, d)
            succ_dir = np.full(a.size, -1, np.int64)
            chosen = np.zeros(a.size, bool)
            for k in (1, 0, 3):
                pd_ = (d + k) % 4
                ir = er + np.take(_INT_R, pd_) + 1
                ic = ec + np.take(_INT_C, pd_) + 1
                xr = er + np.take(_EXT_R, pd_) + 1
                xc = ec + np.take(_EXT_C, pd_) + 1
                ok = (~chosen) & (H[ir, ic] == val) & (H[xr, xc] != val)
                succ_dir = np.where(ok, pd_, succ_dir)
                chosen |= ok
            if not chosen.all():
                raise AssertionError(
                    f"tile ({tr},{tc}): {int((~chosen).sum())} boundary "
                    f"edges have no successor — corrupt input raster")
            succ_key = encode(g0r + er, g0c + ec, succ_dir)

            # collapse maximal collinear runs: sort so collinear
            # successors are adjacent, then cut where the previous
            # edge's successor is not this edge
            off = np.where(d == 0, b, np.where(d == 1, a,
                           np.where(d == 2, -b, -a)))
            line = np.where((d % 2) == 0, a, b)
            order = np.lexsort((off, line, d))
            key_s, succ_s, d_s = key_arr[order], succ_key[order], d[order]
            ga_s, gb_s = ga[order], gb[order]
            gid_s, val_s = gid[order], val[order]
            start = np.ones(a.size, bool)
            start[1:] = ~((d_s[1:] == d_s[:-1])
                          & (succ_s[:-1] == key_s[1:]))
            first = np.flatnonzero(start)
            last = np.r_[first[1:], a.size] - 1
            er_s = ga_s[last] + np.take(_DR, d_s[last])
            ec_s = gb_s[last] + np.take(_DC, d_s[last])
            frames.append(pd.DataFrame({
                "kind": np.zeros(first.size, np.int64),
                "seg_key": key_s[first], "succ_key": succ_s[last],
                "gid": gid_s[first], "value": val_s[first],
                "fr": ga_s[first], "fc": gb_s[first],
                "tr": er_s, "tc": ec_s,
                "n_edges": (last - first + 1),
            }))
        if not frames:
            return pd.DataFrame(columns=cols)
        return pd.concat(frames, ignore_index=True)[cols]

    return work


def _assemble_rings(pdf: pd.DataFrame) -> pd.DataFrame:
    """One ring's collapsed segments -> one canonical ring row. Walks
    the successor permutation (O(#turns)), merges collinear joints at
    tile seams, rotates to the lexicographically smallest vertex, and
    signs outer-vs-hole by the shoelace area (interior-on-right =>
    outer rings positive in (x=col, y=row))."""
    by_key = {int(r.seg_key): r for r in pdf.itertuples(index=False)}
    start_key = min(by_key)
    verts = []
    cur = start_key
    perim = 0
    for _ in range(len(by_key)):
        seg = by_key[cur]
        verts.append((int(seg.fr), int(seg.fc)))
        perim += int(seg.n_edges)
        cur = int(seg.succ_key)
        if cur == start_key:
            break
    else:
        raise AssertionError(
            f"ring walk did not close: start={start_key}, "
            f"{len(by_key)} segments")
    if len(verts) != len(by_key):
        raise AssertionError(
            f"ring walk visited {len(verts)} of {len(by_key)} segments")
    # merge collinear joints (straight walls split at tile seams)
    n = len(verts)
    keep = []
    for i in range(n):
        p, v, nx = verts[i - 1], verts[i], verts[(i + 1) % n]
        if (v[0] - p[0]) * (nx[1] - v[1]) != (v[1] - p[1]) * (nx[0] - v[0]):
            keep.append(v)
    # rotate to canonical start
    k = keep.index(min(keep))
    keep = keep[k:] + keep[:k]
    area2 = 0
    for i in range(len(keep)):
        (r0, c0), (r1, c1) = keep[i], keep[(i + 1) % len(keep)]
        area2 += c0 * r1 - c1 * r0
    ring_hash = hashlib.md5(
        ";".join(f"{r},{c}" for r, c in keep).encode()).hexdigest()[:16]
    return pd.DataFrame([{
        "region_id": int(pdf["region_id"].iloc[0]),
        "start_r": keep[0][0], "start_c": keep[0][1],
        "n_vertices": len(keep),
        "is_hole": int(area2 < 0),
        "perim": perim,
        "ring_hash": ring_hash,
    }])


def region_outlines(
    tiles: DataFrame,
    grid,
    blocksize: int,
    nullval: int = 0,
) -> DataFrame:
    """Distributed boundary-ring extraction for 4-connected
    equal-value regions (see module docstring for the plan shape).

    Returns (region_id, ring_idx, is_hole, n_vertices, perim,
    start_r, start_c, ring_hash): ``region_id`` matches
    ``label_regions`` (min global pixel index); ``ring_idx`` 0 is the
    outer ring, holes follow ordered by canonical start vertex;
    ``ring_hash`` is the md5 of the canonical vertex sequence."""
    from .dedup import connected_components
    from .geometry import _merge_border_gids

    W = int(grid.ncols)
    halo = tiles.select(
        "tile_row", "tile_col", "ysize", "xsize", "pixels"
    ).mapInPandas(make_halo_emit_fn(), HALO_SCHEMA)
    work = make_outline_work_fn(W, int(grid.nrows), int(blocksize), nullval)
    w = halo.groupBy("tile_row", "tile_col").applyInPandas(
        work, OUTLINE_WORK_SCHEMA
    ).localCheckpoint(eager=True)

    borders = w.where(F.col("kind") == 1).select(
        "gid", "value", F.col("fr").alias("grow"), F.col("fc").alias("gcol"))
    gid_cc = _merge_border_gids(borders)
    segs = w.where(F.col("kind") == 0).join(
        gid_cc.withColumnRenamed("doc_id", "gid"), on="gid", how="left"
    ).withColumn("region_id", F.coalesce(F.col("cluster_id"), F.col("gid")))

    ring_cc = connected_components(
        segs.select("seg_key", F.col("succ_key").alias("succ")),
        "seg_key", "succ",
    ).withColumnRenamed("doc_id", "seg_key") \
     .withColumnRenamed("cluster_id", "ring_id")
    ringed = segs.join(ring_cc, on="seg_key", how="left").withColumn(
        "ring_id", F.coalesce(F.col("ring_id"), F.col("seg_key")))

    rings = ringed.select(
        "ring_id", "region_id", "seg_key", "succ_key",
        "fr", "fc", "n_edges",
    ).groupBy("ring_id").applyInPandas(_assemble_rings, RING_SCHEMA)

    win = Window.partitionBy("region_id").orderBy(
        "is_hole", "start_r", "start_c")
    return rings.withColumn(
        "ring_idx", (F.row_number().over(win) - 1).cast("int")
    ).select(
        "region_id", "ring_idx", "is_hole", "n_vertices", "perim",
        "start_r", "start_c", "ring_hash",
    )
