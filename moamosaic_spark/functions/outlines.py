"""Region boundary-ring tracing (the second half of the
``gdal_polygonize`` analog; reference-side consumer of polygon
footprints: reproj.py:221-234).

``label_regions`` (geometry.py) discovers 4-connected equal-value
regions; this module emits each region's boundary RINGS — one outer
ring plus any holes — as canonical vertex sequences, fully
distributed:

1. **Halo exchange** — focal's, reused as is (``focal._emit_fragments``
   with radius 1; one shuffle, O(perimeter) strip rows): every tile
   sends its 4 border lines + 4 corner pixels to its neighbors as
   JVM-side slices of its packed payload, keyed by band, so each tile
   can evaluate boundary cracks and turn decisions on its seams
   without seeing neighbor tiles' pixel payloads. One
   ``applyInArrow`` group per (band, tile) gets its nullval-padded
   array from ``focal._assemble_arrow``.
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
   pairs, O(|segments|) rows per round. Both id spaces are keyed by
   (band, id), so bands never merge.
4. **Per-ring assembly** (the module's only pandas group — per ring,
   after the halo exchange has done its work): one ``applyInPandas``
   group per ring walks
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

OUTLINE_WORK_SCHEMA = (
    "band int, kind int, seg_key long, succ_key long, gid long, value int, "
    "fr long, fc long, n_edges int"
)

RING_SCHEMA = (
    "band int, region_id long, start_r long, start_c long, n_vertices int, "
    "is_hole int, perim long, ring_hash string"
)


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


def make_outline_work_fn(W: int, bs: int, nullval: int):
    """The per-tile tracing kernel, grouped by (band, tile) over focal's
    halo fragments: assemble the padded tile (``_assemble_arrow``),
    enumerate boundary edges, resolve every edge's successor from the
    2x2 block at its end vertex (right-turn preference), collapse
    collinear runs to segments, and emit segment rows (kind 0) plus
    border-pixel rows (kind 1, for the cross-tile gid merge) as one
    Arrow table. Pure array ops — no loop over pixels or edges."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from .focal import _assemble_arrow
    from .geometry import _tile_gids

    schema = to_arrow_schema(_parse_datatype_string(OUTLINE_WORK_SCHEMA))
    vstride = W + 2  # vertex grid is (nrows+1) x (ncols+1)

    def encode(gr, gc, d):
        return (gr * vstride + gc) * 4 + d

    def work(key, tbl):
        got = _assemble_arrow(tbl, nullval)
        if got is None:  # off-grid fragments: no center tile
            return schema.empty_table()
        band, tr, tc = (int(k.as_py() if hasattr(k, "as_py") else k) for k in key)
        _, _, H = got
        g0r, g0c = tr * bs, tc * bs
        _, run_gid, run_of_px, (bgid, bval, grow, gcol) = _tile_gids(
            H[1:-1, 1:-1], nullval, g0r, g0c, W)
        z = np.zeros(bgid.size, np.int64)
        parts = [{
            "kind": z + 1, "seg_key": z, "succ_key": z, "gid": bgid,
            "value": bval, "fr": grow, "fc": gcol, "n_edges": z,
        }]

        a, b, d, val, int_flat = _tile_edges(H, nullval)
        if a.size:
            gid = run_gid[run_of_px[int_flat]]
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
            parts.append({
                "kind": np.zeros(first.size, np.int64),
                "seg_key": key_s[first], "succ_key": succ_s[last],
                "gid": gid_s[first], "value": val_s[first],
                "fr": ga_s[first], "fc": gb_s[first],
                "n_edges": (last - first + 1),
            })
        cols = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
        n = cols["kind"].size
        return pa.Table.from_pydict(
            {"band": np.full(n, band, np.int32), **cols}, schema=schema)

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
        "band": int(pdf["band"].iloc[0]),
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
    Each band is traced on its own (band = 1 when the column is
    absent); ``array<int>`` tiles are packed on entry (pixels.ingest,
    inside focal's fragment emitter).

    Returns (band, region_id, ring_idx, is_hole, n_vertices, perim,
    start_r, start_c, ring_hash): ``region_id`` matches
    ``label_regions`` (min global pixel index); ``ring_idx`` 0 is the
    outer ring, holes follow ordered by canonical start vertex;
    ``ring_hash`` is the md5 of the canonical vertex sequence."""
    from .dedup import connected_components
    from .focal import _emit_fragments
    from .geometry import _with_region_ids

    work = make_outline_work_fn(int(grid.ncols), int(blocksize), nullval)
    w = _emit_fragments(tiles).groupBy("band", "tile_row", "tile_col").applyInArrow(
        work, OUTLINE_WORK_SCHEMA
    ).localCheckpoint(eager=True)

    borders = w.where(F.col("kind") == 1).select(
        "band", "gid", "value", F.col("fr").alias("grow"), F.col("fc").alias("gcol"))
    segs = _with_region_ids(w.where(F.col("kind") == 0), borders)

    # rings are the cycles of the segment -> successor permutation;
    # (band, seg_key) node ids keep bands apart, and a ring's key is
    # its min seg_key
    ring_cc = connected_components(
        segs.select(F.struct("band", "seg_key").alias("u"),
                    F.struct("band", F.col("succ_key").alias("seg_key")).alias("v")),
        "u", "v",
    ).select(F.col("doc_id.band").alias("band"), F.col("doc_id.seg_key").alias("seg_key"),
             F.col("cluster_id.seg_key").alias("ring_key"))
    ringed = segs.join(ring_cc, on=["band", "seg_key"], how="left").withColumn(
        "ring_key", F.coalesce(F.col("ring_key"), F.col("seg_key")))

    rings = ringed.select(
        "band", "ring_key", "region_id", "seg_key", "succ_key", "fr", "fc", "n_edges",
    ).groupBy("band", "ring_key").applyInPandas(_assemble_rings, RING_SCHEMA)

    win = Window.partitionBy("band", "region_id").orderBy(
        "is_hole", "start_r", "start_c")
    return rings.withColumn(
        "ring_idx", (F.row_number().over(win) - 1).cast("int")
    ).select(
        "band", "region_id", "ring_idx", "is_hole", "n_vertices", "perim",
        "start_r", "start_c", "ring_hash",
    )
