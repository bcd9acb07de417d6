"""Property-based tests (hypothesis) for the pure planning/merge math —
the one-line-trap zones of SURVEY.md §7.5."""

import numpy as np
from hypothesis import given, settings, strategies as st

from moamosaic_spark.operators.stitch import _apply_window, _nearest_state, _policy_state
from moamosaic_spark.plans.grid import block_edges, n_blocks, overview_shape
from moamosaic_spark.sources.synth import _tiling_loop


@given(n=st.integers(1, 200_000), bs=st.sampled_from([16, 64, 100, 256, 333, 1024, 4096]))
@settings(max_examples=300, deadline=None)
def test_tiling_closed_form_equals_loop(n, bs):
    assert block_edges(n, bs) == _tiling_loop(n, bs)
    edges = block_edges(n, bs)
    # tiles cover [0, n) exactly, no overlap, sizes within [1, bs + bs//4)
    assert edges[0][0] == 0
    assert sum(sz for _, sz in edges) == n
    for i in range(1, len(edges)):
        assert edges[i][0] == edges[i - 1][0] + edges[i - 1][1]
    for _, sz in edges[:-1]:
        assert sz == bs
    assert 1 <= edges[-1][1] < bs + max(bs // 4, 1)
    assert len(edges) == n_blocks(n, bs)


@given(nr=st.integers(1, 5000), nc=st.integers(1, 5000), p=st.integers(2, 8))
@settings(max_examples=200, deadline=None)
def test_overview_shape_equals_stride(nr, nc, p):
    lvl = 2**p
    o = lvl // 2
    arr = np.empty((nr, nc), dtype=np.uint8)
    assert overview_shape(nr, nc, lvl) == arr[o::lvl, o::lvl].shape


@given(
    seed=st.integers(0, 2**32 - 1),
    n_contrib=st.integers(1, 6),
    size=st.integers(4, 24),
)
@settings(max_examples=150, deadline=None)
def test_last_policy_fold_equals_sequential_paste(seed, n_contrib, size):
    """The re-based fold (null canvas + a non-null pixel wins at a
    priority >= the plane's), run in a SHUFFLED order, equals the
    reference fold (start from inputs[0], overwrite later non-null in
    priority order) — the equivalence the stitch kernel relies on
    (operators/stitch.py docstring)."""
    rng = np.random.default_rng(seed)
    nullval = 0
    wins = [
        rng.integers(0, 4, size=(size, size)).astype(np.int32) * rng.integers(1, 100)
        for _ in range(n_contrib)
    ]
    # engine fold: window i has priority i, folded in arrival order
    canvas = np.full((size, size), nullval, dtype=np.int32)
    plane = _policy_state("last", size, size, 0)
    for i in rng.permutation(n_contrib):
        _apply_window(canvas, wins[i], nullval, "last", plane, 0, 0, size, size, int(i))
    # reference fold (mosaic.py:683-689 verbatim semantics)
    ref = wins[0].copy()
    for w in wins[1:]:
        nn = w != nullval
        ref[nn] = w[nn]
    np.testing.assert_array_equal(canvas, ref)


@given(seed=st.integers(0, 2**32 - 1), size=st.integers(4, 16))
@settings(max_examples=100, deadline=None)
def test_nearest_policy_is_order_insensitive_without_ties(seed, size):
    """With distinct source-center distances, the nearest fold gives the
    same result in any contributor order — the property that makes the
    policy safe under salted/partial merges."""
    rng = np.random.default_rng(seed)
    nullval = 0
    contribs = []
    for i in range(3):
        win = rng.integers(1, 100, size=(size, size)).astype(np.int32)
        # distinct centers -> distinct distance fields a.s.
        contribs.append((win, -(i * 3 + 1), -(i * 2 + 2)))
    out = []
    for order in ([0, 1, 2], [2, 0, 1], [1, 2, 0]):
        canvas = np.full((size, size), nullval, dtype=np.int32)
        best = _nearest_state(size, size)
        for idx in order:
            win, it, il = contribs[idx]
            _apply_window(canvas, win, nullval, "nearest", best, it, il, size, size, idx)
        out.append(canvas)
    dists = []
    for win, it, il in contribs:
        cy = -it + (size - 1) / 2.0
        cx = -il + (size - 1) / 2.0
        rr = np.arange(size)[:, None] - cy
        cc = np.arange(size)[None, :] - cx
        dists.append(rr * rr + cc * cc)
    stack = np.stack(dists)
    ties = (np.sort(stack, axis=0)[0] == np.sort(stack, axis=0)[1]).any()
    if not ties:
        np.testing.assert_array_equal(out[0], out[1])
        np.testing.assert_array_equal(out[0], out[2])


@given(
    seed=st.integers(0, 2**32 - 1),
    n_contrib=st.integers(1, 5),
    policy=st.sampled_from(["last", "nearest", "blend"]),
)
@settings(max_examples=120, deadline=None)
def test_stitch_fold_is_free_of_row_order_batching_and_duplicates(seed, n_contrib, policy):
    """The stitch kernel folds a group's rows in any order, cut into
    Arrow batches anywhere, with some chunks delivered twice (a replayed
    append), to the same output as the priority-sorted group in one
    batch — for every merge policy. Contributors overlap the tile at
    random offsets, with sparse priorities and null runs; their
    geometry is equal, so nearest-distance ties occur."""
    import pyarrow as pa

    from moamosaic_spark.operators.stitch import make_stitch_kernel
    from moamosaic_spark.plans.grid import OutputGrid

    rng = np.random.default_rng(seed)
    size, cb = 24, 10  # tile px, source chunk px
    grid = OutputGrid(x_min=0.0, y_max=0.0, x_res=1.0, y_res=1.0, ncols=size,
                      nrows=size, n_bands=1, nullval=0, dtype="uint16", projection="p")
    rows = []
    for prio in rng.choice(1000, size=n_contrib, replace=False):
        nr, nc = (int(v) for v in rng.integers(size // 2, 2 * size, size=2))
        in_top, in_left = (int(v) for v in rng.integers(-size // 2, size, size=2))
        src = rng.integers(1, 500, size=(nr, nc)).astype("<u2")
        src[rng.random((nr, nc)) < 0.3] = 0
        for bt in range(0, nr, cb):
            for bl in range(0, nc, cb):
                chunk = src[bt: bt + cb, bl: bl + cb]
                rows.append(dict(
                    top=0, left=0, ysize=size, xsize=size, priority=int(prio),
                    in_top=in_top, in_left=in_left, in_ysize=size, in_xsize=size,
                    src_nrows=nr, src_ncols=nc, b_top=bt, b_left=bl,
                    b_ysize=chunk.shape[0], b_xsize=chunk.shape[1], pixels=chunk.tobytes(),
                ))
    placeholder = dict(rows[0], priority=None, pixels=None)

    def batches(rs, cuts):
        tbl = pa.Table.from_pylist(rs)
        edges = [0, *sorted(cuts), len(rs)]
        return [tbl.slice(a, b - a).to_batches()[0] for a, b in zip(edges, edges[1:]) if b > a]

    kernel = make_stitch_kernel(grid, [4], policy, feather=3)
    ordered = sorted(rows, key=lambda r: r["priority"]) + [placeholder]
    want = pa.Table.from_batches(kernel((1, 0, 0), batches(ordered, [])))

    dups = [rows[i] for i in rng.choice(len(rows), size=len(rows) // 3)]
    shuffled = [placeholder, *rows, *dups]
    shuffled = [shuffled[i] for i in rng.permutation(len(shuffled))]
    cuts = rng.choice(len(shuffled), size=min(len(shuffled), 6), replace=False)
    got = pa.Table.from_batches(kernel((1, 0, 0), batches(shuffled, cuts)))
    assert got.equals(want)


# ---------------------------------------------------------------------------
# Round-2 math: TM transforms and the shifted-grid candidate guarantee
# ---------------------------------------------------------------------------

@given(
    lon=st.floats(150.05, 155.95),
    lat=st.floats(-75.0, -0.2),
)
@settings(max_examples=300, deadline=None)
def test_tm_roundtrip_property(lon, lat):
    from moamosaic_spark import crs

    x, y = crs.tm_forward(lon, lat, *crs.utm_params(32756))
    lon2, lat2 = crs.tm_inverse(x, y, *crs.utm_params(32756))
    assert abs(float(lon2) - lon) < 1e-7
    assert abs(float(lat2) - lat) < 1e-7


@given(
    data=st.data(),
    j=st.integers(1, 4),
    d_max=st.floats(0.01, 1.5),
)
@settings(max_examples=300, deadline=None)
def test_shifted_grid_guarantee(data, j, d_max):
    """The neardup candidate scheme's core claim: two points whose
    per-dim distance is <= d_max share a full cell tuple in at least
    one of the 2^j shifted grids (cell width 2*d_max, shifts 0/d_max)."""
    import math

    pa = [data.draw(st.floats(-2.0, 2.0)) for _ in range(j)]
    pb = [
        min(2.0, max(-2.0, pa[d] + data.draw(st.floats(-1.0, 1.0)) * d_max))
        for d in range(j)
    ]
    # padded step, exactly as neardup_pairs computes it: a pair at
    # distance exactly d_max landing exactly on a boundary straddles
    # both shifts of an UNpadded grid (hypothesis found it)
    d_pad = d_max * (1.0 + 1e-9)
    cell_w = 2.0 * d_pad

    def cells(p, g):
        return tuple(
            math.floor((p[d] + d_pad * ((g >> d) & 1)) / cell_w) for d in range(j)
        )

    assert any(cells(pa, g) == cells(pb, g) for g in range(2 ** j)), (
        pa, pb, d_max,
    )
