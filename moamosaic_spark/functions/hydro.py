"""Drainage-basin labeling (watershed segmentation) over a D8 flow
raster — the hydrology product downstream of ``functions/focal.terrain``.

Reference-side scope: the reference computes whole-image aggregates
only (mosaic.py:746-794); flow routing is part of the raster-analysis
family this engine adds on top (gdaldem / r.watershed analog).

Every defined cell carries one out-edge (its D8 steepest-descent
neighbor), so the flow graph is a functional forest: pits/flats are
roots, and a cell's BASIN is the root its water reaches. The
distributed algorithm is pointer doubling: state (gid, ptr, dist)
where ptr starts as the immediate downstream cell; each round joins
the state to itself so ptr jumps 2^k hops; sinks are absorbing
self-loops. Rounds = ceil(log2(max path length)) — a 10^5-px river
resolves in 17 shuffle rounds regardless of raster size, the same
O(log)-round shape as the dedup connected-components. One driver job
per round decides convergence.

Semantics at the defined-region boundary: a cell whose downstream
neighbor has no defined D8 value (raster border / null-adjacent)
terminates there — the undefined cell becomes a "virtual outlet" and
labels that basin. This keeps the relation closed without consulting
pixels the terrain operator refused to define.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..monitoring import named_action
from ..plans.grid import advisory_bytes
from .focal import D8_DIRS, D8_FLAT  # noqa: F401 (D8_FLAT re-exported for callers)


def d8_edges(terrain_tiles: DataFrame, g_ncols: int, blocksize: int) -> DataFrame:
    """(gid, dst) for every defined cell of a ``terrain()`` result:
    dst = the D8 neighbor's global pixel index, or gid itself for
    pits/flats (D8_FLAT). Pure JVM: posexplode + array-literal offset
    lookup, no Python per pixel. gid comes from the single
    tiling-contract expression (plans/grid.global_pixel_index); a D8
    neighbor is always in-raster (border cells are undefined), so
    dst = gid + the flattened offset."""
    from ..plans.grid import global_pixel_index

    # flattened row-major offset per D8 code; pits/flats offset 0
    off = F.array(*[F.lit(dy * g_ncols + dx) for dy, dx in D8_DIRS], F.lit(0))
    e = terrain_tiles.select(
        "band", "tile_row", "tile_col", "ysize", "xsize",
        F.posexplode("d8").alias("pos", "code"),
    ).where(F.col("code") != -1)
    gid = global_pixel_index(F.col("pos"), blocksize, g_ncols)
    dst = gid + F.element_at(off, F.col("code").cast("int") + 1)
    return e.select("band", gid.alias("gid"), dst.alias("dst"))


def flow_basins(
    edges: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """Resolve every cell to its terminal sink by pointer doubling.

    Input: (band, gid, dst) — one row per defined cell. Output:
    (band, gid, basin, dist, is_cell) where basin is the absorbing
    cell's gid (a pit/flat, or a virtual outlet just outside the
    defined region) and dist the hop count to it; is_cell = False on
    the synthetic absorbing rows (virtual outlets are not raster
    cells and are excluded from rollups).

    Each round: TWO chained active ⋈ full-state hops on (band,
    ptr == gid) — two shuffles — then ONE checkpoint and ONE emptiness
    probe decide convergence. Fusing two hops per checkpoint (the same
    trick as connected_components' fused star alternations,
    dedup.py) halves the checkpoint + probe count: per-round driver
    latency dominates when the graph is small relative to the cluster,
    and a second hop through the SAME state is always valid (a hop
    from an absorbed target is the identity), so overshooting costs
    nothing. Rows whose ptr has reached a sink RETIRE out of the loop
    (their mapping never changes again), so only the shrinking active
    set is re-joined and re-checkpointed each round; retired parts are
    checkpointed once."""
    from functools import reduce

    # nodes that appear as dst but have no own edge (virtual outlets
    # just outside the defined region) are absorbing: give them
    # explicit self-loops so the doubling join never drops rows
    nodes = edges.select("band", F.col("dst").alias("n")).distinct()
    absorbing = nodes.join(
        edges.select("band", F.col("gid").alias("n")), ["band", "n"], "left_anti"
    ).select(
        "band", F.col("n").alias("gid"), F.col("n").alias("ptr"),
        F.lit(0).cast("long").alias("dist"), F.lit(True).alias("done"),
        F.lit(False).alias("is_cell"),
    )
    state = edges.select(
        "band", "gid",
        F.col("dst").alias("ptr"),
        F.when(F.col("dst") == F.col("gid"), F.lit(0).cast("long"))
        .otherwise(F.lit(1).cast("long")).alias("dist"),
        (F.col("dst") == F.col("gid")).alias("done"),
        F.lit(True).alias("is_cell"),
    ).union(absorbing).localCheckpoint(eager=True)
    settled = [state.where(F.col("done"))]
    active = state.where(~F.col("done"))

    for _ in range((max_rounds + 1) // 2):
        if active.isEmpty():
            break
        lookup = reduce(lambda a, b: a.union(b), settled + [active]).select(
            "band",
            F.col("gid").alias("ptr"),
            F.col("ptr").alias("ptr2"),
            F.col("dist").alias("dist2"),
            F.col("done").alias("done2"),
        ).hint("shuffle_hash")
        # shuffled-hash, not sort-merge (guide §3.1): the hop joins
        # dominate the loop and their output feeds a checkpoint, so the
        # sort order SMJ pays for (both sides, every hop) buys nothing.
        # The build side is the fixed-width state at N/partitions rows
        # per task — bounded by the shuffle-partition config that also
        # bounds every other per-task buffer in the loop. Measured on
        # the 8.1M-arc ranking: 60-86 s -> 45-49 s interleaved A/B.

        def hop(st):
            # one doubling hop: jump to the CURRENT pointer of the
            # target. Hopping a row whose target is absorbed is the
            # identity (dist2 = 0, ptr2 = self), so two hops through
            # one lookup never overshoot past the sink.
            return st.join(lookup, ["band", "ptr"]).select(
                "band", "gid",
                F.col("ptr2").alias("ptr"),
                (F.col("dist") + F.col("dist2")).alias("dist"),
                F.col("done2").alias("done"),
                "is_cell",
            )

        nxt = hop(hop(active)).localCheckpoint(eager=True)
        settled.append(nxt.where(F.col("done")))
        active = nxt.where(~F.col("done"))
    else:
        if not active.isEmpty():
            raise RuntimeError(
                f"flow_basins did not converge in {max_rounds} doubling rounds"
            )
    return reduce(lambda a, b: a.union(b), settled).select(
        "band", "gid", F.col("ptr").alias("basin"), "dist", "is_cell"
    )


def basin_summary(basins: DataFrame) -> DataFrame:
    """Per-basin rollup over REAL cells (virtual-outlet rows carry
    the labels but are not themselves cells): cell count, farthest
    cell (hydraulic length in hops), and a position-weighted checksum
    of membership."""
    return basins.where(F.col("is_cell")).groupBy("band", "basin").agg(
        F.count("*").alias("n_cells"),
        F.max("dist").alias("max_dist"),
        F.sum("dist").alias("sum_dist"),
        F.sum(F.col("gid") % F.lit(1_000_003)).alias("wsum_gid"),
    )


def flow_accumulation(edges: DataFrame, max_rounds: int = 48) -> DataFrame:
    """Upstream cell count (including self) per cell — the
    ``r.watershed``/``gdaldem`` flow-accumulation product.

    Size-adaptive two-path plan (same results either way), routed by
    bytes:

    * **In-memory trees (the common case).** One pointer-doubling pass
      labels every cell with its basin (tree id); cells then group by
      basin and a per-tree Arrow kernel runs the reverse-topological
      accumulation over numpy arrays. A tree takes this path when its
      kernel-input rows (cells × the fixed row width, 36 B for band,
      basin, gid, dst, dist) fit the session's byte budget,
      ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
      (plans.grid.advisory_bytes): ~1.86 M cells at the default 64 MiB.
      Real drainage basins are bounded by geography, so one O(|E|)
      join + one grouped shuffle replaces the O(log tour) distributed
      ranking rounds. Measured at the 4.19M-cell bench shape (132k
      trees, largest 13.6k cells): every tree takes this path and the
      leg drops ~2x.
    * **Oversized trees (rows over the budget).** Continental-
      river-scale trees that must not land in one task keep the
      previous fully distributed form: a EULER TOUR of the tree (two
      arcs per edge, first-child / next-sibling successors) LIST-RANKED
      by flow_basins' doubling machinery; rank(enter_u) - rank(leave_u)
      = 2*size(u) - 1. O(log tour) shuffle rounds, no task ever holds
      a tree.

    Input: (band, gid, dst) as produced by d8_edges. Output: (band,
    gid, acc, is_cell) with acc = number of cells whose water passes
    through gid (self included); virtual outlets carry is_cell=False
    (their acc is the outlet's total throughput)."""
    basins = flow_basins(edges, max_rounds=max_rounds)
    cell_basins = basins.where(F.col("is_cell")).select(
        "band", "gid", "basin", "dist"
    )
    labeled = edges.join(cell_basins, ["band", "gid"]).select(
        "band", "basin", "gid", "dst", "dist"
    )
    sizes = cell_basins.groupBy("band", "basin").agg(F.count("*").alias("_n"))
    spark = edges.sparkSession
    max_cells = advisory_bytes(spark) // labeled._jdf.schema().defaultSize()
    # one tiny driver probe decides routing; with no oversized tree the
    # plan is purely group-and-accumulate
    with named_action(spark, "moamosaic: tree-size probe"):
        biggest = sizes.agg(F.max("_n")).collect()[0][0] or 0
    if biggest <= max_cells:
        return _accumulate_inmem_trees(labeled)
    big_ids = sizes.where(F.col("_n") > max_cells).select("band", "basin")
    small = labeled.join(big_ids, ["band", "basin"], "left_anti")
    big_edges = (
        labeled.join(big_ids, ["band", "basin"])
        .select("band", "gid", "dst")
    )
    return _accumulate_inmem_trees(small).unionByName(
        _flow_accumulation_euler(big_edges, max_rounds=max_rounds)
    )


def _accumulate_inmem_trees(labeled: DataFrame) -> DataFrame:
    """Per-tree reverse-topological accumulation: group all (gid, dst,
    dist) rows of one basin, sort them by dist once, and sweep the
    levels high-to-low as contiguous slices with vectorized
    scatter-adds. dist (hops to the absorbing root, from
    flow_basins) makes parent_dist = dist - 1 exact, so the level sweep
    is a valid topological order. Emits every cell's acc plus one
    is_cell=False row for a virtual-outlet root (a sink root is itself
    a cell and accumulates in-array)."""

    def acc_tree(key, tbl):
        import numpy as np
        import pyarrow as pa

        k0, k1 = key
        band = k0.as_py() if hasattr(k0, "as_py") else int(k0)
        basin = k1.as_py() if hasattr(k1, "as_py") else int(k1)
        gid = tbl.column("gid").to_numpy()
        dst = tbl.column("dst").to_numpy()
        dist = tbl.column("dist").to_numpy()
        n = len(gid)
        order = np.argsort(gid, kind="stable")
        gid, dst, dist = gid[order], dst[order], dist[order]
        acc = np.ones(n, dtype=np.int64)
        root_extra = 0  # inflow into a root that is not a cell (outlet)
        # every row's parent index, resolved once; a parent with no row
        # here is the virtual-outlet root
        pidx = np.minimum(np.searchsorted(gid, dst), n - 1)
        found = gid[pidx] == dst
        # ONE sort by dist, then each level is a contiguous slice,
        # deepest first: O(n log n) for any tree shape (a full-array
        # ``dist == d`` mask per level is O(n * depth) — quadratic on a
        # chain-shaped tree)
        by_level = np.argsort(-dist, kind="stable")
        lv = dist[by_level]
        cuts = np.flatnonzero(np.diff(lv)) + 1
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, n]):
            if lv[lo] <= 0:
                break
            sel = by_level[lo:hi]
            up, out = sel[found[sel]], sel[~found[sel]]
            np.add.at(acc, pidx[up], acc[up])
            root_extra += int(acc[out].sum())
        out_gid, out_acc, out_cell = [gid], [acc], [np.ones(n, dtype=bool)]
        root_is_cell = bool(
            n and gid[np.minimum(np.searchsorted(gid, basin), n - 1)] == basin
        )
        if not root_is_cell:
            out_gid.append(np.array([basin], np.int64))
            out_acc.append(np.array([root_extra], np.int64))
            out_cell.append(np.array([False]))
        return pa.table({
            "band": pa.array(np.full(len(np.concatenate(out_gid)), band, np.int32)),
            "gid": pa.array(np.concatenate(out_gid), pa.int64()),
            "acc": pa.array(np.concatenate(out_acc), pa.int64()),
            "is_cell": pa.array(np.concatenate(out_cell), pa.bool_()),
        })

    return labeled.groupBy("band", "basin").applyInArrow(
        acc_tree, "band int, gid long, acc long, is_cell boolean"
    )


def _flow_accumulation_euler(edges: DataFrame, max_rounds: int = 48) -> DataFrame:
    """The fully distributed path: Euler tour + list ranking (see
    flow_accumulation). Kept verbatim for trees too large to hold in
    one task."""
    from pyspark.sql import Window

    # tree edges child -> parent (sink self-loops are roots, not edges)
    te = edges.where(F.col("dst") != F.col("gid")).select(
        "band", "gid", F.col("dst").alias("parent")
    )
    cells = edges.select("band", "gid")
    # roots: sinks (self-loop cells) + virtual outlets (a dst with no
    # own edge row)
    sinks = edges.where(F.col("dst") == F.col("gid")).select("band", "gid")
    outlets = (
        edges.select("band", F.col("dst").alias("gid")).distinct()
        .join(cells, ["band", "gid"], "left_anti")
    )
    roots = sinks.unionByName(outlets)

    w = Window.partitionBy("band", "parent").orderBy("gid")
    sib = te.select(
        "band", "gid", "parent",
        F.row_number().over(w).alias("ord"),
        F.lead("gid").over(w).alias("next_sib"),
    )
    first_child = sib.where(F.col("ord") == 1).select(
        "band", F.col("parent").alias("gid"), F.col("gid").alias("fc")
    )
    node = (
        sib.join(first_child, ["band", "gid"], "left")
        .join(roots.withColumn("parent_is_root", F.lit(True))
              .select("band", F.col("gid").alias("parent"), "parent_is_root"),
              ["band", "parent"], "left")
    )
    two = F.lit(2).cast("long")
    enter = node.select(
        "band",
        (two * F.col("gid")).alias("gid"),
        F.when(F.col("fc").isNotNull(), two * F.col("fc"))
        .otherwise(two * F.col("gid") + 1).alias("dst"),
    )
    leave = node.select(
        "band",
        (two * F.col("gid") + 1).alias("gid"),
        F.when(F.col("next_sib").isNotNull(), two * F.col("next_sib"))
        .otherwise(
            F.when(F.col("parent_is_root").isNotNull(),
                   two * F.col("gid") + 1)          # terminal: absorbing
            .otherwise(two * F.col("parent") + 1)
        ).alias("dst"),
    )
    arcs = enter.unionByName(leave)
    rank = flow_basins(arcs, max_rounds=max_rounds)

    u_of = (F.col("gid") / 2).cast("long")
    d_e = rank.where(F.col("gid") % 2 == 0).select(
        "band", u_of.alias("gid"), F.col("dist").alias("d_enter"))
    d_l = rank.where(F.col("gid") % 2 == 1).select(
        "band", u_of.alias("gid"), F.col("dist").alias("d_leave"),
        F.col("basin").alias("tour"))
    acc_nonroot = d_e.join(d_l, ["band", "gid"]).select(
        "band", "gid",
        ((F.col("d_enter") - F.col("d_leave") + 1) / 2)
        .cast("long").alias("acc"),
    )

    # roots: total arcs of the tree ending at each terminal arc; the
    # terminal is leave(w) for a last child w whose parent is the root
    tree_arcs = rank.groupBy("band", "basin").agg(F.count("*").alias("n_arcs"))
    term_root = (
        te.select("band", (two * F.col("gid") + 1).alias("basin"),
                  F.col("parent").alias("root"))
    )
    acc_root_sized = tree_arcs.join(term_root, ["band", "basin"]).select(
        "band", F.col("root").alias("gid"),
        (F.col("n_arcs") / 2).cast("long").alias("thru"),
    )
    # a sink CELL counts itself (+1); a virtual outlet is pure
    # throughput (it is not a cell)
    acc_root = (
        roots.join(acc_root_sized, ["band", "gid"], "left")
        .join(cells.withColumn("c", F.lit(True)), ["band", "gid"], "left")
        .select(
            "band", "gid",
            (F.coalesce(F.col("thru"), F.lit(0))
             + F.when(F.col("c").isNotNull(), 1).otherwise(0))
            .cast("long").alias("acc"),
        )
    )
    out = acc_nonroot.unionByName(acc_root)
    return out.join(
        cells.withColumn("is_cell", F.lit(True)), ["band", "gid"], "left"
    ).select("band", "gid", "acc", F.coalesce("is_cell", F.lit(False)).alias("is_cell"))
