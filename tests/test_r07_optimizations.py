"""Focused gates for the round-7 optimization internals.

End-to-end equality of the optimized operators is already pinned by the
existing suites (golden-pair mosaics, the driver-contract oracle
battery, neardup-vs-crossjoin); these tests pin the NEW internal
mechanisms directly:

* the row clip in ``mosaic._contributor_chunks`` (every chunk ships
  as one full-width row, row-clipped or passed through — all in ONE
  join subtree);
* the GEMM re-rank's zero-norm / NaN semantics in
  ``similarity.neardup_pairs``;
* the one-file-per-bucket relayout write.
"""

import glob
import os
from contextlib import nullcontext

import numpy as np

from moamosaic_spark.mosaic import MosaicConfig, _contributor_chunks
from moamosaic_spark.plans.grid import make_output_grid, make_tile_relation
from moamosaic_spark.plans.spatial_join import assign_inputs
from moamosaic_spark.functions import similarity as S
from moamosaic_spark.schema import FOOTPRINTS_SCHEMA
from moamosaic_spark.sources import synth
from moamosaic_spark.sources.relayout import _table_location, relayout_to_table
from tests.conftest import advisory, to_blocks, to_footprints


def test_chunk_clip_access_pattern_invariants(spark):
    """src_bs=64 chunks against blocksize=96 tiles: chunks fully inside
    a tile (untouched), chunks straddling a tile's top or bottom edge
    (row-clipped) and chunks straddling a side edge. Every chunk is one
    row at its whole width — the stitch kernel's clamp drops the
    columns outside the tile — and every emitted payload must match its
    advertised geometry exactly: the kernel pastes by (b_top, b_left,
    b_ysize, b_xsize) and trusts the byte count."""
    rasters = synth.grid3x3(150, 150)
    fp = spark.createDataFrame(synth.footprints_pdf(rasters), schema=FOOTPRINTS_SCHEMA)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))

    grid = make_output_grid(fp, None)
    tiles = make_tile_relation(spark, grid, 96)
    assignments = assign_inputs(tiles, fp, grid, strategy="broadcast", blocksize=96)
    work = _contributor_chunks(assignments, blocks, 64)

    rows = work.select(
        "b_top", "b_left", "b_ysize", "b_xsize", "pixels", "in_left", "in_xsize"
    ).collect()
    assert rows, "empty work relation"
    row_clipped = side_straddling = 0
    for r in rows:
        assert len(bytes(r.pixels)) == r.b_ysize * r.b_xsize * 2, (
            f"payload/geometry mismatch at ({r.b_top},{r.b_left}) "
            f"{r.b_ysize}x{r.b_xsize}: {len(bytes(r.pixels))} bytes"
        )
        # one row per chunk, at the chunk's whole width (the last chunk
        # column of a 150-px raster is 22 px wide)
        assert r.b_left % 64 == 0 and r.b_xsize == min(64, 150 - r.b_left), r
        row_clipped += r.b_ysize < min(64, 150 - r.b_top // 64 * 64)
        # the tile's read window, in source columns
        side_straddling += r.b_left < r.in_left or r.b_left + r.b_xsize > r.in_left + r.in_xsize
    assert row_clipped, "no row-clipped chunks (row clip untested)"
    assert side_straddling, "no chunk straddles a tile's side edge (clamp untested)"

    # the clip must stay ONE subtree: the plan has
    # exactly two joins (tiles x broadcast footprints, then the blocks
    # equi-join); a where/union split around the clip would duplicate
    # both of them per action
    plan = work._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    n_joins = plan.count("Join")
    assert n_joins == 2, f"expected 2 joins in the work plan, saw {n_joins}:\n{plan}"


def test_neardup_pairs_zero_norm_vectors(spark):
    """The in-cell GEMM kernel divides by the vector norms; zero-norm
    vectors yield NaN cosine, and NaN >= t must be False (the JVM
    comparison semantics the kernel documents), never a crash or a
    spurious pair."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 8))
    base[5] = 0.0  # zero vector
    base[6] = 0.0  # second zero vector: identical, still no pair
    base[1] = base[0] + 1e-6 * rng.normal(size=8)  # planted near-dup
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(len(base))],
        "vec_id long, embedding array<float>",
    )
    got = {(r.id_a, r.id_b) for r in S.neardup_pairs(emb, threshold=0.9).collect()}
    assert (0, 1) in got
    assert not any(5 in p or 6 in p for p in got), f"zero-norm vector paired: {got}"


def test_connected_components_paths_agree(spark):
    """connected_components routes small edge sets to a driver-side
    union-find; labels must match the distributed star-contraction
    exactly (component-min cluster ids), for long and string ids."""
    from pyspark.sql import functions as F

    from moamosaic_spark.functions.dedup import connected_components

    # chains + a star + an order-scrambled component
    rows = [(i, i + 1) for i in range(0, 29)]          # chain 0..29
    rows += [(100, 100 + i) for i in range(1, 20)]     # star at 100
    rows += [(507, 503), (501, 507), (509, 501)]       # scrambled
    e = spark.createDataFrame(rows, "doc_a long, doc_b long")

    def labels(df):
        return {(r.doc_id, r.cluster_id) for r in df.collect()}

    st_small, st_big = {}, {}
    small = labels(connected_components(e, stats=st_small))
    big = labels(connected_components(e, stats=st_big, small_graph_edges=0))
    assert small == big
    assert st_small["iterations"] == 0 and st_big["iterations"] > 0
    got = dict(small)
    assert all(got[i] == 0 for i in range(30))
    assert all(got[100 + i] == 100 for i in range(20))
    assert got[509] == got[507] == got[503] == got[501] == 501

    # string ids through the fast path
    es = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    got_s = dict(labels(connected_components(es)))
    assert got_s == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_flow_accumulation_paths_agree(spark):
    """flow_accumulation routes trees by bytes: a tree whose kernel-input
    rows (36 B per cell) fit the byte budget
    (spark.sql.adaptive.advisoryPartitionSizeInBytes) folds in the
    in-memory kernel, a larger one takes the Euler tour + list ranking.
    Each routing is forced by lowering the budget, and all three must
    produce identical rows."""
    from moamosaic_spark.functions.hydro import flow_accumulation

    # two trees: a 40-cell chain into a virtual outlet (gid 1000, no
    # own edge row) and a 7-cell binary-ish tree rooted at a sink
    rows = [(1, i, i + 1) for i in range(39)] + [(1, 39, 1000)]
    rows += [(1, 100, 100)]  # sink root
    rows += [(1, 101, 100), (1, 102, 100), (1, 103, 101), (1, 104, 101),
             (1, 105, 102), (1, 106, 103)]
    edges = spark.createDataFrame(rows, "band int, gid long, dst long")

    def routed(budget=None):
        """(rows, root node of the plan) of flow_accumulation at
        ``budget``: the Euler path is a Union onto the in-memory kernel."""
        with advisory(spark, budget) if budget else nullcontext():
            df = flow_accumulation(edges)
        root = df._jdf.queryExecution().analyzed().nodeName()
        return {(r.band, r.gid, r.acc, r.is_cell) for r in df.collect()}, root

    inmem, inmem_root = routed()         # default 64 MiB: all in-memory
    euler, euler_root = routed(36)       # one cell's row: both trees Euler
    mixed, mixed_root = routed(36 * 10)  # chain (40) Euler, tree (7) in-memory
    assert (inmem_root, euler_root, mixed_root) == ("FlatMapGroupsInArrow", "Union", "Union")
    assert inmem == euler == mixed
    by_gid = {g: a for (_, g, a, _) in inmem}
    assert by_gid[0] == 1 and by_gid[39] == 40  # chain head / foot
    assert by_gid[1000] == 40                   # outlet throughput
    assert by_gid[100] == 7                     # sink root counts itself
    assert by_gid[101] == 4 and by_gid[102] == 2 and by_gid[106] == 1


def test_relayout_writes_one_file_per_bucket(spark, tmp_path):
    """The bucketed write repartitions on the bucket hash first, so each
    task holds exactly one bucket: at most n_buckets data files (fewer
    when some buckets are empty), instead of one file per (task, bucket)
    pair."""
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64)
    n_buckets = 8
    relayout_to_table(spark, fp, blocks, "work_filecount", cfg, n_buckets=n_buckets)

    loc = _table_location(spark, "work_filecount")
    assert loc and os.path.isdir(loc), f"unresolvable table location: {loc}"
    data_files = [
        f for f in glob.glob(os.path.join(loc, "*"))
        if not os.path.basename(f).startswith(("_", "."))
    ]
    assert 0 < len(data_files) <= n_buckets, (
        f"{len(data_files)} data files for {n_buckets} buckets: {data_files}"
    )


def test_halo_emitter_reads_its_input_once(spark):
    """focal._emit_fragments emits all nine halo regions from ONE
    generate chain over its input: an unmaterialized tile relation (here
    the lazy tiles of a do_mosaic) runs its plan once. A pass-through
    tap on the input counts the rows read with an accumulator — a union
    of two emitter arms over the input reads every row twice. (An
    Observation cannot show this: Spark reports one of the two
    same-named metric nodes, not their sum.)"""
    from pyspark.sql import functions as F

    from moamosaic_spark.functions.focal import _emit_fragments
    from moamosaic_spark.mosaic import do_mosaic

    rasters = synth.golden_pair(96, 96)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    tiles = do_mosaic(spark, fp, blocks, MosaicConfig(blocksize=32, with_overviews=False)).tiles
    n_tiles = tiles.count()
    read = spark.sparkContext.accumulator(0)

    def tap(batches):
        for b in batches:
            read.add(b.num_rows)
            yield b

    frags = _emit_fragments(tiles.mapInArrow(tap, tiles.schema))
    assert frags.agg(F.count(F.lit(1))).collect()[0][0] > 9 * n_tiles
    assert read.value == n_tiles
