"""Input-side tile pruning (round-2 fix for the confirmed plan bug):
``do_mosaic(tile_row_range=... / tile_keys=...)`` must restrict the
tile relation BELOW the stitch kernel — Catalyst cannot push a filter
through FlatMapGroupsInArrow, so pruning must happen before the
spatial join, not on the kernel's output.

Also covers the batch-geometry invalidation (re-running resumable_mosaic
with a different n_batches truncates the stale sink) and the incremental
priority/idempotency fixes.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from moamosaic_spark.streaming.incremental import process_batch, read_seen
from moamosaic_spark.streaming.lineage import resumable_mosaic
from tests.conftest import to_blocks, to_documents, to_footprints


@pytest.fixture()
def corpus(spark):
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    return fp, blocks, cfg


def _tiles_map(df):
    return {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in df.collect()
    }


def test_tile_range_prunes_input_side(spark, corpus):
    fp, blocks, cfg = corpus
    full = do_mosaic(spark, fp, blocks, cfg)
    n_assign_full = full.assignments.count()
    tile_rows = sorted(
        r.tile_row for r in full.tiles.select("tile_row").distinct().collect()
    )
    mid = tile_rows[len(tile_rows) // 2]
    hi = tile_rows[-1] + 1

    lo_half = do_mosaic(spark, fp, blocks, cfg, tile_row_range=(0, mid))
    hi_half = do_mosaic(spark, fp, blocks, cfg, tile_row_range=(mid, hi))

    # execution-level proof the predicate reached BELOW the kernel: the
    # spatial-join output itself is pruned (the old output-side filter
    # left assignments at full size and re-stitched everything).
    n_lo = lo_half.assignments.count()
    n_hi = hi_half.assignments.count()
    assert n_lo < n_assign_full and n_hi < n_assign_full
    assert n_lo + n_hi == n_assign_full

    # plan-level proof: no tile_row filter sits ABOVE the stitch kernel
    plan = lo_half.tiles._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    above = plan.split("FlatMapGroupsInArrow")[0]
    for line in above.splitlines():
        if "Filter" in line:
            assert "tile_row" not in line, f"tile filter above the kernel: {line}"

    # batches reassemble the full mosaic exactly
    a = _tiles_map(lo_half.tiles)
    a.update(_tiles_map(hi_half.tiles))
    b = _tiles_map(full.tiles)
    assert set(a) == set(b)
    for k in a:
        np.testing.assert_array_equal(a[k], b[k])


def test_tile_keys_restricts_run(spark, corpus):
    fp, blocks, cfg = corpus
    full = do_mosaic(spark, fp, blocks, cfg)
    keys = (
        full.tiles.select("tile_row", "tile_col").distinct().limit(3)
        .localCheckpoint(eager=True)
    )
    want_keys = {(r.tile_row, r.tile_col) for r in keys.collect()}
    res = do_mosaic(spark, fp, blocks, cfg, tile_keys=keys)
    got = _tiles_map(res.tiles)
    assert {(tr, tc) for (_b, tr, tc) in got} == want_keys
    ref = _tiles_map(full.tiles)
    for k in got:
        np.testing.assert_array_equal(got[k], ref[k])


def test_changing_n_batches_truncates_stale_sink(spark, corpus, tmp_path):
    fp, blocks, cfg = corpus
    out = str(tmp_path / "m")
    resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=3)
    n3 = spark.read.parquet(f"{out}/tiles").count()
    # re-run with a different geometry: the stale batch=K partitions from
    # the 3-batch run must not survive as duplicates
    r = resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=2)
    assert r["batches_run"] == 2 and r["batches_skipped"] == 0
    tiles = spark.read.parquet(f"{out}/tiles")
    assert tiles.count() == n3
    dupes = (
        tiles.groupBy("band", "tile_row", "tile_col").count().where("count > 1").count()
    )
    assert dupes == 0


def test_incremental_mixed_batch_priorities(spark, tmp_path):
    """A batch mixing seen and unseen refs must assign the unseen refs
    densely increasing priorities with no collisions (round-1 ADVICE:
    count-based offsets collided after mixed batches)."""
    rasters = synth.grid3x3(150, 150)
    fp_meta = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    docs_pdf = synth.documents_pdf(rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    out = str(tmp_path / "inc")

    third = max(1, len(docs_pdf) // 3)
    b0 = to_documents(spark, docs_pdf.iloc[:third])
    # batch 1 OVERLAPS batch 0 (replays its docs) and adds new ones
    b1 = to_documents(spark, docs_pdf)

    process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)
    process_batch(b1, 1, spark, fp_meta, blocks, out, cfg)

    seen = read_seen(spark, out)
    prios = [r.priority for r in seen.select("priority").collect()]
    assert sorted(prios) == list(range(len(prios))), (
        f"priorities not dense/unique: {sorted(prios)}"
    )
    # full-corpus replay is now a no-op
    r = process_batch(b1, 2, spark, fp_meta, blocks, out, cfg)
    assert r["new_refs"] == 0


def test_incremental_midbatch_failure_replay(spark, tmp_path):
    """Crash between the tile-sink write and the state commit: the state
    is unchanged, so the replayed batch recomputes and rewrites the same
    tiles, then commits state — nothing is dropped (round-1 ADVICE)."""
    import shutil

    rasters = synth.grid3x3(150, 150)
    fp_meta = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    docs_pdf = synth.documents_pdf(rasters)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    out = str(tmp_path / "inc2")

    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])

    process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)
    state_backup = str(tmp_path / "state_backup")
    shutil.copytree(f"{out}/footprints_seen", state_backup)
    process_batch(b1, 1, spark, fp_meta, blocks, out, cfg)
    # simulate the crash: batch 1's tiles landed but its state commit
    # didn't — restore the pre-batch state table
    shutil.rmtree(f"{out}/footprints_seen")
    shutil.copytree(state_backup, f"{out}/footprints_seen")

    # replay of batch 1 must see its refs as NEW and rewrite identical bytes
    r = process_batch(b1, 2, spark, fp_meta, blocks, out, cfg)
    assert r["new_refs"] > 0

    got = {}
    for r in spark.read.parquet(f"{out}/tiles").collect():
        key = (r.band, r.tile_row, r.tile_col)
        assert key not in got, f"duplicate tile {key}"
        got[key] = decode(r.pixels).reshape(r.ysize, r.xsize)
    covered = {(1, ti, tj) for (ti, tj, _ref) in want.assignments}
    assert set(got.keys()) == covered
    for key, arr in got.items():
        np.testing.assert_array_equal(arr, want.tiles[key], err_msg=f"tile {key}")


def test_media_refs_rank_no_single_partition_window(spark):
    """The priority front door must not funnel all refs through one
    task: no unpartitioned (SinglePartition) window in the plan."""
    from moamosaic_spark.sources.docs import media_refs_in_order

    rasters = synth.grid3x3(150, 150)
    docs = to_documents(spark, synth.documents_pdf(rasters))
    refs = media_refs_in_order(docs)
    plan = refs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "SinglePartition" not in plan, plan
    # priorities: dense 0..n-1, ordered by first appearance
    rows = refs.collect()
    prios = sorted(r.priority for r in rows)
    assert prios == list(range(len(rows)))
