"""Incremental (streaming) mosaic: documents arriving in micro-batches
produce the same tiles as a single batch run, with priority preserved
across batches and idempotent re-writes."""

import dataclasses

import numpy as np

from moamosaic_spark.mosaic import MosaicConfig
from moamosaic_spark.pixels import decode
from moamosaic_spark.schema import DOCUMENTS_SCHEMA
from moamosaic_spark.sources import synth
from moamosaic_spark.streaming.incremental import (
    incremental_mosaic_stream,
    process_batch,
)
from tests.conftest import fresh_table, to_blocks, to_documents, to_footprints


def make_corpus(spark):
    rasters = synth.grid3x3(150, 150)
    fp_meta = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    docs_pdf = synth.documents_pdf(rasters)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    return rasters, fp_meta, blocks, docs_pdf, want, cfg


def check_covered_tiles(spark, path, want):
    got = {}
    for r in spark.read.parquet(f"{path}/tiles").collect():
        key = (r.band, r.tile_row, r.tile_col)
        assert key not in got
        got[key] = decode(r.pixels).reshape(r.ysize, r.xsize)
    covered = {
        (1, ti, tj) for (ti, tj, _ref) in want.assignments
    }
    assert set(got.keys()) == covered
    for key, arr in got.items():
        np.testing.assert_array_equal(arr, want.tiles[key], err_msg=f"tile {key}")


def test_two_batches_match_full_run(spark, tmp_path):
    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    out = str(tmp_path / "inc")

    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])

    r0 = process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)
    assert r0["new_refs"] > 0 and r0["tiles_written"] > 0
    r1 = process_batch(b1, 1, spark, fp_meta, blocks, out, cfg)
    assert r1["new_refs"] > 0

    check_covered_tiles(spark, out, want)

    # replay of batch 1 (duplicate delivery) is a no-op: all refs seen
    r2 = process_batch(b1, 2, spark, fp_meta, blocks, out, cfg)
    assert r2["new_refs"] == 0
    check_covered_tiles(spark, out, want)


def test_streaming_wrapper(spark, tmp_path):
    """Real readStream -> foreachBatch -> sink, availableNow trigger."""
    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    src = tmp_path / "docs_src"
    out = str(tmp_path / "inc_stream")
    to_documents(spark, docs_pdf).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(str(src))
    q = incremental_mosaic_stream(
        spark, stream, fp_meta, blocks, out, cfg,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    check_covered_tiles(spark, out, want)


def test_two_batches_cell_strategy(spark, tmp_path):
    """Incremental micro-batches with the accepted ``strategy="cell"``
    config: it plans the one spatial join (the touched-tile join and the
    pruned full run), with the same tiles."""
    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    import dataclasses

    cfg = dataclasses.replace(cfg, strategy="cell", cell_size_px=128)
    out = str(tmp_path / "inc_cell")

    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)
    process_batch(b1, 1, spark, fp_meta, blocks, out, cfg)
    check_covered_tiles(spark, out, want)


def test_incremental_over_relayout_table(spark, tmp_path):
    """Micro-batches accumulating work rows in a bucketed relayout table
    (round-2 verdict item 5): identical tiles to the direct path, and
    the touched-tile re-stitch plan has NO Exchange below the kernel
    (broadcast semi-join preserves the bucketed distribution)."""
    from moamosaic_spark.sources.relayout import stitch_from_relayout

    # start from no table: the warehouse outlives the session, and a
    # surviving table would be re-attached with its old rows and schema
    fresh_table(spark, "work_inc")
    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    out = str(tmp_path / "inc_rl")

    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    r0 = process_batch(b0, 0, spark, fp_meta, blocks, out,
                       dataclasses.replace(cfg, relayout_table="work_inc"))
    assert r0["new_refs"] > 0
    r1 = process_batch(b1, 1, spark, fp_meta, blocks, out,
                       dataclasses.replace(cfg, relayout_table="work_inc"))
    assert r1["new_refs"] > 0
    check_covered_tiles(spark, out, want)

    # duplicate delivery: state already has the refs -> no-op
    r2 = process_batch(b1, 2, spark, fp_meta, blocks, out,
                       dataclasses.replace(cfg, relayout_table="work_inc"))
    assert r2["new_refs"] == 0
    check_covered_tiles(spark, out, want)

    # plan: a touched-tile stitch off the bucketed table must not
    # shuffle (reuse test_relayout's slicing technique)
    keys = spark.createDataFrame([(0, 0), (1, 1)], ["tile_row", "tile_col"])
    res = stitch_from_relayout(spark, "work_inc", cfg, tile_keys=keys)
    plan = res.stitched._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    kernel = "FlatMapGroupsInArrow"
    region = plan.split(kernel)[1]
    scan_pos = region.find("FileScan")
    assert "Exchange" not in region[:scan_pos], "touched-tile stitch was shuffled"


def test_sink_parts_layout(spark, tmp_path):
    """The incremental sink partitions tiles by tile_row mod SINK_PARTS
    (16; round-2 verdict minor #3 bounded each rewrite to one
    partition), records that modulus in ``_sink_meta``, and two batches
    equal a full run."""
    from moamosaic_spark.streaming.incremental import SINK_PARTS

    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    out = str(tmp_path / "inc_parts")
    process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)
    process_batch(b1, 1, spark, fp_meta, blocks, out, cfg)
    check_covered_tiles(spark, out, want)
    tiles = spark.read.parquet(f"{out}/tiles")
    assert tiles.where(f"part != pmod(tile_row, {SINK_PARTS})").isEmpty()
    assert spark.read.parquet(f"{out}/_sink_meta").collect()[0].sink_parts == SINK_PARTS


def test_relayout_survives_catalog_restart(spark, tmp_path):
    """A restarted session's in-memory catalog forgets managed tables
    but their warehouse files survive; ensure_relayout_table must
    RE-REGISTER the surviving work rows, never truncate them (the
    seen-refs state would prevent re-appending -> silent tile
    corruption). Simulated by dropping the catalog entries while
    preserving the files."""
    import shutil
    from urllib.parse import urlparse

    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    out = str(tmp_path / "inc_restart")
    table = "work_restart"
    # clean any leftovers of a previously-killed run (the test mutates
    # the shared warehouse, so it must be self-cleaning)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (table, f"{table}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        shutil.rmtree(f"{wh}/{t}__saved", ignore_errors=True)

    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    process_batch(b0, 0, spark, fp_meta, blocks, out,
                  dataclasses.replace(cfg, relayout_table=table))

    # simulate restart: copy warehouse dirs aside, DROP (deletes the
    # originals), restore the copies -> files exist, catalog forgot them
    for t in (table, f"{table}_meta"):
        shutil.copytree(f"{wh}/{t}", f"{wh}/{t}__saved")
        spark.sql(f"DROP TABLE {t}")
        shutil.move(f"{wh}/{t}__saved", f"{wh}/{t}")

    # next batch must see batch-0's accumulated work rows
    process_batch(b1, 1, spark, fp_meta, blocks, out,
                  dataclasses.replace(cfg, relayout_table=table))
    check_covered_tiles(spark, out, want)


def test_relayout_restart_with_db_qualified_table(spark, tmp_path):
    """Database-qualified relayout tables live at <wh>/<db>.db/<tbl>,
    NOT <wh>/<db.tbl> — the location must be resolved through the
    catalog, or a restarted session misses the surviving files, makes
    a fresh empty table, and silently loses every pre-restart batch."""
    import shutil
    from urllib.parse import urlparse

    from moamosaic_spark.sources.relayout import _table_location

    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    out = str(tmp_path / "inc_restart_db")
    spark.sql("CREATE DATABASE IF NOT EXISTS relaydb")
    table = "relaydb.work_restart_db"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = _table_location(spark, table)
    assert loc == f"{wh}/relaydb.db/work_restart_db"
    for t in (table, f"{table}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(_table_location(spark, t), ignore_errors=True)
        shutil.rmtree(_table_location(spark, t) + "__saved", ignore_errors=True)

    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    process_batch(b0, 0, spark, fp_meta, blocks, out,
                  dataclasses.replace(cfg, relayout_table=table))

    for t in (table, f"{table}_meta"):
        tloc = _table_location(spark, t)
        shutil.copytree(tloc, f"{tloc}__saved")
        spark.sql(f"DROP TABLE {t}")
        shutil.move(f"{tloc}__saved", tloc)

    process_batch(b1, 1, spark, fp_meta, blocks, out,
                  dataclasses.replace(cfg, relayout_table=table))
    check_covered_tiles(spark, out, want)
    for t in (table, f"{table}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sink_parts_change_is_refused(spark, tmp_path):
    """Resuming an incremental sink written with another partition
    modulus would strand stale tiles in the old part= partitions — must
    raise, not silently duplicate. The sink below records modulus 5 in
    ``_sink_meta``; the engine's is SINK_PARTS (16)."""
    import pytest

    from moamosaic_spark.streaming.incremental import SINK_PARTS

    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    out = str(tmp_path / "inc_guard")
    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)
    meta = f"{out}/_sink_meta"
    spark.createDataFrame([(5,)], "sink_parts int").write.mode("overwrite").parquet(meta)
    with pytest.raises(ValueError, match="sink_parts=5"):
        process_batch(b1, 1, spark, fp_meta, blocks, out, cfg)
    # the sink's own modulus still works
    spark.createDataFrame([(SINK_PARTS,)], "sink_parts int").write.mode("overwrite").parquet(meta)
    process_batch(b1, 1, spark, fp_meta, blocks, out, cfg)
    check_covered_tiles(spark, out, want)


def test_incremental_derived_hillshade(spark, tmp_path):
    """Derived-product maintenance: hillshade recomputed only on the
    invalidation ring each batch must equal a full hillshade over the
    final mosaic, and a replayed batch must not change it."""
    from moamosaic_spark.functions.focal import hillshade

    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    out = str(tmp_path / "inc_hs")

    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    r0 = process_batch(b0, 0, spark, fp_meta, blocks, out, cfg,
                       derived_focal=True)
    assert r0["derived_tiles"] > 0
    r1 = process_batch(b1, 1, spark, fp_meta, blocks, out, cfg,
                       derived_focal=True)
    assert r1["derived_tiles"] > 0

    def read_hs():
        return {
            (r.band, r.tile_row, r.tile_col): np.asarray(r.pixels, np.int64)
            for r in spark.read.parquet(f"{out}/hillshade").collect()
        }

    got = read_hs()
    sink = spark.read.parquet(f"{out}/tiles").select(
        "band", "tile_row", "tile_col", "ysize", "xsize", "pixels")
    full = {
        (r.band, r.tile_row, r.tile_col): np.asarray(r.pixels, np.int64)
        for r in hillshade(sink, xres=10.0, yres=10.0, nullval=0).collect()
    }
    assert set(got) == set(full)
    for k in full:
        np.testing.assert_array_equal(got[k], full[k], err_msg=f"tile {k}")

    # duplicate delivery: no new refs -> derived product untouched
    r2 = process_batch(b1, 2, spark, fp_meta, blocks, out, cfg,
                       derived_focal=True)
    assert r2["new_refs"] == 0 and r2["derived_tiles"] == 0
    got2 = read_hs()
    assert set(got2) == set(got)
    for k in got:
        np.testing.assert_array_equal(got2[k], got[k])


def test_derived_focal_rejects_catalog_sink(spark, tmp_path):
    """derived_focal reads the parquet tile sink; combining it with a
    native catalog sink (which skips that write) must fail loudly."""
    import pytest

    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    b0 = to_documents(spark, docs_pdf.iloc[: len(docs_pdf) // 2])
    with pytest.raises(ValueError, match="derived_focal"):
        process_batch(b0, 0, spark, fp_meta, blocks,
                      str(tmp_path / "x"), cfg,
                      sink_table="cat.tiles", derived_focal=True)


def test_derived_focal_backfills_on_activation(spark, tmp_path):
    """Enabling derived_focal on a sink with prior batches must
    backfill the FULL product, not just the current batch's ring."""
    from moamosaic_spark.functions.focal import hillshade

    rasters, fp_meta, blocks, docs_pdf, want, cfg = make_corpus(spark)
    out = str(tmp_path / "inc_bf")
    half = len(docs_pdf) // 2
    b0 = to_documents(spark, docs_pdf.iloc[:half])
    b1 = to_documents(spark, docs_pdf.iloc[half:])
    process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)  # no derived
    r1 = process_batch(b1, 1, spark, fp_meta, blocks, out, cfg,
                       derived_focal=True)  # activation mid-stream
    assert r1["derived_tiles"] > 0
    sink = spark.read.parquet(f"{out}/tiles").select(
        "band", "tile_row", "tile_col", "ysize", "xsize", "pixels")
    full = {
        (r.band, r.tile_row, r.tile_col): np.asarray(r.pixels, np.int64)
        for r in hillshade(sink, xres=10.0, yres=10.0, nullval=0).collect()
    }
    got = {
        (r.band, r.tile_row, r.tile_col): np.asarray(r.pixels, np.int64)
        for r in spark.read.parquet(f"{out}/hillshade").collect()
    }
    assert set(got) == set(full)
    for k in full:
        np.testing.assert_array_equal(got[k], full[k], err_msg=f"tile {k}")


def test_batch_stitches_once(spark, tmp_path):
    """A micro-batch runs the stitch kernel in ONE driver action, the
    sink's write: tiles_written comes from the small touched-key set,
    not from a count() that stitches the tiles again."""
    rasters = synth.golden_pair(128, 128)
    fp_meta = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    docs_pdf = synth.documents_pdf(rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=64, with_overviews=False)
    out = str(tmp_path / "inc_once")
    b0 = to_documents(spark, docs_pdf.iloc[:len(docs_pdf) // 2])

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    r0 = process_batch(b0, 0, spark, fp_meta, blocks, out, cfg)
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() > before]
    assert sum("FlatMapGroupsInArrow" in p for p in plans) == 1, len(plans)
    assert r0["tiles_written"] == spark.read.parquet(f"{out}/tiles").count() > 0


def test_batch_computes_its_tiles_once(spark, tmp_path, monkeypatch):
    """Each micro-batch computes its stitched tiles once: an observation
    on the rows handed to the tile sink counts every (band, touched
    tile) once, in the first batch (the sink's range partitioner samples
    its input) and in a later one (the carried-over rows are chosen by
    the new rows' ``part`` set)."""
    from pyspark.sql import Observation, functions as F

    from moamosaic_spark.streaming import incremental

    rasters = synth.golden_pair(128, 128)
    fp_meta = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    docs_pdf = synth.documents_pdf(rasters)
    cfg = MosaicConfig(blocksize=64, src_blocksize=64, with_overviews=False)
    out = str(tmp_path / "inc_rows_once")
    half = len(docs_pdf) // 2
    rewrite = incremental._rewrite_parts
    for batch_id, docs in enumerate((docs_pdf.iloc[:half], docs_pdf.iloc[half:])):
        obs = Observation(f"out_tiles_{batch_id}")
        monkeypatch.setattr(
            incremental, "_rewrite_parts",
            lambda s, path, rows, keys: rewrite(
                s, path, rows.observe(obs, F.count(F.lit(1)).alias("rows")), keys),
        )
        r = process_batch(to_documents(spark, docs), batch_id, spark, fp_meta,
                          blocks, out, cfg)
        assert r["tiles_written"] > 0
        assert obs.get["rows"] == r["tiles_written"], (batch_id, obs.get, r)
