"""One relayout switch: ``MosaicConfig.relayout_table`` routes every
entry point — do_mosaic, resumable_mosaic, process_batch and
incremental_mosaic_stream. A fresh table is built on first use and every
stitch runs off it with no shuffle. The two kinds of table refuse each
other's entry points: do_mosaic never rebuilds a stream table (it holds
the stream's rows), and process_batch never appends to a corpus table or
to a stream table of another tiling."""

import dataclasses
import inspect
import re

import numpy as np
import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.plans.grid import make_output_grid
from moamosaic_spark.schema import DOCUMENTS_SCHEMA
from moamosaic_spark.sources import synth
from moamosaic_spark.sources.relayout import ensure_relayout_table, relayout_to_table
from moamosaic_spark.streaming import incremental, lineage
from tests.conftest import fresh_table, to_blocks, to_documents, to_footprints

ENTRY_POINTS = ["do_mosaic", "resumable_mosaic", "process_batch", "incremental_mosaic_stream"]


@pytest.fixture(scope="module")
def corpus(spark):
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    docs_pdf = synth.documents_pdf(rasters)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    return fp, blocks, docs_pdf, want, cfg


def _halves(spark, docs_pdf):
    half = len(docs_pdf) // 2
    return [to_documents(spark, docs_pdf.iloc[:half]), to_documents(spark, docs_pdf.iloc[half:])]


def _shuffles(df) -> list[str]:
    """The shuffle Exchange nodes of ``df``'s physical plan, leaving out
    those on a broadcast's build side (a touched-key set is made
    distinct there before it is broadcast)."""
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    ).split("== Physical Plan ==")[-1]
    found, stack = [], []
    for line in plan.strip().splitlines():
        depth = len(line) - len(line.lstrip(" :+-|"))
        node = re.sub(r"^\*\(\d+\) ", "", line[depth:])
        while stack and stack[-1][0] >= depth:
            stack.pop()
        in_broadcast = any(n.startswith("BroadcastExchange") for _, n in stack)
        if node.startswith("Exchange") and not in_broadcast:
            found.append(node)
        stack.append((depth, node))
    return found


def _tiles(rows) -> dict:
    got = {}
    for r in rows:
        key = (r.band, r.tile_row, r.tile_col)
        assert key not in got, f"duplicate tile {key}"
        got[key] = decode(r.pixels).reshape(r.ysize, r.xsize)
    return got


@pytest.mark.parametrize("entry", ENTRY_POINTS)
def test_fresh_config_table_routes(spark, tmp_path, monkeypatch, corpus, entry):
    """With a fresh ``config.relayout_table`` every entry point builds the
    table, stitches off it (no shuffle Exchange in any batch's stitched
    plan) and writes the oracle's tiles: all of them, or the tiles some
    raster covers for the incremental entry points."""
    fp, blocks, docs_pdf, want, cfg = corpus
    table = fresh_table(spark, f"work_route_{entry}")
    cfg = dataclasses.replace(cfg, relayout_table=table)
    out = str(tmp_path / "out")
    stitched = []
    keys = set(want.tiles)
    if entry == "do_mosaic":
        res = do_mosaic(spark, fp, blocks, cfg)
        stitched.append(res.stitched)
        got = _tiles(res.tiles.collect())
    else:
        if entry == "resumable_mosaic":
            real_mosaic = lineage._mosaic_from_row

            def spy_mosaic(*args, **kwargs):
                res = real_mosaic(*args, **kwargs)
                stitched.append(res.stitched)
                return res

            monkeypatch.setattr(lineage, "_mosaic_from_row", spy_mosaic)
            lineage.resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=3)
            assert len(stitched) == 3
        else:
            real_rewrite = incremental._rewrite_parts

            def spy_rewrite(spark_, path, rows, touched):
                stitched.append(rows)
                real_rewrite(spark_, path, rows, touched)

            monkeypatch.setattr(incremental, "_rewrite_parts", spy_rewrite)
            keys = {(1, ti, tj) for (ti, tj, _ref) in want.assignments}
            if entry == "process_batch":
                for i, batch in enumerate(_halves(spark, docs_pdf)):
                    incremental.process_batch(batch, i, spark, fp, blocks, out, cfg)
            else:
                src = tmp_path / "docs"
                to_documents(spark, docs_pdf).coalesce(1).write.parquet(str(src))
                stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(str(src))
                incremental.incremental_mosaic_stream(
                    spark, stream, fp, blocks, out, cfg, checkpoint=str(tmp_path / "ck"),
                ).awaitTermination(300)
        got = _tiles(spark.read.parquet(f"{out}/tiles").collect())
    assert spark.catalog.tableExists(table), "the table was never built"
    assert stitched
    for df in stitched:
        assert _shuffles(df) == [], _shuffles(df)
    assert set(got) == keys
    for k, arr in got.items():
        np.testing.assert_array_equal(arr, want.tiles[k], err_msg=f"tile {k}")
    fresh_table(spark, table)


def test_no_relayout_table_parameter():
    """``MosaicConfig.relayout_table`` is the one relayout switch."""
    for fn in (lineage.resumable_mosaic, incremental.process_batch,
               incremental.incremental_mosaic_stream):
        assert "relayout_table" not in inspect.signature(fn).parameters, fn.__name__


def test_do_mosaic_refuses_stream_table(spark, tmp_path, corpus):
    """A stream table holds the rows of every micro-batch so far:
    do_mosaic over the same name raises instead of rebuilding it, and
    leaves its files as they were."""
    fp, blocks, docs_pdf, _want, cfg = corpus
    table = fresh_table(spark, "work_guard_stream")
    cfg = dataclasses.replace(cfg, relayout_table=table)
    for i, batch in enumerate(_halves(spark, docs_pdf)):
        incremental.process_batch(batch, i, spark, fp, blocks, str(tmp_path / "inc"), cfg)

    def files():
        return [sorted(spark.table(t).inputFiles()) for t in (table, f"{table}_meta")]

    before = files()
    with pytest.raises(ValueError, match=f"{table}.*stream table"):
        do_mosaic(spark, fp, blocks, cfg)
    assert files() == before
    fresh_table(spark, table)


def test_process_batch_refuses_corpus_table(spark, tmp_path, corpus):
    """A table relayout_to_table built holds exactly one corpus:
    process_batch raises before it appends a row or commits a ref."""
    fp, blocks, docs_pdf, _want, cfg = corpus
    table = fresh_table(spark, "work_guard_corpus")
    relayout_to_table(spark, fp, blocks, table, cfg)
    before = sorted(spark.table(table).inputFiles())
    out = str(tmp_path / "inc")
    with pytest.raises(ValueError, match=f"{table}.*not this stream's"):
        incremental.process_batch(_halves(spark, docs_pdf)[0], 0, spark, fp, blocks, out,
                                  dataclasses.replace(cfg, relayout_table=table))
    assert sorted(spark.table(table).inputFiles()) == before
    assert incremental.read_seen(spark, out) is None
    fresh_table(spark, table)


def test_process_batch_refuses_other_tiling(spark, tmp_path, corpus):
    """A stream table is pinned to its grid and blocksize: a stream with
    another blocksize (or grid) raises instead of stitching touched keys
    of one tiling off rows of another."""
    fp, blocks, docs_pdf, _want, cfg = corpus
    table = fresh_table(spark, "work_guard_tiling")
    b0, b1 = _halves(spark, docs_pdf)
    incremental.process_batch(b0, 0, spark, fp, blocks, str(tmp_path / "b96"),
                              dataclasses.replace(cfg, blocksize=96, relayout_table=table))
    before = sorted(spark.table(table).inputFiles())
    with pytest.raises(ValueError, match=f"{table}.*not this stream's"):
        incremental.process_batch(b1, 1, spark, fp, blocks, str(tmp_path / "b64"),
                                  dataclasses.replace(cfg, relayout_table=table))
    assert sorted(spark.table(table).inputFiles()) == before
    # the same blocksize on a shifted grid is refused too
    cfg96 = dataclasses.replace(cfg, blocksize=96)
    grid = make_output_grid(fp, None)
    ensure_relayout_table(spark, table, grid, blocks, cfg96)  # its own tiling: accepted
    with pytest.raises(ValueError, match="not this stream's"):
        ensure_relayout_table(spark, table, dataclasses.replace(grid, ncols=grid.ncols + 96),
                              blocks, cfg96)
    fresh_table(spark, table)
