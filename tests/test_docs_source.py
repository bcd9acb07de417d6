"""Interleaved-document source: priority = document order (the filelist
order of the reference, mosaic.py:123-124), and the per-row
span-sequence invariant — (kind, text, media_ref, order) survive the
pipeline untouched."""

import numpy as np

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from moamosaic_spark.sources.docs import (
    footprints_from_docs,
    media_refs_in_order,
    span_sequence_fingerprint,
)
from tests.conftest import to_blocks, to_documents, to_footprints


def test_media_priority_follows_document_order(spark):
    rasters = synth.grid3x3(100, 100)
    docs = to_documents(spark, synth.documents_pdf(rasters))
    refs = media_refs_in_order(docs).orderBy("priority").collect()
    assert [r.media_ref for r in refs] == [r.media_ref for r in rasters]
    assert [r.priority for r in refs] == list(range(len(rasters)))


def test_docs_driven_mosaic_equals_direct(spark):
    rasters = synth.golden_pair(200, 200)
    fp_meta = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    docs = to_documents(spark, synth.documents_pdf(rasters))
    cfg = MosaicConfig(blocksize=128, src_blocksize=256, min_overview_size=9999)

    via_docs = do_mosaic(spark, footprints_from_docs(docs, fp_meta), blocks, cfg)
    direct = do_mosaic(spark, fp_meta, blocks, cfg)

    a = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in via_docs.tiles.collect()
    }
    b = {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels)
        for r in direct.tiles.collect()
    }
    assert set(a) == set(b)
    for k in a:
        np.testing.assert_array_equal(a[k], b[k])


def test_span_sequence_invariant_through_pipeline(spark):
    """Documents are only exploded, never mutated: fingerprints of the
    exact span sequence (kind, text, media_ref, order) are identical
    before and after the docs table has fed a full mosaic run."""
    rasters = synth.grid3x3(100, 100)
    fp_meta = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    docs = to_documents(spark, synth.documents_pdf(rasters))

    before = {r.doc_id: r.fingerprint for r in span_sequence_fingerprint(docs).collect()}

    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    res = do_mosaic(spark, footprints_from_docs(docs, fp_meta), blocks, cfg)
    res.tiles.count()  # execute the pipeline

    after = {r.doc_id: r.fingerprint for r in span_sequence_fingerprint(docs).collect()}
    assert before == after
    assert len(before) == len(synth.documents_pdf(rasters))

    # the fingerprint is actually sensitive: permuting two spans changes it
    import pandas as pd

    pdf = synth.documents_pdf(rasters)
    spans = list(pdf.iloc[0]["spans"])
    spans[0], spans[1] = spans[1], spans[0]
    mutated = pd.DataFrame([{"doc_id": pdf.iloc[0]["doc_id"], "spans": spans}])
    mfp = span_sequence_fingerprint(to_documents(spark, mutated)).collect()[0]
    assert mfp.fingerprint != before[mfp.doc_id]
