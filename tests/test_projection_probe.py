"""The one footprint probe (mosaic._summary_row): the P6/P7 checks,
the extent and the relayout fingerprint come out of one driver action,
and its errors keep the reference's order and tolerance on every route
— validate_projections, do_mosaic direct and do_mosaic over a relayout
table.

Alignment is checked against the PRIORITY-first input with the
reference's tolerance, |round(d/res) - d/res| < 1e-4 (reproj.py:117-127).
Offsets below are in pixels along x unless named otherwise."""

import pytest

from moamosaic_spark.mosaic import MoaProjectionError, MosaicConfig, do_mosaic, validate_projections
from moamosaic_spark.sources import synth
from moamosaic_spark.streaming.lineage import resumable_mosaic
from tests.conftest import fresh_table, to_blocks, to_footprints

RES = synth.X_RES


def _corpus(spark, offsets, priorities=None, dy=(0, 0, 0), x_res=None, projection=None):
    """Three 40x40 rasters 30 px apart along x, in row order; raster k
    shifted by ``offsets[k]`` px in x and ``dy[k]`` px in y. ``x_res``/
    ``projection`` override the third row's."""
    rasters = synth.make_rasters([
        dict(media_ref=f"r{k:03d}", x0=300000.0 + (30 * k + off) * RES,
             y0=7000000.0 - d * RES, nrows=40, ncols=40)
        for k, (off, d) in enumerate(zip(offsets, dy))
    ])
    pdf = synth.footprints_pdf(rasters)
    if priorities is not None:
        pdf["priority"] = priorities
    if x_res is not None:
        pdf.loc[2, "x_res"] = x_res
    if projection is not None:
        pdf.loc[2, "projection"] = projection
    return to_footprints(spark, pdf), to_blocks(spark, synth.blocks_pdf(rasters, 64))


# (offsets, priorities, kwargs, expected error or None)
CASES = {
    "within_tolerance": ([0, 0.5e-4, 0], None, {}, None),
    "beyond_tolerance": ([0, 2e-4, 0], None, {}, "Grid mis-alignment"),
    "beyond_tolerance_y": ([0, 0, 0], None, {"dy": (0, 0, 2e-4)}, "Grid mis-alignment"),
    # the priority-first input is the SECOND row, between two inputs
    # 1.8e-4 px apart: aligned to it (0.9e-4 each way), not to each other
    "anchor_not_first_row_passes": ([0.9e-4, 0, -0.9e-4], [1, 0, 2], {}, None),
    # ... and the converse: the first row is 0.9e-4 from both others,
    # the priority-first input 1.8e-4 from the third
    "anchor_not_first_row_raises": ([0.9e-4, 0, 1.8e-4], [1, 0, 2], {}, "Grid mis-alignment"),
    "pixel_size": ([0, 0, 0], None, {"x_res": RES * 1.5}, "Pixel size mis-match"),
    # all three faults: projection is reported first, then pixel size
    "projection_first": ([0, 0.3, 0], None, {"x_res": RES * 1.5, "projection": "EPSG:4326"},
                         "Projection mis-match"),
    "pixel_size_before_alignment": ([0, 0.3, 0], None, {"x_res": RES * 1.5},
                                    "Pixel size mis-match"),
}


def _check(spark, route, fp, blocks):
    if route == "validate":
        validate_projections(fp)
        return
    table = fresh_table(spark, "work_probe") if route == "relayout" else None
    cfg = MosaicConfig(blocksize=64, src_blocksize=64, min_overview_size=32,
                       relayout_table=table)
    try:
        res = do_mosaic(spark, fp, blocks, cfg)
        assert res.grid.ncols == 100
    finally:
        if table:
            fresh_table(spark, table)


@pytest.mark.parametrize("route", ["validate", "direct", "relayout"])
@pytest.mark.parametrize("case", list(CASES))
def test_projection_checks(spark, case, route):
    offsets, priorities, kw, error = CASES[case]
    fp, blocks = _corpus(spark, offsets, priorities, **kw)
    if error is None:
        _check(spark, route, fp, blocks)
    else:
        with pytest.raises(MoaProjectionError, match=error):
            _check(spark, route, fp, blocks)


def test_empty_footprints_raise_before_checks(spark):
    fp, _ = _corpus(spark, [0, 0, 0])
    with pytest.raises(ValueError, match="no media footprints"):
        validate_projections(fp.limit(0))


def test_resumable_mosaic_probes_footprints_once(spark, tmp_path, sql_executions):
    """A resumed run whose batches are all done runs three driver
    actions: the one footprint probe (grid + projection checks) and the
    two lineage reads (the batch-geometry check and the completed-batch
    keys). The probe used to be three: the extent, the summary and the
    alignment scan."""
    fp, blocks = _corpus(spark, [0, 0, 0])
    cfg = MosaicConfig(blocksize=64, src_blocksize=64, with_overviews=False)
    out = str(tmp_path / "probe_resume")
    resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=1)
    with sql_executions() as n:
        r = resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=1)
    assert (r["batches_run"], r["batches_skipped"]) == (0, 1)
    assert n[0] == 3, n[0]
    misaligned, _ = _corpus(spark, [0, 2e-4, 0])
    with pytest.raises(MoaProjectionError, match="Grid mis-alignment"):
        resumable_mosaic(spark, misaligned, blocks, str(tmp_path / "probe_bad"), cfg)
