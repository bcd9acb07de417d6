"""write_mosaic's three sinks (tiles, overviews, stats) run concurrently
over the one persisted stitch: each sink job keeps the caller's job
group, a failing sink still raises and unpersists the stitch, the
files are the bytes the sinks write one after another, and the Python
kernel runs once per stitch partition, not once per sink."""

import dataclasses
import re
from pathlib import Path

import pytest
from pyspark import StorageLevel

from moamosaic_spark.mosaic import MosaicConfig, _mosaic_sinks, do_mosaic, write_mosaic
from moamosaic_spark.plans.grid import stitch_partitions
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints

SINKS = ("tiles", "overviews", "stats")
PYTHON_NODE = re.compile(r"InArrow|InPandas|Python")


@pytest.fixture(scope="module")
def golden(spark):
    """golden_pair(512, 512), the corpus whose sink anchors are known:
    grid 1022x512, levels [4, 8], stats min 1, max 511, mean 255.75,
    count 522752."""
    rasters = synth.golden_pair(512, 512)
    fp = to_footprints(spark, synth.footprints_pdf(rasters)).cache()
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256)).cache()
    yield fp, blocks
    fp.unpersist(), blocks.unpersist()


def _mosaic(spark, golden):
    return do_mosaic(spark, *golden, MosaicConfig(blocksize=128, min_overview_size=64))


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _jobs_since(spark, last_id):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = _seq(sc._jsc.sc().statusStore().jobsList(None))
    return [j for j in jobs if j.jobId() > last_id]


def _last_job_id(spark):
    return max((j.jobId() for j in _jobs_since(spark, -1)), default=-1)


def _part_bytes(out: Path, sink: str) -> list:
    """The part files of one sink, in part order (the names differ by
    a per-write id only)."""
    parts = sorted(out.joinpath(sink).glob("part-*"), key=lambda p: p.name.split("-")[1])
    return [p.read_bytes() for p in parts]


def test_concurrent_sinks_write_the_sequential_bytes(spark, golden, tmp_path):
    write_mosaic(_mosaic(spark, golden), str(tmp_path / "concurrent"))
    res = _mosaic(spark, golden)
    res.stitched.persist()
    try:
        for write in _mosaic_sinks(res, str(tmp_path / "sequential")):
            write()
    finally:
        res.stitched.unpersist()
    for sink in SINKS:
        got = _part_bytes(tmp_path / "concurrent", sink)
        assert got and got == _part_bytes(tmp_path / "sequential", sink), sink

    assert (res.grid.ncols, res.grid.nrows) == (1022, 512)
    assert res.levels == [4, 8]
    [s] = spark.read.parquet(str(tmp_path / "concurrent" / "stats")).collect()
    assert (s.minval, s.maxval, round(s.meanval, 2), s["count"]) == (1, 511, 255.75, 522752)
    levels = spark.read.parquet(str(tmp_path / "concurrent" / "overviews"))
    assert sorted(r.level for r in levels.select("level").distinct().collect()) == [4, 8]


def test_every_sink_job_keeps_the_job_group(spark, golden, tmp_path):
    res = _mosaic(spark, golden)
    sc = spark.sparkContext
    last = _last_job_id(spark)
    sc.setJobGroup("moa-sinks", "write_mosaic under a job group")
    try:
        write_mosaic(res, str(tmp_path / "out"))
    finally:
        sc._jsc.clearJobGroup()
    jobs = _jobs_since(spark, last)
    groups = [j.jobGroup().get() if j.jobGroup().isDefined() else None for j in jobs]
    assert len(jobs) >= len(SINKS), len(jobs)
    assert set(groups) == {"moa-sinks"}, groups


def test_failing_sink_raises_and_unpersists(spark, golden, tmp_path):
    res = _mosaic(spark, golden)
    broken = dataclasses.replace(
        res, stats=spark.range(1).selectExpr("raise_error('stats sink failed') AS x")
    )
    out = tmp_path / "out"
    with pytest.raises(Exception, match="stats sink failed"):
        write_mosaic(broken, str(out))
    # the other sinks ran to the end before the failure was raised
    assert (out / "tiles" / "_SUCCESS").exists()
    assert (out / "overviews" / "_SUCCESS").exists()
    assert res.stitched.storageLevel == StorageLevel.NONE


def _python_tasks(spark, jobs) -> int:
    """Tasks that ran a Python kernel: tasks of a stage with a Python
    plan node in its RDD graph that read their input from a shuffle. A
    task whose stage finds the stitch cached reads it from the block
    manager and no shuffle records, so it is not counted."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def names(cluster):
        out = [cluster.name()] + [n.name() for n in _seq(cluster.childNodes())]
        for c in _seq(cluster.childClusters()):
            out += names(c)
        return out

    n = 0
    for sid in sorted({int(s) for j in jobs for s in _seq(j.stageIds())}):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stages have no attempt
            continue
        graph = store.operationGraphForStage(sid).rootCluster()
        if not any(PYTHON_NODE.search(x) for x in names(graph)):
            continue
        for t in _seq(store.taskList(sid, st.attemptId(), 100000)):
            m = t.taskMetrics()
            n += m.isDefined() and m.get().shuffleReadMetrics().recordsRead() > 0
    return n


def test_warm_mosaic_runs_one_python_task_per_stitch_partition(spark, tmp_path):
    """A warm do_mosaic + write_mosaic on grid3x3(300, 300), blocksize
    64, runs the stitch kernel in exactly stitch_partitions tasks: an
    extra Python stage, or a sink that stitches again, fails this."""
    rasters = synth.grid3x3(300, 300)
    fp = to_footprints(spark, synth.footprints_pdf(rasters)).cache()
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256)).cache()
    cfg = MosaicConfig(blocksize=64, min_overview_size=32)
    try:
        write_mosaic(do_mosaic(spark, fp, blocks, cfg), str(tmp_path / "cold"))
        last = _last_job_id(spark)
        res = do_mosaic(spark, fp, blocks, cfg)
        write_mosaic(res, str(tmp_path / "warm"))
        jobs = _jobs_since(spark, last)
    finally:
        fp.unpersist(), blocks.unpersist()
    assert res.levels
    assert _python_tasks(spark, jobs) == stitch_partitions(spark, res.grid, 64) == 4
