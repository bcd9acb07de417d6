"""Monitoring: phase spans, sweep-line wall-clock union (driver-side and
the distributed window-function variant), metrics append."""

import time

from moamosaic_spark.monitoring import Monitoring, interval_union_seconds


def test_phase_spans_and_union():
    m = Monitoring()
    m.set_param("blocksize", 64)
    with m.ctx("a"):
        time.sleep(0.02)
    with m.ctx("a"):
        time.sleep(0.02)
    with m.ctx("b"):
        time.sleep(0.01)
    rep = m.report_as_dict()
    assert rep["params"]["blocksize"] == 64
    assert rep["total_by_name"]["a"] >= 0.04
    assert rep["total_by_name"]["b"] >= 0.01
    # spans are sequential -> union == sum of all
    assert abs(rep["wallclock_union"] - sum(rep["total_by_name"].values())) < 0.01


def test_wallclock_union_overlapping():
    m = Monitoring()
    m.spans = [
        {"name": "x", "start": 0.0, "end": 10.0},
        {"name": "y", "start": 5.0, "end": 15.0},   # overlaps x
        {"name": "z", "start": 20.0, "end": 25.0},  # disjoint
    ]
    assert m.wallclock_union() == 20.0  # [0,15] + [20,25]


def test_interval_union_distributed(spark):
    rows = [
        ("g1", 0.0, 10.0), ("g1", 5.0, 15.0), ("g1", 20.0, 25.0),
        ("g2", 1.0, 2.0), ("g2", 2.0, 3.0),  # touching -> merged
    ]
    df = spark.createDataFrame(rows, "grp string, s double, e double")
    out = {r.grp: r.union_seconds for r in
           interval_union_seconds(df, "s", "e", ["grp"]).collect()}
    assert out["g1"] == 20.0
    assert out["g2"] == 2.0


def test_metrics_append(spark, tmp_path):
    from moamosaic_spark.monitoring import append_metrics

    out = str(tmp_path / "sink")
    append_metrics(spark, out, "run1", {"tiles_per_sec": 5.0, "tiles": 100})
    append_metrics(spark, out, "run2", {"tiles_per_sec": 7.0, "tiles": 100})
    m = spark.read.parquet(f"{out}/metrics")
    assert m.count() == 2
    assert {r.run_id for r in m.collect()} == {"run1", "run2"}


def test_observe_gauges(spark):
    """A5 gauge analog: volumes crossing the stitch shuffle, surfaced
    per run via df.observe."""
    from moamosaic_spark.monitoring import observe_gauges
    import pyspark.sql.functions as F

    from moamosaic_spark.pixels import encode

    df = spark.createDataFrame(
        [(1, encode(range(4))), (2, encode(range(7))), (3, encode(range(2)))],
        "id int, pixels binary",
    )
    d, obs = observe_gauges(df, "t")
    d.agg(F.count("*")).collect()
    g = obs.get
    assert g["rows"] == 3
    assert g["min_chunk_px"] == 2 and g["max_chunk_px"] == 7 and g["sum_px"] == 13
