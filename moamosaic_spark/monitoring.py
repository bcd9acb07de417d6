"""Run monitoring — the reference's Monitoring/Timestamps/MinMax
(monitoring.py:10-217) re-expressed for Spark runs.

* phase spans: named start/end timestamps with a context manager, JSON
  report (reference monitoring.py:64-113; consumed by doMosaic's phase
  timers, mosaic.py:176-205).
* aggregates over spans (reference monitoring.py:114-211):
  - total seconds by name prefix
  - wall-clock union of overlapping spans — the sweep-line over sorted
    start/end events, here as the classic gaps-and-islands window query
    (sum of +1/-1 events ordered by time), usable on any interval table
  - average duration, percent-overlap per group
* engine metrics: tiles/sec etc. appended to a metrics table next to
  the mosaic sink (the north rule's metrics checkpoint).

The reference's min/max cache+queue gauges (monitoring.py:33-49) have
no analog — the shuffle replaced the cache/queue — their closest
equivalents are Spark's own shuffle metrics, surfaced per-run here via
``df.observe`` hooks where callers want them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


class Monitoring:
    """Phase timing + params, mirroring the reference's report shape."""

    def __init__(self) -> None:
        self.params: dict = {}
        self.spans: list[dict] = []

    def set_param(self, name, value) -> None:
        self.params[name] = value

    @contextmanager
    def ctx(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": t0, "end": time.time()})

    def report_as_dict(self) -> dict:
        return {
            "params": self.params,
            "spans": self.spans,
            "total_by_name": self.total_by_name(),
            "wallclock_union": self.wallclock_union(),
        }

    def total_by_name(self) -> dict:
        out: dict = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"])
        return {k: round(v, 4) for k, v in out.items()}

    def wallclock_union(self) -> float:
        """Sweep-line union of all spans (reference monitoring.py:128-158)."""
        events = sorted(
            [(s["start"], 1) for s in self.spans] + [(s["end"], -1) for s in self.spans]
        )
        total, depth, open_t = 0.0, 0, None
        for t, d in events:
            if depth == 0 and d == 1:
                open_t = t
            depth += d
            if depth == 0 and d == -1:
                total += t - open_t
        return round(total, 4)

    def dump_json(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.report_as_dict(), f, indent=2)


def interval_union_seconds(
    df: DataFrame, start_col: str, end_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Distributed sweep-line: wall-clock union of possibly-overlapping
    intervals, per group — the reference's uniqueTime aggregate
    (monitoring.py:128-158) as the gaps-and-islands window pattern:
    running sum of +1/-1 events finds island boundaries; summing
    island extents gives the union."""
    group_cols = group_cols or []
    s = df.select(
        *group_cols, F.col(start_col).alias("ts"), F.lit(1).alias("delta")
    )
    e = df.select(
        *group_cols, F.col(end_col).alias("ts"), F.lit(-1).alias("delta")
    )
    ev = s.unionByName(e)
    w = Window.partitionBy(*group_cols).orderBy("ts", F.col("delta").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    depth = F.sum("delta").over(w)
    ev = ev.withColumn("depth", depth)
    # an island closes where depth returns to 0; open where it leaves 0
    w2 = Window.partitionBy(*group_cols).orderBy("ts", F.col("delta").desc())
    prev_depth = F.lag("depth", 1, 0).over(w2)
    ev = ev.withColumn(
        "island_start", F.when((F.col("depth") == 1) & (prev_depth == 0), F.col("ts"))
    )
    ev = ev.withColumn(
        "open_ts",
        F.last("island_start", ignorenulls=True).over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    closes = ev.where(F.col("depth") == 0)
    agg_cols = [F.sum(F.col("ts") - F.col("open_ts")).alias("union_seconds")]
    if group_cols:
        return closes.groupBy(*group_cols).agg(*agg_cols)
    return closes.agg(*agg_cols)


@contextmanager
def named_action(spark: SparkSession, description: str):
    """Give the block's driver actions (jobs, SQL executions) this
    ``description``, then restore the caller's: a traced span sets its own."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def observe_gauges(df: DataFrame, name: str = "stitch_input"):
    """A5 analog of the reference's MinMax cache/queue gauges
    (monitoring.py:33-49): those measured reader->writer backpressure
    through the block queue; the shuffle replaced the queue, so the
    observable analog is the volume crossing it. Attach to the relation
    feeding the stitch (or any shuffle boundary); after an action,
    ``obs.get`` yields {rows, min_chunk_px, max_chunk_px, sum_px}.

    Usage:
        work, obs = observe_gauges(work)
        ... run the job ...
        mon.set_param("gauges_stitch_input", obs.get)
    """
    from pyspark.sql import Observation

    from .pixels import pixel_count

    obs = Observation(name)
    npx = pixel_count(F.col("pixels"))
    d = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.min(npx).alias("min_chunk_px"),
        F.max(npx).alias("max_chunk_px"),
        F.sum(npx).alias("sum_px"),
    )
    return d, obs


def append_metrics(
    spark: SparkSession,
    out_path: str,
    run_id: str,
    metrics: dict,
) -> None:
    """Append one metrics row (tiles/sec and friends) to the sink's
    metrics table — the north rule's per-run metrics checkpoint."""
    row = {
        "run_id": run_id,
        "ts": time.time(),
        **{k: float(v) for k, v in metrics.items()},
    }
    spark.createDataFrame([row]).write.mode("append").parquet(f"{out_path}/metrics")
