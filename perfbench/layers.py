"""Per-layer metrics of the traced run, with the end-to-end metric and
workload each one should move and the workload where it should not.

Layer names follow the engine's modules. ``METRICS`` is the single list
of per-layer metrics: the traced run prints exactly these, and
BENCHMARK.json's ``per_layer`` mirrors it (a self-test keeps the two
equal). A metric of a layer the workload does not run reads 0 and is
listed as not applicable in the human-readable output.
"""

from __future__ import annotations

import statistics

from probes import SparkStatus, Tracer, dir_stats, union_seconds

ALL = "every workload"
MOSAICS = ("mosaic_cold", "mosaic_repeat", "mosaic_incremental")

# name, unit, better, layer (module), moves (metric on workloads), holds (no change on)
METRICS = [
    ("session.start_s", "s", "lower", "session", "setup_s on " + ALL, "-"),
    ("session.warmup_s", "s", "lower", "session", "setup_s on " + ALL, "-"),
    ("mosaic.plan_s", "s", "lower", "mosaic",
     "wall_s on mosaic_incremental, mosaic_repeat", "mosaic_cold (little)"),
    ("mosaic.jobs", "count", "lower", "mosaic",
     "wall_s on mosaic_incremental, mosaic_repeat", "mosaic_cold (little)"),
    ("driver.gap_s", "s", "lower", "mosaic",
     "wall_s on mosaic_incremental, mosaic_repeat", "mosaic_cold (little)"),
    ("spatial_join.s", "s", "lower", "plans.spatial_join",
     "tiles_per_s on mosaic_cold; wall_s on mosaic_incremental", "mosaic_repeat"),
    ("spatial_join.rows", "count", "lower", "plans.spatial_join",
     "tiles_per_s on mosaic_cold; wall_s on mosaic_incremental", "mosaic_repeat"),
    ("spatial_join.max_contributors", "count", "lower", "plans.spatial_join",
     "tiles_per_s on mosaic_cold; wall_s on mosaic_incremental", "mosaic_repeat"),
    ("shuffle.write_mb", "MB", "lower", "mosaic (chunk clip + stitch Exchange)",
     "tiles_per_s on mosaic_cold", "mosaic_repeat"),
    ("shuffle.read_mb", "MB", "lower", "mosaic (chunk clip + stitch Exchange)",
     "tiles_per_s on mosaic_cold", "mosaic_repeat"),
    ("shuffle.records", "count", "lower", "mosaic (chunk clip + stitch Exchange)",
     "tiles_per_s on mosaic_cold", "mosaic_repeat"),
    ("shuffle.spill_mb", "MB", "lower", "mosaic (chunk clip + stitch Exchange)",
     "tiles_per_s on mosaic_cold", "mosaic_repeat"),
    ("shuffle.fetch_wait_s", "s", "lower", "mosaic (chunk clip + stitch Exchange)",
     "tiles_per_s on mosaic_cold", "mosaic_repeat"),
    ("stitch.input_bytes_per_output_byte", "ratio", "lower", "mosaic (chunk clip)",
     "tiles_per_s on mosaic_cold", "mosaic_repeat"),
    ("stitch.to_python_mb", "MB", "lower", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("stitch.from_python_mb", "MB", "lower", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("stitch.python_start_s", "s", "lower", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("stitch.python_run_s", "s", "lower", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("stitch.tasks", "count", "higher", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("stitch.task_skew", "ratio", "lower", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("stitch.kernel_tiles_per_s_p1", "1/s", "higher", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("stitch.ceiling_frac", "ratio", "higher", "operators.stitch",
     "tiles_per_s on mosaic_repeat, then mosaic_cold", "terrain_derived"),
    ("relayout.build_s", "s", "lower", "sources.relayout",
     "setup_s on mosaic_repeat", "mosaic_cold"),
    ("relayout.files", "count", "lower", "sources.relayout",
     "setup_s and wall_s on mosaic_repeat", "mosaic_cold"),
    ("relayout.table_mb", "MB", "lower", "sources.relayout",
     "setup_s and wall_s on mosaic_repeat", "mosaic_cold"),
    ("sink.s", "s", "lower", "mosaic.write_mosaic / write_derived",
     "wall_s on every mosaic workload", "-"),
    ("sink.mb", "MB", "lower", "mosaic.write_mosaic / write_derived",
     "wall_s on every mosaic workload", "-"),
    ("sink.files", "count", "lower", "mosaic.write_mosaic / write_derived",
     "wall_s on every mosaic workload", "-"),
    ("incremental.touched_tiles", "count", "lower", "streaming.incremental",
     "wall_s, wall_s_tail on mosaic_incremental", "mosaic_cold"),
    ("incremental.rows_rewritten", "count", "lower", "streaming.incremental",
     "wall_s, wall_s_tail on mosaic_incremental", "mosaic_cold"),
    ("incremental.write_amp", "ratio", "lower", "streaming.incremental",
     "wall_s, wall_s_tail on mosaic_incremental", "mosaic_cold"),
    ("incremental.jobs_per_batch", "count", "lower", "streaming.incremental",
     "wall_s, wall_s_tail on mosaic_incremental", "mosaic_cold"),
    ("docs.rank_s", "s", "lower", "sources.docs",
     "wall_s, wall_s_tail on mosaic_incremental", "mosaic_cold"),
    ("focal.s", "s", "lower", "functions.focal",
     "wall_s, mpx_per_s on terrain_derived", "mosaic workloads"),
    ("focal.shuffle_mb", "MB", "lower", "functions.focal",
     "wall_s, mpx_per_s on terrain_derived", "mosaic workloads"),
    ("hydro.s", "s", "lower", "functions.hydro",
     "wall_s, mpx_per_s on terrain_derived", "mosaic workloads"),
    ("hydro.jobs", "count", "lower", "functions.hydro",
     "wall_s, mpx_per_s on terrain_derived", "mosaic workloads"),
    ("hydro.shuffle_mb", "MB", "lower", "functions.hydro",
     "wall_s, mpx_per_s on terrain_derived", "mosaic workloads"),
    ("hydro.basins", "count", "lower", "functions.hydro",
     "context: work size of the pointer-doubling loop", "-"),
    ("host.memcpy_gbps", "GB/s", "higher", "host", "context only, never gated", "-"),
    ("host.steal_frac", "ratio", "lower", "host", "context only, never gated", "-"),
    ("trace.coverage_frac", "ratio", "higher", "benchmark",
     "share of traced unit wall time inside layer spans", "-"),
    ("trace.overhead_frac", "ratio", "lower", "benchmark",
     "traced unit wall over untraced unit wall, minus 1", "-"),
]
UNITS = {m[0]: m[1] for m in METRICS}
WHERE = {n: f"layer {layer}; moves {moves}; no change on {holds}"
         for n, _, _, layer, moves, holds in METRICS}

PYTHON_NODES = r"FlatMapGroupsInArrow|FlatMapGroupsInPandas"


def _spans(tr: Tracer, name: str) -> list[dict]:
    return [s for s in tr.spans if s["name"] == name]


class Attribution:
    """Jobs and stages of spans, from the status store. A stage belongs
    to a span when one of the span's jobs lists it AND it was submitted
    inside the span — a reused shuffle's stage is not counted twice."""

    def __init__(self, tr: Tracer, status: SparkStatus):
        self.tr = tr
        self.status = status
        self.groups = status.jobs_by_group()

    def jobs(self, sp: dict) -> list:
        return [j for i in self.tr.subtree_ids(sp) for j in self.groups.get(self.tr.group(i), [])]

    def stages(self, sp: dict) -> list:
        out = []
        for st in self.status.stages(self.jobs(sp)):
            iv = self.status.stage_interval(st)
            if iv and sp["epoch_ms"] / 1e3 - 0.05 <= iv[0] <= sp["epoch_end_ms"] / 1e3 + 0.05:
                out.append(st)
        return out

    def busy_s(self, sp: dict) -> float:
        ivs = [self.status.stage_interval(s) for s in self.stages(sp)]
        return union_seconds([iv for iv in ivs if iv])

    def shuffle(self, spans: list[dict]) -> dict:
        st = [s for sp in spans for s in self.stages(sp)]
        return {
            "write_mb": sum(s.shuffleWriteBytes() for s in st) / 1e6,
            "read_mb": sum(s.shuffleReadBytes() for s in st) / 1e6,
            "records": float(sum(s.shuffleWriteRecords() for s in st)),
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in st) / 1e6,
            "fetch_wait_s": sum(s.shuffleFetchWaitTime() for s in st) / 1e3,
        }

    def heaviest_stage(self, spans: list[dict]):
        st = [s for sp in spans for s in self.stages(sp)]
        return max(st, key=lambda s: s.executorRunTime(), default=None)


def _python_metrics(raw: dict) -> dict:
    out = {"to": 0.0, "from": 0.0, "start": 0.0, "run": 0.0}
    for name, v in raw.items():
        n = name.lower()
        if "sent to python" in n:
            out["to"] += v
        elif "returned from python" in n:
            out["from"] += v
        elif "start" in n or "initialize" in n or "boot" in n:
            out["start"] += v
        elif "run python" in n or "execution" in n:
            out["run"] += v
    return out


def compute(wl, tr: Tracer, status: SparkStatus, ctx: dict) -> tuple[dict, list[str]]:
    """Every metric of METRICS for the traced run of ``wl``, and the
    names that do not apply to it. The host controls are filled in by
    the caller."""
    att = Attribution(tr, status)
    m = {name: 0.0 for name, *_ in METRICS}
    applies = {"session.start_s", "session.warmup_s", "host.memcpy_gbps",
               "host.steal_frac", "trace.coverage_frac", "trace.overhead_frac"}
    units = _spans(tr, "unit")
    m["session.start_s"] = ctx["session_s"]
    m["session.warmup_s"] = ctx["warmup_s"]
    m["trace.coverage_frac"] = statistics.median(tr.coverage(u) for u in units)
    traced = statistics.median(tr.wall(u) for u in units)
    m["trace.overhead_frac"] = traced / statistics.median(ctx["untraced_s"]) - 1.0

    if wl.name in MOSAICS:
        per_unit = len(units)
        m["mosaic.jobs"] = sum(
            len(att.jobs(u)) - sum(len(att.jobs(s)) for s in _spans(tr, "spatial_join")
                                   if s["parent"] == u["id"])
            for u in units) / per_unit
        m["driver.gap_s"] = statistics.median(tr.wall(u) - att.busy_s(u) for u in units)
        applies |= {"mosaic.jobs", "driver.gap_s"}
        stitch_spans = _spans(tr, "stitch") or _spans(tr, "incremental.batch")
        sh = att.shuffle(stitch_spans)
        for k, v in sh.items():
            m[f"shuffle.{k}"] = v / len(stitch_spans)
        applies |= {f"shuffle.{k}" for k in sh}
        py = _python_metrics(ctx["python_sql"])
        n = max(1, len(stitch_spans))
        m["stitch.to_python_mb"] = py["to"] / n
        m["stitch.from_python_mb"] = py["from"] / n
        m["stitch.python_start_s"] = py["start"] / n
        m["stitch.python_run_s"] = py["run"] / n
        out_mb = ctx["output_pixel_mb"]
        m["stitch.input_bytes_per_output_byte"] = m["stitch.to_python_mb"] / out_mb
        heavy = att.heaviest_stage(stitch_spans)
        if heavy is not None:
            d = status.task_durations(heavy)
            m["stitch.tasks"] = float(heavy.numTasks())
            m["stitch.task_skew"] = max(d) / max(statistics.median(d), 1e-3) if d else 0.0
        applies |= {"stitch.to_python_mb", "stitch.from_python_mb", "stitch.python_start_s",
                    "stitch.python_run_s", "stitch.input_bytes_per_output_byte",
                    "stitch.tasks", "stitch.task_skew"}

    if wl.name in ("mosaic_cold", "mosaic_repeat"):
        m["mosaic.plan_s"] = statistics.median(tr.wall(s) for s in _spans(tr, "mosaic.plan"))
        m["stitch.kernel_tiles_per_s_p1"] = ctx["p1_tiles_per_s"]
        m["stitch.ceiling_frac"] = ctx["tiles_per_s"] / (ctx["p1_tiles_per_s"] * ctx["cores"])
        m["sink.s"] = statistics.median(tr.wall(s) for s in _spans(tr, "sink"))
        m["sink.files"], m["sink.mb"] = map(float, dir_stats(wl.out))
        applies |= {"mosaic.plan_s", "stitch.kernel_tiles_per_s_p1", "stitch.ceiling_frac",
                    "sink.s", "sink.files", "sink.mb"}
    if wl.name == "mosaic_cold":
        sj = _spans(tr, "spatial_join")
        m["spatial_join.s"] = statistics.median(tr.wall(s) for s in sj)
        m["spatial_join.rows"] = float(ctx["counts"][-1]["rows"])
        m["spatial_join.max_contributors"] = float(ctx["counts"][-1]["max_contributors"])
        applies |= {"spatial_join.s", "spatial_join.rows", "spatial_join.max_contributors"}
    if wl.name == "mosaic_repeat":
        m["relayout.build_s"] = ctx["build_s"]
        m["relayout.files"], m["relayout.table_mb"] = map(float, dir_stats(ctx["relayout_dir"]))
        applies |= {"relayout.build_s", "relayout.files", "relayout.table_mb"}
    if wl.name == "mosaic_incremental":
        batches = _spans(tr, "incremental.batch")
        c = {k: sum(d[k] for d in ctx["counts"]) for k in ("touched", "rewritten")}
        m["incremental.touched_tiles"] = c["touched"] / len(batches)
        m["incremental.rows_rewritten"] = c["rewritten"] / len(batches)
        m["incremental.write_amp"] = c["rewritten"] / max(c["touched"], 1)
        m["incremental.jobs_per_batch"] = sum(len(att.jobs(b)) for b in batches) / len(batches)
        m["mosaic.jobs"] = m["incremental.jobs_per_batch"]
        m["docs.rank_s"] = statistics.median(tr.wall(s) for s in _spans(tr, "docs.rank"))
        m["sink.files"], m["sink.mb"] = map(float, dir_stats(wl.sink))
        applies |= {"incremental.touched_tiles", "incremental.rows_rewritten",
                    "incremental.write_amp", "incremental.jobs_per_batch", "docs.rank_s",
                    "sink.files", "sink.mb"}
    if wl.name == "terrain_derived":
        focal, hydro, sink = _spans(tr, "focal"), _spans(tr, "hydro"), _spans(tr, "sink")
        m["focal.s"] = statistics.median(tr.wall(s) for s in focal)
        m["focal.shuffle_mb"] = att.shuffle(focal)["write_mb"] / len(focal)
        m["hydro.s"] = statistics.median(tr.wall(s) for s in hydro)
        m["hydro.jobs"] = sum(len(att.jobs(s)) for s in hydro) / len(hydro)
        m["hydro.shuffle_mb"] = att.shuffle(hydro + sink)["write_mb"] / len(hydro)
        m["hydro.basins"] = float(ctx["counts"][-1]["basins"])
        m["sink.s"] = statistics.median(tr.wall(s) for s in sink)
        m["sink.files"], m["sink.mb"] = map(float, dir_stats(wl.out))
        m["driver.gap_s"] = statistics.median(tr.wall(u) - att.busy_s(u) for u in units)
        applies |= {"focal.s", "focal.shuffle_mb", "hydro.s", "hydro.jobs", "hydro.shuffle_mb",
                    "hydro.basins", "sink.s", "sink.files", "sink.mb", "driver.gap_s"}
    return m, sorted(set(m) - applies)
