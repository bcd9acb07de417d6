#!/usr/bin/env python3
"""Outside-in benchmark of the moamosaic_spark engine.

    python3 perfbench/run.py --workload mosaic_cold --seed 1 --seconds 5 --trace 0

Runs one workload on a ``local[nproc]`` session, builds its corpus from
``--seed``, checks every output against a numpy oracle, and prints each
metric by name with its unit. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` measures the end-to-end metrics (``E2E``) with tracing
off. ``--trace 1`` is the separate traced run: it drives the same work
step by step with one span per layer, reads Spark's status store and
SQL metrics, and reports the per-layer metrics of ``layers.METRICS``.
A traced run also drives its workload's companions (``COMPANIONS``) on
the same session, so that the layers only they reach are measured too.

Set-up (``setup_s``): the session start (JVM launch, SparkSession,
worker import, input open), then the workload's preparation (the
relayout table build of ``mosaic_repeat``) and ``WARMUP_UNITS`` units
that take the JIT, Python-worker and Arrow warm-up. Corpus generation
and the oracle are not part of it. Then units of work run until
``--seconds`` of timed work have been done (and at least ``MIN_UNITS``).
One warm-up unit takes the worker start and the bulk of the JIT (the
first mosaic of a JVM takes 2-4 times a later one); JIT tiering keeps
later units falling by a few percent each for about ten more, which no
run can afford, so every run measures the same units of the curve.
Set-up is done once per run: one set-up (a JVM launch, a table build,
a cold mosaic) takes 20-45 s on 4 cores, more than half of a run, and
a series of runs per workload must stay short. The median over runs
steadies it.

Everything the run writes stays under ``perfbench/.work`` of the
checkout it runs from. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WARMUP_UNITS = 1
MIN_UNITS = 2
HARD_CAP_S = 120.0      # stop measuring past this much run time
COMPANION_BUDGET_S = 90.0  # a traced run starts no companion past this much run time
E2E = {"setup_s": "s", "wall_s": "s", "wall_s_tail": "s", "tiles_per_s": "1/s",
       "mpx_per_s": "Mpx/s", "peak_rss_mb": "MB"}
COMPANIONS = {"mosaic_cold": ["mosaic_incremental"], "mosaic_repeat": ["terrain_derived"]}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_dirs() -> None:
    """Fresh scratch dirs for this run; the corpus cache is kept."""
    for d in ("tmp", "local", "warehouse", "out", "trace"):
        shutil.rmtree(WORK / d, ignore_errors=True)
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    # for every JVM, the spark-submit launcher's included: no /tmp writes
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def session():
    from moamosaic_spark.session import ensure_workers_can_import, get_spark

    n = cores()
    spark = get_spark(
        f"local[{n}]", app_name="perfbench", shuffle_partitions=max(n, 8),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": str(WORK / "local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # the heap is committed up front, so peak RSS does not hang
            # on when the collector decides to grow it
            "spark.driver.extraJavaOptions": "-Xms2g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_workers_can_import(spark)
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until it has exited (its
    Python worker daemon exits with it); a later ``session()`` then
    launches a fresh JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class Run:
    """Counts of one benchmark run: units attempted, units failed (an
    exception or an output that differs from the oracle)."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def unit(self, wl, k: int, step=None) -> tuple[float, dict | None]:
        """Run unit ``k`` (``step`` is the traced variant), then check
        its output outside the timing. Returns (seconds, result), with
        result None when the unit failed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            r = step(k) if step else wl.unit(k)
        except Exception as e:  # a failed unit is counted, the run goes on
            self.failed += 1
            self.notes.append(f"{wl.name} unit {k}: {type(e).__name__}: {e}"[:300])
            return time.perf_counter() - t, None
        dt = time.perf_counter() - t
        fails = wl.check(k)
        if fails:
            self.failed += 1
            self.notes.append(f"{wl.name} unit {k}: " + "; ".join(fails[:3]))
        return dt, r

    def setup(self, wl):
        """Session start (fresh JVM) + input open, then prepare and
        warm-up; returns the live session, the timings and the next
        unit index."""
        t = time.perf_counter()
        spark = session()
        wl.open(spark)
        start = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        for k in range(WARMUP_UNITS):
            self.unit(wl, k)
        warm = time.perf_counter() - t
        st = {"setup_s": start + warm, "session_s": start, "warmup_s": warm,
              "build_s": wl.build_s}
        return spark, st, round_up(WARMUP_UNITS, wl.unit_multiple)

    def measure(self, wl, k0: int, seconds: float, started: float):
        walls, tiles, mpx = [], [], []
        k = k0
        while True:
            dt, r = self.unit(wl, k)
            k += 1
            if r is not None:
                walls.append(dt)
                tiles.append(r["tiles"] / dt)
                mpx.append(r["mpx"] / dt)
            done = sum(walls) >= seconds and len(walls) >= MIN_UNITS
            if (done and (k - k0) % wl.unit_multiple == 0) or \
                    time.perf_counter() - started > HARD_CAP_S:
                return walls, tiles, mpx


def round_up(n: int, multiple: int) -> int:
    return -(-n // multiple) * multiple


def tail(walls: list[float]) -> tuple[float, str]:
    """The highest percentile the sample count supports: with a handful
    of samples, the largest one."""
    return max(walls), f"largest of {len(walls)} units"


def host_lines(host0) -> tuple[list[str], float, float]:
    """In-band host controls, taken before the run (``host0``) and now."""
    import probes

    gb1, cpu1 = probes.memcpy_gbps(), probes.cpu_times()
    steal = probes.steal_frac(host0[1], cpu1)
    return ([f"host.memcpy_gbps before = {host0[0]:.2f} GB/s, after = {gb1:.2f} GB/s",
             f"host.steal_frac = {steal:.4f} (CPU steal share over the run, /proc/stat)"],
            statistics.median([host0[0], gb1]), steal)


def main(argv=None) -> int:
    args = parse(argv)
    started = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    try:
        import moamosaic_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    prepare_dirs()
    import probes

    wl = WORKLOADS[args.workload](args.seed, WORK, WORK / "cache")
    run = Run(args)
    host0 = (probes.memcpy_gbps(), probes.cpu_times())
    spark, st, k = run.setup(wl)
    try:
        if args.trace:
            metrics, lines = traced(run, wl, spark, st, k, started, host0)
        else:
            metrics, lines = untraced(run, wl, spark, st, k, started, host0)
        caught = wl.control()
        lines.append(f"negative_control = {'caught' if caught else 'MISSED'} "
                     "(one corrupted pixel in one output tile)")
    finally:
        shutdown(spark)
    correct = run.failed == 0 and caught
    lines.append(f"fail_frac = {run.failed / run.attempted:.4f} "
                 f"({run.failed} of {run.attempted} units failed or differ from the oracle)")
    for line in lines + run.notes:
        print(line)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


def untraced(run, wl, spark, st, k, started, host0):
    import probes

    walls, tiles, mpx = run.measure(wl, k, run.args.seconds, started)
    if not walls:
        raise RuntimeError(f"every measured unit of {wl.name} failed: {run.notes[:3]}")
    tail_v, tail_label = tail(walls)
    metrics = {
        "setup_s": st["setup_s"],
        "wall_s": statistics.median(walls),
        "wall_s_tail": tail_v,
        "tiles_per_s": statistics.median(tiles),
        "mpx_per_s": statistics.median(mpx),
        "peak_rss_mb": probes.peak_rss_mb(jvm_pid(spark)),
    }
    lines = [f"workload = {wl.name}  seed = {run.args.seed}  cores = {cores()}  "
             f"units = {len(walls)}  corpus = {len(wl.rasters)} rasters, "
             f"{wl.mpx:.2f} Mpx, {len(wl.tile_index)} tiles"]
    lines += [f"{n} = {v:.6g} {E2E[n]}" for n, v in metrics.items()]
    lines.append(f"wall_s_tail is the {tail_label}; unit walls = "
                 + ", ".join(f"{x:.3f}" for x in walls) + " s")
    lines.append(f"setup_s = session start ({st['session_s']:.3f} s) "
                 f"+ prepare and warm-up ({st['warmup_s']:.3f} s)")
    if st["build_s"] is not None:
        lines.append(f"build_s = {st['build_s']:.6g} s (the table-building call, in setup_s)")
    lines += host_lines(host0)[0]
    return {n: (v, E2E[n]) for n, v in metrics.items()}, lines


def trace_workload(run, wl, spark, k: int, st: dict, n_untraced: int):
    """``n_untraced`` untraced reference passes around one traced pass
    of ``wl`` (a pass is ``unit_multiple`` units) with its own tracer;
    returns (metrics, not applicable, tracer)."""
    import layers
    import probes

    um = wl.unit_multiple
    untraced_s, tiles = [], []

    def untraced_passes(n: int, k: int) -> int:
        for _ in range(n * um):
            dt, r = run.unit(wl, k)
            k += 1
            if r is not None:
                untraced_s.append(dt)
                tiles.append(r["tiles"] / dt)
        return k

    # the untraced reference passes bracket the traced one, so the
    # tracing overhead is not confused with the warm-up still going on
    k = untraced_passes(-(-n_untraced // 2), k)
    status = probes.SparkStatus(spark)
    tr = probes.Tracer(spark.sparkContext, prefix=wl.name)
    lo = status.max_execution_id()
    counts = []
    for _ in range(um):
        _, c = run.unit(wl, k, step=lambda k: wl.traced_unit(k, tr))
        counts.append(c or {})
        if wl.name == "mosaic_incremental":
            with tr.span("docs.rank"):
                wl.rank_probe(k)
        k += 1
    hi = status.max_execution_id()
    untraced_passes(n_untraced // 2, k)
    ctx = dict(st, untraced_s=untraced_s, counts=counts, cores=cores(),
               tiles_per_s=statistics.median(tiles),
               python_sql=status.python_node_metrics(lo, hi, layers.PYTHON_NODES))
    g = wl.oracle.grid
    ctx["output_pixel_mb"] = (
        sum(c.get("touched", 0) for c in counts) / um * wl.shape.tile ** 2 * 2 / 1e6
        if wl.name == "mosaic_incremental" else g.nrows * g.ncols * 2 / 1e6
    )
    if wl.name in ("mosaic_cold", "mosaic_repeat"):
        ctx["p1_tiles_per_s"] = wl.kernel_rate_p1()
    if wl.name == "mosaic_repeat":
        ctx["relayout_dir"] = WORK / "warehouse" / wl.table
    m, na = layers.compute(wl, tr, status, ctx)
    tr.dump(WORK / "trace" / f"{wl.name}-{run.args.seed}.json")
    return m, na, tr


def traced(run, wl, spark, st, k, started, host0):
    """The traced run of ``wl`` and of its companions on the same
    session. A metric takes its value from the first of them it
    applies to. A companion that would start past ``COMPANION_BUDGET_S``
    is skipped, so that the run ends within its time limit on a slow
    host; its layers are then listed as not read."""
    import layers
    from workloads import WORKLOADS

    m, na, tr = trace_workload(run, wl, spark, k, st, n_untraced=2)
    lines = [f"workload = {wl.name}  seed = {run.args.seed}  traced run  "
             f"spans = {len(tr.spans)}"]
    for name in COMPANIONS.get(wl.name, []):
        at = time.perf_counter() - started
        if at > COMPANION_BUDGET_S:
            lines.append(f"companion {name}: skipped, the run is at {at:.0f} s, "
                         f"past the {COMPANION_BUDGET_S:.0f} s budget; its layers read 0")
            continue
        c = WORKLOADS[name](run.args.seed, WORK, WORK / "cache")
        c.open(spark)
        c.prepare()
        cm, cna, ctr = trace_workload(run, c, spark, 0, st, n_untraced=1)
        took = sorted(n for n in na if n not in cna)
        for n in took:
            m[n] = cm[n]
        na = sorted(set(na) & set(cna))
        lines.append(f"companion {name}: spans = {len(ctr.spans)}, "
                     f"coverage = {cm['trace.coverage_frac']:.4f}, "
                     f"overhead = {cm['trace.overhead_frac']:.4f}; measured there: "
                     + ", ".join(took))
    hl, m["host.memcpy_gbps"], m["host.steal_frac"] = host_lines(host0)
    lines += [f"{n} = {v:.6g} {layers.UNITS[n]}" + ("  (n/a)" if n in na else "")
              + f"  [{layers.WHERE[n]}]" for n, v in m.items()]
    lines += hl
    lines.append("not applicable on this workload or its companions (reported as 0): "
                 + (", ".join(na) or "none"))
    lines.append(f"spans written to {WORK / 'trace'}")
    return {n: (v, layers.UNITS[n]) for n, v in m.items()}, lines


if __name__ == "__main__":
    sys.exit(main())
