"""The four benchmark workloads.

BENCHMARK.json lists ``mosaic_cold`` and ``mosaic_repeat``: one runs the
spatial join and the stitch shuffle, the other bypasses both. A run of
each takes tens of seconds of JVM start and warm-up, so two workloads
are what a full measurement series can afford. ``mosaic_incremental``
and ``terrain_derived`` run on their own with the same command, and the
traced runs of the first two drive them as companions
(``run.COMPANIONS``), so their layers are measured there too.

Each workload owns its seeded corpus and oracle (built before any
timing starts) and exposes:

- ``open(spark)``: open the staged inputs on a fresh session (timed
  as part of set-up);
- ``prepare()``: build whatever state the workload stitches from, once,
  on the session that is then measured (timed as part of set-up);
- ``unit(k)``: one unit of user work (timed); returns the unit's
  output tile count and input megapixels;
- ``check(k)``: compare the unit's output with the oracle (untimed);
- ``control()``: the negative control — a corrupted copy of the last
  output must fail the same comparison;
- ``traced_unit(k, tracer)``: the same work driven step by step, one
  span per layer.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import oracles
from corpus import RES, SHAPES


class Workload:
    name = ""
    kind = ""
    unit_multiple = 1   # the measured loop ends on a multiple of this

    def __init__(self, seed: int, work: Path, cache: Path):
        from moamosaic_spark.sources import synth

        self.seed = seed
        self.work = work
        self.shape = SHAPES[self.kind]
        self.rasters, self.inputs = corpus.stage(self.kind, seed, cache)
        self.oracle = synth.oracle(
            corpus.to_synth(self.rasters), blocksize=self.shape.tile,
            min_overview_size=self.shape.min_overview,
        )
        self.tile_index = self.oracle.tile_index
        self.mpx = sum(r.pixels.size for r in self.rasters) / 1e6
        self.out = work / "out" / self.name
        self.spark = None
        self.build_s: float | None = None  # set by a prepare() that builds state

    def config(self):
        from moamosaic_spark import MosaicConfig

        s = self.shape
        return MosaicConfig(blocksize=s.tile, src_blocksize=s.chunk,
                            min_overview_size=s.min_overview)

    def _read(self, name: str):
        return self.spark.read.parquet(str(self.inputs / name))

    def open(self, spark) -> None:
        self.spark = spark
        self.fp = self._read("footprints")
        self.blocks = self._read("blocks")

    def prepare(self) -> None:
        pass


# ---------------------------------------------------------------------------
# full mosaics
# ---------------------------------------------------------------------------


class MosaicCold(Workload):
    """do_mosaic -> write_mosaic (tiles + overviews + stats)."""

    name = "mosaic_cold"
    kind = "mosaic"

    def unit(self, k: int) -> dict:
        from moamosaic_spark import do_mosaic
        from moamosaic_spark.mosaic import write_mosaic

        res = do_mosaic(self.spark, self.fp, self.blocks, self.config())
        write_mosaic(res, str(self.out))
        return {"tiles": len(self.tile_index), "mpx": self.mpx}

    def check(self, k: int) -> list[str]:
        return oracles.check_mosaic(self.out, self.oracle)

    def control(self) -> bool:
        got = oracles.read_tiles(self.out / "tiles")
        return bool(oracles.compare_tiles(oracles.corrupt_one(got), self.oracle.tiles))

    def traced_unit(self, k: int, tr) -> dict:
        from pyspark.sql import functions as F

        from moamosaic_spark import do_mosaic
        from moamosaic_spark.mosaic import write_mosaic

        counts = {}
        with tr.span("unit"):
            with tr.span("mosaic.plan"):
                res = do_mosaic(self.spark, self.fp, self.blocks, self.config())
            if self.name == "mosaic_cold":
                with tr.span("spatial_join"):
                    row = (
                        res.assignments.groupBy("tile_row", "tile_col").count()
                        .agg(F.sum("count").alias("n"), F.max("count").alias("mx"))
                        .collect()[0]
                    )
                    counts = {"rows": row["n"], "max_contributors": row["mx"]}
            with tr.span("stitch"):
                res.stitched.persist()
                res.stitched.count()
            with tr.span("sink"):
                write_mosaic(res, str(self.out))
        res.stitched.unpersist()
        return counts

    def stitch_groups(self):
        """The stitch kernel's input groups for this corpus, collected
        to the driver as Arrow: [((band, tile_row, tile_col), table)]."""
        from moamosaic_spark import do_mosaic
        from moamosaic_spark.mosaic import _contributor_chunks

        cfg = Workload.config(self)  # the direct path: both workloads share the kernel
        res = do_mosaic(self.spark, self.fp, self.blocks, cfg)
        work = _contributor_chunks(res.assignments, self.blocks, cfg.src_blocksize)
        tbl = work.toArrow().sort_by([("band", "ascending"), ("tile_row", "ascending"),
                                      ("tile_col", "ascending")])
        keys = np.stack([tbl.column(c).to_numpy() for c in ("band", "tile_row", "tile_col")], 1)
        cut = np.flatnonzero(np.any(keys[1:] != keys[:-1], axis=1)) + 1
        starts = np.concatenate([[0], cut])
        ends = np.concatenate([cut, [len(keys)]])
        return res, [(tuple(int(x) for x in keys[a]), tbl.slice(a, b - a))
                     for a, b in zip(starts, ends)]

    def kernel_rate_p1(self) -> float:
        """Single-process stitch kernel rate (tiles/s): the engine's
        Arrow stitch function called in this process on the captured
        groups; median of three passes."""
        import time

        from moamosaic_spark.operators.stitch import make_stitch_fn_arrow

        res, groups = self.stitch_groups()
        fn = make_stitch_fn_arrow(res.grid, res.levels, "last", binary=True)
        rates = []
        for _ in range(3):
            t = time.perf_counter()
            for key, g in groups:
                fn(key, g)
            rates.append(len(groups) / (time.perf_counter() - t))
        return float(np.median(rates))


class MosaicRepeat(MosaicCold):
    """The same corpus routed through a bucketed relayout table: the
    first call builds the table (set-up), later calls stitch off it."""

    name = "mosaic_repeat"

    def config(self):
        cfg = super().config()
        cfg.relayout_table = self.table
        return cfg

    table = "pb_relayout"

    def prepare(self) -> None:
        import time

        from moamosaic_spark import do_mosaic

        t = time.perf_counter()
        do_mosaic(self.spark, self.fp, self.blocks, self.config())  # builds the table
        self.build_s = time.perf_counter() - t


# ---------------------------------------------------------------------------
# incremental micro-batches
# ---------------------------------------------------------------------------


class Incremental(Workload):
    """Closed-loop micro-batches through streaming.incremental.process_batch.
    Batch g carries the documents of raster-grid row g plus the last
    document of batch g-1 (already seen, dropped by the engine); rows
    overlap spatially, so later batches re-stitch tiles earlier ones
    wrote. A pass of batches starts from an empty sink."""

    name = "mosaic_incremental"
    kind = "incremental"

    def __init__(self, seed: int, work: Path, cache: Path):
        super().__init__(seed, work, cache)
        ids = sorted(pq.read_table(self.inputs / "documents", columns=["doc_id"])
                     .column("doc_id").to_pylist())
        groups = sorted({i.split("-")[0] for i in ids})
        by_group = [[i for i in ids if i.startswith(g + "-")] for g in groups]
        self.batches = [
            by_group[g] + ([by_group[g - 1][-1]] if g else []) for g in range(len(by_group))
        ]
        self.unit_multiple = len(self.batches)
        self.per_batch = self.shape.grid
        self.sink = None

    def open(self, spark) -> None:
        super().open(spark)
        self.docs = self._read("documents")

    def _batch(self, k: int) -> tuple[int, Path]:
        b = k % len(self.batches)
        return b, self.work / "out" / self.name / f"pass-{k // len(self.batches)}"

    def unit(self, k: int) -> dict:
        from pyspark.sql import functions as F

        from moamosaic_spark.streaming.incremental import process_batch

        b, out = self._batch(k)
        if b == 0 and out.exists():
            shutil.rmtree(out)
        self.sink = out
        batch = self.docs.where(F.col("doc_id").isin(self.batches[b]))
        r = process_batch(batch, b, self.spark, self.fp, self.blocks, str(out), self.config())
        new = self.rasters[b * self.per_batch:(b + 1) * self.per_batch]
        return {"tiles": r["tiles_written"], "mpx": sum(x.pixels.size for x in new) / 1e6}

    def check(self, k: int) -> list[str]:
        b, out = self._batch(k)
        return oracles.check_incremental(
            out / "tiles", self.rasters, min(len(self.rasters), (b + 1) * self.per_batch),
            self.tile_index, complete=b == len(self.batches) - 1,
        )

    def control(self) -> bool:
        got = oracles.read_tiles(self.sink / "tiles")
        want = oracles.expected_tiles(
            oracles.paste(self.rasters, self.oracle.grid.nrows, self.oracle.grid.ncols),
            self.tile_index,
        )
        return bool(oracles.compare_tiles(oracles.corrupt_one(got), want))

    def traced_unit(self, k: int, tr) -> dict:
        """One batch, with the rows its sink rewrite touched."""
        import time

        b, out = self._batch(k)
        t0 = time.time()
        with tr.span("unit"):
            with tr.span("incremental.batch"):
                r = self.unit(k)
        rewritten = 0
        for f in (out / "tiles").glob("part=*/*.parquet"):
            if f.stat().st_mtime >= t0:
                rewritten += pq.ParquetFile(f).metadata.num_rows
        return {"touched": r["tiles"], "rewritten": rewritten}

    def rank_probe(self, k: int) -> None:
        """media_first_seen + dense_global_rank over batch k's documents."""
        from pyspark.sql import functions as F

        from moamosaic_spark.sources.docs import dense_global_rank, media_first_seen

        b = k % len(self.batches)
        batch = self.docs.where(F.col("doc_id").isin(self.batches[b]))
        dense_global_rank(media_first_seen(batch), "first_seen", "priority").write.format(
            "noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# derived terrain products
# ---------------------------------------------------------------------------

DEM_TILES = pa.schema([
    ("level", pa.int32()), ("band", pa.int32()), ("tile_row", pa.int32()),
    ("tile_col", pa.int32()), ("y_off", pa.int32()), ("x_off", pa.int32()),
    ("ysize", pa.int32()), ("xsize", pa.int32()), ("pixels", pa.binary()),
])


class Terrain(Workload):
    """write_derived(hillshade, basins) over a stored DEM mosaic."""

    name = "terrain_derived"
    kind = "dem"

    def __init__(self, seed: int, work: Path, cache: Path):
        super().__init__(seed, work, cache)
        g = self.oracle.grid
        self.dem = oracles.paste(self.rasters, g.nrows, g.ncols)
        self.mpx = g.nrows * g.ncols / 1e6
        stored = self.inputs / "dem_tiles"
        if not stored.exists():  # written once per staged corpus
            rows = [
                dict(level=0, band=1, tile_row=ti, tile_col=tj, y_off=top, x_off=left,
                     ysize=ys, xsize=xs,
                     pixels=np.ascontiguousarray(
                         self.dem[top:top + ys, left:left + xs], dtype="<u2").tobytes())
                for (ti, tj, top, left, ys, xs) in self.tile_index
            ]
            tmp = self.inputs / "dem_tiles.tmp"
            tmp.mkdir(exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows, DEM_TILES), tmp / "part-0.parquet")
            tmp.rename(stored)

    def open(self, spark) -> None:
        from moamosaic_spark.mosaic import MosaicResult

        self.spark = spark
        self.result = MosaicResult(
            grid=self.oracle.grid, levels=[], tiles=self._read("dem_tiles"),
            overviews=None, stats=None, assignments=None, blocksize=self.shape.tile,
        )

    def unit(self, k: int) -> dict:
        from moamosaic_spark.mosaic import write_derived

        write_derived(self.result, str(self.out), ["hillshade", "basins"])
        return {"tiles": len(self.tile_index), "mpx": self.mpx}

    def check(self, k: int) -> list[str]:
        return oracles.check_terrain(self.out, self.dem, RES, self.shape.tile)

    def control(self) -> bool:
        got = oracles.read_tiles(self.out / "hillshade")
        want = oracles.expected_tiles(oracles.hillshade_np(self.dem, RES), self.tile_index)
        return bool(oracles.compare_tiles(oracles.corrupt_one(got), want))

    def traced_unit(self, k: int, tr) -> dict:
        """write_derived's steps through the public focal/hydro functions."""
        from pyspark.sql import functions as F

        from moamosaic_spark.functions.focal import hillshade, terrain
        from moamosaic_spark.functions.hydro import d8_edges, flow_basins

        g = self.oracle.grid
        tiles = self.result.tiles.where(F.col("level") == 0).select(
            "band", "tile_row", "tile_col", "ysize", "xsize", "pixels")

        def sink(df, name, order):
            df.repartitionByRange(*order).sortWithinPartitions(*order).write.mode(
                "overwrite").parquet(str(self.out / name))
            self.spark.read.parquet(str(self.out / name)).count()

        with tr.span("unit"):
            with tr.span("focal"):
                sink(hillshade(tiles, xres=g.x_res, yres=g.y_res, nullval=int(g.nullval)),
                     "hillshade", ["band", "tile_row", "tile_col"])
            with tr.span("hydro"):
                terr = terrain(tiles, xres=g.x_res, yres=g.y_res,
                               nullval=int(g.nullval)).localCheckpoint(eager=False)
                edges = d8_edges(terr, g_ncols=int(g.ncols), blocksize=self.shape.tile)
                basins = flow_basins(edges).where(F.col("is_cell")).select(
                    "band", "gid", "basin", "dist")
            with tr.span("sink"):
                sink(basins, "basins", ["band", "gid"])
        n = len(set(oracles.read_table(self.out / "basins").column("basin").to_pylist()))
        return {"basins": n}


WORKLOADS = {w.name: w for w in (MosaicCold, MosaicRepeat, Incremental, Terrain)}
