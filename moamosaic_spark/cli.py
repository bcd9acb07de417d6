"""spark-submit CLI — the reference's ``moamosaic`` command
(mosaic.py:38-108) re-targeted at tables.

    spark-submit --py-files moamosaic_spark.zip -m moamosaic_spark.cli \\
        --docs s3://bucket/docs --footprints .../footprints \\
        --blocks .../blocks -o .../out_mosaic

Option mapping (reference option -> here):
    -i/--infilelist  -> --docs (interleaved documents table; media spans
                        ARE the file list) or --footprints directly
    -o/--outfile     -> -o/--out (partitioned table sink path)
    -n/--numthreads  -> (dropped: executor parallelism is the cluster's)
    -b/--blocksize   -> --blocksize
    --nullval        -> --nullval
    --minoverviewsize-> --minoverviewsize
    -d/--driver,--co -> (dropped: table formats replace GDAL drivers)
    --outprojepsg    -> --out-epsg (cross-CRS warp; the built-in CRS
                        subset of crs.py: 4326, 3857, WGS84 UTM zones)
    --outprojwktfile -> (dropped: EPSG codes only)
    --resample       -> --resample near|bilinear|average, for the warp
                        and for the --xres/--yres same-CRS rescale
    --monitorjson    -> --monitorjson
Extras: --merge-policy, --batches/--relayout-table (resumable batches, and the
bucketed work table both routes stitch off),
--derived hillshade|terrain|basins (gdaldem-style product tables).
"""

from __future__ import annotations

import argparse
import json


def get_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="moamosaic-spark", description=__doc__)
    src = p.add_argument_group("inputs")
    src.add_argument("--docs", help="interleaved documents table (parquet path)")
    src.add_argument("--footprints", help="footprints metadata table (parquet path)")
    src.add_argument("--blocks", required=True, help="pixel blocks table (parquet path)")
    p.add_argument("-o", "--out", required=True, help="output mosaic path")
    p.add_argument("-b", "--blocksize", type=int, default=1024)
    p.add_argument("--src-blocksize", type=int, default=256)
    p.add_argument("--nullval", type=float, default=None)
    p.add_argument("--minoverviewsize", type=int, default=1024)
    p.add_argument("--no-overviews", action="store_true")
    p.add_argument("--merge-policy", choices=["last", "nearest", "blend"],
                   default="last")
    p.add_argument("--blend-feather", type=int, default=64,
                   help="feather width (px) for --merge-policy blend")
    p.add_argument("--batches", type=int, default=1,
                   help=">1 enables lineage-checkpointed batched execution")
    p.add_argument("--relayout-table", default=None,
                   help="bucketed work table (sources/relayout.py): built on "
                        "first use (pays the wide shuffle once), then every "
                        "run or batch over the same corpus and tiling "
                        "stitches off it with no Exchange; a stale table is "
                        "rebuilt — the repeated-run production pattern")
    p.add_argument("--rebuild-relayout", action="store_true",
                   help="force re-materializing --relayout-table")
    p.add_argument("--out-epsg", type=int, default=None,
                   help="warp inputs to this EPSG before mosaicking "
                        "(built-in subset only: 4326, 3857 and WGS84 UTM zones)")
    p.add_argument("--xres", type=float, default=None)
    p.add_argument("--yres", type=float, default=None)
    p.add_argument("--resample", default="near",
                   choices=["near", "bilinear", "average"],
                   help="resampling method for --out-epsg and --xres/--yres")
    p.add_argument("--derived", action="append", default=None,
                   choices=["hillshade", "terrain", "basins"],
                   help="also write gdaldem-style derived products "
                        "(repeatable) under OUT/<product>")
    p.add_argument("--monitorjson", default=None)
    p.add_argument("--master", default=None, help="Spark master override (local runs)")
    return p


def main(argv: list[str] | None = None) -> None:
    parser = get_parser()
    args = parser.parse_args(argv)
    if not args.docs and not args.footprints:
        parser.error("one of --docs / --footprints is required")
    if args.derived and args.batches > 1:
        # validated up front: the old post-run check threw away a
        # potentially hours-long batched mosaic before erroring
        parser.error("--derived requires the single-run path (not --batches)")
    from .mosaic import MosaicConfig, do_mosaic, write_mosaic
    from .monitoring import Monitoring
    from .session import get_spark

    mon = Monitoring()
    spark = get_spark(args.master, app_name="moamosaic-spark-cli")
    mon.set_param("blocksize", args.blocksize)

    with mon.ctx("read_inputs"):
        blocks = spark.read.parquet(args.blocks)
        if args.footprints:
            fp = spark.read.parquet(args.footprints)
        else:
            from .sources.docs import footprints_from_docs

            docs = spark.read.parquet(args.docs)
            # footprint metadata must ride alongside the docs table
            fp_meta = spark.read.parquet(args.docs + "_footprints")
            fp = footprints_from_docs(docs, fp_meta)

    if args.out_epsg:
        from .reproject import warp_blocks

        xres = args.xres or args.yres
        if xres is None:
            # default: the first input's pixel step MEASURED IN THE
            # TARGET CRS (gdalwarp's suggested-output analog, reference
            # reproj.py:199-206). Copying the raw number is only valid
            # when both CRSes share units — degrees->meters would
            # otherwise build a ~10^4x denser grid.
            import math

            from .crs import make_transform

            first = fp.orderBy("priority").select(
                "x0", "y0", "x_res", "y_res", "projection"
            ).first()
            tr = make_transform(first.projection, args.out_epsg)
            x0, y0 = (float(v) for v in tr(first.x0, first.y0))
            xs, ys = (float(v) for v in tr(first.x0 + first.x_res, first.y0))
            xres = math.hypot(xs - x0, ys - y0)
            xs, ys = (float(v) for v in tr(first.x0, first.y0 - first.y_res))
            yres = math.hypot(xs - x0, ys - y0)
        else:
            yres = args.yres or args.xres
        with mon.ctx("warp"):
            fp, blocks = warp_blocks(
                fp, blocks, f"EPSG:{args.out_epsg}", xres, yres,
                src_blocksize=args.src_blocksize, method=args.resample,
            )
    elif args.xres or args.yres:
        from .reproject import resample_blocks

        with mon.ctx("resample"):
            fp, blocks = resample_blocks(
                fp, blocks,
                args.xres or args.yres, args.yres or args.xres,
                src_blocksize=args.src_blocksize,
                method=args.resample,
            )

    cfg = MosaicConfig(
        blocksize=args.blocksize,
        src_blocksize=args.src_blocksize,
        min_overview_size=args.minoverviewsize,
        nullval=args.nullval,
        merge_policy=args.merge_policy,
        blend_feather=args.blend_feather,
        with_overviews=not args.no_overviews,
        relayout_table=args.relayout_table,
    )

    with mon.ctx("domosaic"):
        if args.relayout_table and args.rebuild_relayout:
            from .sources.relayout import relayout_to_table

            relayout_to_table(spark, fp, blocks, args.relayout_table, cfg)
        # both routes stitch off cfg.relayout_table, and the first run
        # or batch (re)builds it when it is absent or stale
        if args.batches > 1:
            from .streaming.lineage import resumable_mosaic

            info = resumable_mosaic(
                spark, fp, blocks, args.out, cfg, n_batches=args.batches
            )
            print(json.dumps({k: v for k, v in info.items() if k != "grid"}))
        else:
            res = do_mosaic(spark, fp, blocks, cfg)
            write_mosaic(res, args.out)

    if args.derived:
        from .mosaic import write_derived

        with mon.ctx("derived"):
            counts = write_derived(res, args.out, list(dict.fromkeys(args.derived)))
        print(json.dumps({"derived": counts}))

    if args.monitorjson:
        mon.dump_json(args.monitorjson)


if __name__ == "__main__":
    main()
