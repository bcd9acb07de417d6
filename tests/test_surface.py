"""The public surface, pinned: MosaicConfig's fields and the CLI's
flags. A removed knob (the hot-tile split is chosen from measured
bytes, not from a ``stitch_salt``) must not come back unnoticed, and a
new one must be added here on purpose."""

import dataclasses

from moamosaic_spark.cli import get_parser
from moamosaic_spark.mosaic import MosaicConfig

CONFIG_FIELDS = [
    "blocksize", "src_blocksize", "min_overview_size", "nullval", "strategy",
    "cell_size_px", "salt", "check_projections", "check_blocks", "with_overviews",
    "merge_policy", "blend_feather", "sink_parts", "relayout_table", "relayout_buckets",
]

CLI_FLAGS = {
    "-h", "--help", "--docs", "--footprints", "--blocks", "-o", "--out",
    "-b", "--blocksize", "--src-blocksize", "--nullval", "--minoverviewsize",
    "--no-overviews", "--strategy", "--cell-size-px", "--salt", "--merge-policy",
    "--blend-feather", "--batches", "--relayout-table", "--rebuild-relayout",
    "--out-epsg", "--xres", "--yres", "--resample", "--derived", "--monitorjson",
    "--master",
}


def test_mosaic_config_fields():
    names = [f.name for f in dataclasses.fields(MosaicConfig)]
    assert len(names) == 15 and "stitch_salt" not in names
    assert names == CONFIG_FIELDS


def test_cli_flags():
    flags = {o for a in get_parser()._actions for o in a.option_strings}
    assert "--stitch-salt" not in flags
    assert flags == CLI_FLAGS
