"""The public surface, pinned: MosaicConfig's fields and the CLI's
flags. A removed knob must not come back unnoticed (the hot-tile split
is chosen from measured bytes, not from a ``stitch_salt``; the join
has no ``salt`` and no ``--strategy``/``--cell-size-px`` flags, as one
spatial join is planned whatever ``MosaicConfig.strategy`` says; the
incremental sink's partition count is the constant
``streaming.incremental.SINK_PARTS``), and a new one must be added
here on purpose."""

import dataclasses

from moamosaic_spark.cli import get_parser
from moamosaic_spark.mosaic import MosaicConfig

CONFIG_FIELDS = [
    "blocksize", "src_blocksize", "min_overview_size", "nullval", "strategy",
    "cell_size_px", "check_projections", "check_blocks", "with_overviews",
    "merge_policy", "blend_feather", "relayout_table", "relayout_buckets",
]

CLI_FLAGS = {
    "-h", "--help", "--docs", "--footprints", "--blocks", "-o", "--out",
    "-b", "--blocksize", "--src-blocksize", "--nullval", "--minoverviewsize",
    "--no-overviews", "--merge-policy",
    "--blend-feather", "--batches", "--relayout-table", "--rebuild-relayout",
    "--out-epsg", "--xres", "--yres", "--resample", "--derived", "--monitorjson",
    "--master",
}


def test_mosaic_config_fields():
    names = [f.name for f in dataclasses.fields(MosaicConfig)]
    assert len(names) == 13
    assert not {"stitch_salt", "salt", "sink_parts"} & set(names)
    assert names == CONFIG_FIELDS


def test_cli_flags():
    flags = {o for a in get_parser()._actions for o in a.option_strings}
    assert not {"--stitch-salt", "--salt", "--strategy", "--cell-size-px"} & flags
    assert flags == CLI_FLAGS
