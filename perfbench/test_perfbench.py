"""Self-tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The last test drives a traced run of every workload in BENCHMARK.json
and takes a few minutes; select the fast ones with ``-k "not traced"``.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
import layers  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("kind", sorted(corpus.SHAPES))
def test_seed_fixes_the_corpus(kind):
    a = corpus.fingerprint(corpus.make_rasters(kind, 7))
    assert a == corpus.fingerprint(corpus.make_rasters(kind, 7))
    assert a != corpus.fingerprint(corpus.make_rasters(kind, 8))


def test_corpus_has_holes_overlaps_and_no_ramp():
    rasters = corpus.make_rasters("mosaic", 3)
    assert all((r.pixels == corpus.NULLVAL).any() for r in rasters)
    a, b = rasters[0], rasters[1]
    assert a.col0 + a.pixels.shape[1] > b.col0  # neighbours overlap
    row = a.pixels[a.pixels.shape[0] // 2]
    assert len(np.unique(row)) > 16 and not np.array_equal(np.diff(row[row > 0]), 1)


def _mosaic_oracle():
    from moamosaic_spark.sources import synth

    s = corpus.SHAPES["mosaic"]
    return synth.oracle(corpus.to_synth(corpus.make_rasters("mosaic", 1)),
                        blocksize=s.tile, min_overview_size=s.min_overview)


def test_negative_control_fails_the_oracle():
    want = _mosaic_oracle().tiles
    got = {k: np.asarray(v, dtype=np.int64) for k, v in want.items()}
    assert oracles.compare_tiles(got, want) == []
    assert oracles.compare_tiles(oracles.corrupt_one(got), want)
    missing = dict(got)
    missing.pop(sorted(missing)[0])
    assert oracles.compare_tiles(missing, want)


def test_paste_matches_the_engine_oracle():
    rasters = corpus.make_rasters("mosaic", 1)
    o = _mosaic_oracle()
    canvas = oracles.paste(rasters, o.grid.nrows, o.grid.ncols)
    assert oracles.compare_tiles(
        {k: np.asarray(v, dtype=np.int64) for k, v in o.tiles.items()},
        oracles.expected_tiles(canvas, o.tile_index)) == []


def test_basins_oracle_on_a_tilted_plane():
    """Every cell of a plane falling east drains east to the border
    column, whose cells have no full window: there the pointer chain
    ends. Border cells themselves are not listed."""
    dem = np.tile(np.arange(20, 10, -1), (6, 1)) * 10
    gid, basin, dist = oracles.basins_np(dem)
    m = dem.shape[1]
    assert len(gid) == (dem.shape[0] - 2) * (m - 2)
    assert np.array_equal(basin, gid - gid % m + m - 1)
    assert np.array_equal(dist, (m - 1) - gid % m)


def test_benchmark_json_matches_the_code():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                              "end_to_end", "per_layer"}
    assert {(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]} == set(run.E2E.items())
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]] == \
        [(n, u, b) for n, u, b, *_ in layers.METRICS]
    from workloads import WORKLOADS

    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in BENCHMARK["end_to_end"])


def _traced(workload: str) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_traced_spans_cover_the_traced_wall(workload):
    """Layer spans cover >= 90% of each traced unit, for the workload and
    for each companion it drives; every per-layer metric is reported."""
    res, out = _traced(workload)
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {n for n, *_ in layers.METRICS}
    assert res["metrics"]["trace.coverage_frac"]["value"] >= 0.9
    companions = re.findall(r"^companion (\S+): .*coverage = ([\d.]+)", out, re.M)
    assert [c for c, _ in companions] == run.COMPANIONS.get(workload, [])
    assert all(float(v) >= 0.9 for _, v in companions)
