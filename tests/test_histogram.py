"""value_histogram: exact bins vs numpy bincount, for binary tiles and
array<int> tiles (packed by the ingest adaptor), and the plan shape
(partial agg before the shuffle, no Python)."""

import numpy as np
import pytest
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, StructField, StructType,
)

from moamosaic_spark.operators.stats import value_histogram
from moamosaic_spark.pixels import encode

NULL = 0


def _tiles(spark, arrays, packed):
    rows = []
    for i, a in enumerate(arrays):
        px = encode(a.ravel()) if packed else [int(v) for v in a.ravel()]
        rows.append((1, 0, i, a.shape[0], a.shape[1], px))
    schema = StructType([
        StructField("band", IntegerType()),
        StructField("tile_row", IntegerType()),
        StructField("tile_col", IntegerType()),
        StructField("ysize", IntegerType()),
        StructField("xsize", IntegerType()),
        StructField("pixels", BinaryType() if packed else ArrayType(IntegerType())),
    ])
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("packed", [False, True])
def test_histogram_matches_bincount(spark, packed):
    rng = np.random.default_rng(31)
    arrays = [rng.integers(0, 40, size=(17, 23)).astype(np.int64)
              for _ in range(5)]
    got = {(r.band, r.val): r.n_px
           for r in value_histogram(_tiles(spark, arrays, packed),
                                    nullval=NULL).collect()}
    counts = np.bincount(np.concatenate([a.ravel() for a in arrays]))
    exp = {(1, v): int(n) for v, n in enumerate(counts) if n and v != NULL}
    assert got == exp


def test_histogram_plan_is_jvm_partial_agg(spark):
    rng = np.random.default_rng(37)
    df = value_histogram(
        _tiles(spark, [rng.integers(0, 9, size=(8, 8))], packed=True))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Pandas" not in plan, plan
    # partial aggregation must sit BELOW the exchange (the shuffle
    # carries bins, not pixels): plan text prints parent-first, so
    # the child partial HashAggregate appears after the Exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.rindex("HashAggregate") > plan.index("Exchange"), plan
