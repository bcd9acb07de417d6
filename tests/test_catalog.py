"""Iceberg capability seam (catalog.py): the ABSENT path — the only
one runnable in this sandbox (no Iceberg jars). The probe must report
absence, every routed operation must fall back to the parquet
behavior, and the incremental sink must produce identical results with
sink_table set (the seam is a no-op without the runtime)."""

from pyspark.sql import functions as F

from moamosaic_spark import catalog as C


def test_probe_reports_absent(spark):
    assert C.iceberg_available(spark) is False
    assert C.iceberg_catalog_names(spark) == []
    assert C.table_format(spark) == "parquet"


def test_merge_falls_back(spark):
    """No jars: merge_touched_tiles must write NOTHING and return
    False so callers keep the partition-overwrite emulation."""
    updates = spark.range(3).select(
        F.lit(0).alias("level"), F.lit(1).alias("band"),
        F.col("id").cast("int").alias("tile_row"),
        F.lit(0).alias("tile_col"), F.lit(7).alias("part"),
    )
    assert C.merge_touched_tiles(spark, updates, "moa_merge_fallback") is False
    assert not spark.catalog.tableExists("moa_merge_fallback")


def test_write_mosaic_table_parquet_fallback(spark):
    spark.sql("DROP TABLE IF EXISTS moa_sink_fallback")
    tiles = spark.range(6).select(
        F.lit(1).alias("band"),
        (F.col("id") % 3).cast("int").alias("tile_row"),
        (F.col("id") / 3).cast("int").alias("tile_col"),
        (F.col("id") * 10).alias("checksum"),
    )
    fmt = C.write_mosaic_table(spark, tiles, "moa_sink_fallback")
    assert fmt == "parquet"
    back = spark.table("moa_sink_fallback")
    assert back.count() == 6
    assert sorted(r.checksum for r in back.collect()) == [0, 10, 20, 30, 40, 50]
    spark.sql("DROP TABLE IF EXISTS moa_sink_fallback")


def test_incremental_sink_table_ignored_without_jars(spark, tmp_path):
    """process_batch with sink_table set but no Iceberg runtime must
    behave exactly as without it: parquet emulation at out_path, no
    catalog table created."""
    from moamosaic_spark.mosaic import MosaicConfig
    from moamosaic_spark.sources import synth
    from moamosaic_spark.sources.docs import footprints_from_docs
    from moamosaic_spark.streaming.incremental import process_batch

    rasters = synth.golden_pair(128, 128)
    docs, fp, blocks = synth.corpus_to_spark(spark, rasters)
    meta = footprints_from_docs(docs, fp.drop("priority"))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64)
    out = str(tmp_path / "sink")
    r = process_batch(docs, 0, spark, meta, blocks, out, cfg,
                      sink_table="moa_iceberg_sink_absent")
    assert r["new_refs"] > 0 and r["tiles_written"] > 0
    tiles = spark.read.parquet(f"{out}/tiles")
    assert tiles.count() == r["tiles_written"]
    assert not spark.catalog.tableExists("moa_iceberg_sink_absent")


class _FakeWriter:
    """Recorder standing in for DataFrameWriterV2: captures the
    using()/create()/createOrReplace() chain merge_touched_tiles and
    write_mosaic_table issue on the present path."""

    def __init__(self, log, table):
        self.log = log
        self.table = table
        self.fmt = None

    def using(self, fmt):
        self.fmt = fmt
        return self

    def create(self):
        self.log.append(("create", self.table, self.fmt))

    def createOrReplace(self):
        self.log.append(("createOrReplace", self.table, self.fmt))


def test_merge_present_path_issues_exact_merge_sql(spark, monkeypatch):
    """Present-path contract (jars absent here, probe stubbed True):
    an EXISTING sink table gets one MERGE INTO with the full tile key
    in the ON clause, update-matched/insert-not-matched, the updates
    view is registered for the statement and dropped after — pinned
    so a future environment with real jars runs exactly this DML."""
    monkeypatch.setattr(C, "iceberg_available", lambda s: True)
    monkeypatch.setattr(
        spark.catalog, "tableExists", lambda name: name == "ice.db.tiles"
    )
    issued = []
    monkeypatch.setattr(spark, "sql", lambda q: issued.append(" ".join(q.split())))

    updates = spark.range(2).select(
        F.lit(0).alias("level"), F.lit(1).alias("band"),
        F.col("id").cast("int").alias("tile_row"),
        F.lit(0).alias("tile_col"), F.lit(3).alias("part"),
    )
    assert C.merge_touched_tiles(spark, updates, "ice.db.tiles") is True
    assert issued == [
        "MERGE INTO ice.db.tiles t USING _moa_tile_updates u "
        "ON t.level = u.level AND t.band = u.band AND "
        "t.tile_row = u.tile_row AND t.tile_col = u.tile_col "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ]
    # the temp view must not leak past the statement
    assert "_moa_tile_updates" not in [t.name for t in spark.catalog.listTables()]


def test_merge_present_path_creates_missing_table(spark, monkeypatch):
    """Present path, sink table absent: one writeTo(...).using(
    'iceberg').create() with the part column dropped, no SQL."""
    monkeypatch.setattr(C, "iceberg_available", lambda s: True)
    monkeypatch.setattr(spark.catalog, "tableExists", lambda name: False)
    issued, writes = [], []
    monkeypatch.setattr(spark, "sql", lambda q: issued.append(q))

    def fake_writeTo(self, table):
        writes.append((table, self.columns))
        return _FakeWriter(writes, table)

    # patch the CONCRETE DataFrame class (pyspark 4 routes instances
    # through sql.classic.dataframe.DataFrame, not the imported base)
    monkeypatch.setattr(type(spark.range(1)), "writeTo", fake_writeTo)
    updates = spark.range(2).select(
        F.lit(0).alias("level"), F.lit(1).alias("band"),
        F.col("id").cast("int").alias("tile_row"),
        F.lit(0).alias("tile_col"), F.lit(3).alias("part"),
    )
    assert C.merge_touched_tiles(spark, updates, "ice.db.tiles") is True
    assert issued == []
    assert writes == [
        ("ice.db.tiles", ["level", "band", "tile_row", "tile_col"]),
        ("create", "ice.db.tiles", "iceberg"),
    ]


def test_write_mosaic_table_present_path_write_to(spark, monkeypatch):
    """Present path of the snapshot sink: writeTo(...).using(
    'iceberg').createOrReplace(), never the parquet saveAsTable."""
    monkeypatch.setattr(C, "iceberg_available", lambda s: True)
    writes = []

    def fake_writeTo(self, table):
        writes.append(("writeTo", table))
        return _FakeWriter(writes, table)

    monkeypatch.setattr(type(spark.range(1)), "writeTo", fake_writeTo)
    tiles = spark.range(4).select(
        F.lit(1).alias("band"), F.col("id").cast("int").alias("tile_row"),
        F.lit(0).alias("tile_col"),
    )
    assert C.write_mosaic_table(spark, tiles, "ice.db.snap") == "iceberg"
    assert writes == [
        ("writeTo", "ice.db.snap"),
        ("createOrReplace", "ice.db.snap", "iceberg"),
    ]
    assert not spark.catalog.tableExists("ice.db.snap".split(".")[-1])


def test_process_batch_routes_to_native_merge(spark, tmp_path, monkeypatch):
    """Incremental routing: when merge_touched_tiles reports a native
    MERGE happened, process_batch must SKIP the parquet tile emulation
    entirely (state still committed so the batch counts as seen)."""
    from moamosaic_spark import catalog as cat
    from moamosaic_spark.mosaic import MosaicConfig
    from moamosaic_spark.sources import synth
    from moamosaic_spark.sources.docs import footprints_from_docs
    from moamosaic_spark.streaming import incremental as inc

    merged = []
    monkeypatch.setattr(
        cat, "merge_touched_tiles",
        lambda s, updates, table: merged.append((table, updates.count())) or True,
    )
    rasters = synth.golden_pair(128, 128)
    docs, fp, blocks = synth.corpus_to_spark(spark, rasters)
    meta = footprints_from_docs(docs, fp.drop("priority"))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=64)
    out = str(tmp_path / "native_sink")
    r = inc.process_batch(docs, 0, spark, meta, blocks, out, cfg,
                          sink_table="ice.db.tiles")
    assert r["new_refs"] > 0 and r["tiles_written"] > 0
    assert merged and merged[0][0] == "ice.db.tiles" and merged[0][1] > 0
    import os
    assert not os.path.exists(f"{out}/tiles")   # emulation skipped
    assert os.path.exists(out)                  # seen-state committed
