from contextlib import contextmanager

import py4j.clientserver
import pytest
from pyspark.sql import SparkSession

from moamosaic_spark.schema import BLOCKS_SCHEMA, DOCUMENTS_SCHEMA, FOOTPRINTS_SCHEMA


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("moamosaic-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def to_footprints(spark, pdf):
    return spark.createDataFrame(pdf, schema=FOOTPRINTS_SCHEMA)


def to_blocks(spark, pdf):
    return spark.createDataFrame(pdf, schema=BLOCKS_SCHEMA)


def to_documents(spark, pdf):
    recs = pdf.to_dict("records")
    return spark.createDataFrame(recs, schema=DOCUMENTS_SCHEMA)


def fresh_table(spark, table) -> str:
    """Drop ``table`` and its meta, files included, and return its name:
    the warehouse is shared across runs, and ensure_relayout_table
    re-attaches surviving files instead of creating a table."""
    from moamosaic_spark.sources.relayout import _drop_stale_location

    for t in (table, f"{table}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _drop_stale_location(spark, t)
    return table


@contextmanager
def advisory(spark, value):
    """Run the block with ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    at ``value``: the stitch's byte budget, which sizes its partitions
    (plans.grid.advisory_bytes)."""
    with conf(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", value):
        yield


@contextmanager
def small_batches(spark, rows: int = 2):
    """Run the block with ``spark.sql.execution.arrow.maxRecordsPerBatch``
    at ``rows`` (1-3 for the stitch tests): every (band, tile) group of
    more than ``rows`` rows then reaches the stitch kernel in many Arrow
    batches, split at arbitrary rows. Spark reads the cap when a job
    runs, so collect inside the block."""
    with conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", rows):
        yield


@contextmanager
def conf(spark, key, value):
    """Run the block with the session conf ``key`` at ``value``."""
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def arrow_kernels(df) -> int:
    """Grouped-map Arrow kernels in ``df``'s executed plan: the stitch is
    one."""
    return df._jdf.queryExecution().executedPlan().toString().count("FlatMapGroupsInArrow")


@pytest.fixture
def py4j_calls():
    """``with py4j_calls() as n:`` counts the py4j commands the block
    sends into ``n[0]``. Releases of freed proxies ("m" commands) are
    not counted: Python's garbage collector sends them whenever it runs,
    not where a plan is built."""
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command

    @contextmanager
    def counting():
        n = [0]

        def counted(self, command, *args, **kwargs):
            if not command.startswith("m\n"):
                n[0] += 1
            return send(self, command, *args, **kwargs)

        conn.send_command = counted
        try:
            yield n
        finally:
            conn.send_command = send

    return counting


@pytest.fixture
def sql_executions(spark):
    """``with sql_executions() as n:`` puts the number of SQL executions
    (driver actions) the block started into ``n[0]``: the growth of the
    highest execution id in the status store, read once the listener
    bus has delivered every event. (The store's ``executionsCount()``
    stops growing at ``spark.sql.ui.retainedExecutions``, which a long
    test session passes.)"""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return execs.last().executionId() if execs.nonEmpty() else -1

    @contextmanager
    def counting():
        n = [0]
        before = last_id()
        yield n
        n[0] = last_id() - before

    return counting


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as n:`` puts the number of Spark jobs the
    block ran into ``n[0]``: the growth of the highest job id in the
    status store, read once the listener bus has delivered every event.
    With adaptive execution each shuffle map stage is a job of its own,
    so an extra exchange shows here."""
    sc = spark.sparkContext._jsc.sc()

    def last_id():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    @contextmanager
    def counting():
        n = [0]
        before = last_id()
        yield n
        n[0] = last_id() - before

    return counting
