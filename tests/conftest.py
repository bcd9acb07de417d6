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
