"""Sources: the "dynamo" Python DataSource over a keyed document store.

``io``-style sugar mirroring the reference's implicits
(``spark.read.dynamodb("t")`` / ``df.write.dynamodb("t")``,
SURVEY §2 A15):

    from spark_dynamodb_spark.sources import read_dynamo, write_dynamo
    df = read_dynamo(spark, "customer_kv", targetCapacity=0.5)
    write_dynamo(df, "customer_kv", update=True)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_dynamodb_spark.sources import keyed_store


def read_dynamo(spark: SparkSession, table: str, **options) -> DataFrame:
    """``table`` as a DataFrame over the "dynamo" source. Use one
    ``read_dynamo`` per query: Spark keeps a relation's last pushdown
    (the reader and the files it planned) and reuses it for a later
    query on that relation that pushes no filter, so a reused DataFrame
    can answer with another query's filter or with replaced files."""
    from spark_dynamodb_spark.sources.dynamo import register

    register(spark)
    # Required for DynamoReader.pushFilters (off by default in 4.1).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # Resolve the store dir HERE on the driver: planning workers import
    # the package from the shipped zip, where __file__-relative paths
    # would resolve inside the archive.
    options.setdefault("storeDir", keyed_store.DEFAULT_STORE_DIR)
    reader = spark.read.format("dynamo").option("tableName", table)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def write_dynamo(df: DataFrame, table: str, **options) -> None:
    """Write ``df`` into ``table`` as one job and one merge: ``df.toArrow()``
    collects the batch here (bounded by ``spark.driver.maxResultSize``, as
    the merge holds it here anyway), one WCU bucket paces it with the
    whole budget, and it is merged into the store. A failed job or a
    refused merge changes nothing."""
    from spark_dynamodb_spark.sources.dynamo import DynamoWriter, register

    register(df.sparkSession)
    options.setdefault("storeDir", keyed_store.DEFAULT_STORE_DIR)
    opts = {k.lower(): str(v) for k, v in options.items()}
    writer = DynamoWriter(df.schema, {**opts, "tablename": table}, overwrite=False)
    writer.commit_table(writer.pace(df.toArrow().to_batches()))
