"""Spark's Python worker daemon for ``session.get_spark`` sessions: the
stock ``pyspark.daemon`` with ``_reread_zips_on_change`` applied first,
so every task worker it forks (PythonRDD and UDF workers included, which
never run connector code) is patched from birth."""

from pyspark import daemon

from spark_dynamodb_spark.sources.dynamo import _reread_zips_on_change

if __name__ == "__main__":
    _reread_zips_on_change()
    daemon.manager()
