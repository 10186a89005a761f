"""get_spark leaves Spark's own defaults to Spark."""

import pytest

# defaults the engine relies on without setting them: a Spark upgrade that
# moves one of them shows up here
SPARK_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


@pytest.mark.parametrize("key,value", sorted(SPARK_DEFAULTS.items()))
def test_get_spark_keeps_spark_defaults(spark, key, value):
    assert not spark.sparkContext.getConf().contains(key)
    assert spark.conf.get(key) == value
