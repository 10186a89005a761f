"""Iceberg-first table read boundary: catalog names route through
`spark.table`, paths through parquet (with no Iceberg jar on the
classpath, the catalog path is asserted up to the point the runtime
would take over)."""

import pytest


def test_catalog_name_routes_to_v2_writer(spark):
    from opensmile_spark.tables import is_path, read_table

    assert not is_path("warehouse.features.conv_functionals")
    assert is_path("/data/features")
    assert is_path("features.parquet")
    # no catalog configured in this image: the V2 route surfaces Spark's
    # own TABLE_OR_VIEW_NOT_FOUND, proving the name went to spark.table
    # rather than being misread as a path
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_table(spark, "nosuchcatalog.db.tbl").collect()
