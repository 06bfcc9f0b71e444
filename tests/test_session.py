"""Session defaults fit the machine the suite runs on."""

import os


def test_driver_heap_fits_physical_memory(spark):
    conf = spark.sparkContext.getConf()
    heap = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.driver.memory")
    )
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= phys
    xms = f"-Xms{conf.get('spark.driver.memory')}"
    assert xms in conf.get("spark.driver.extraJavaOptions").split()


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_df_is_a_local_relation_for_every_row_shape(spark):
    """Each row shape the package passes round-trips through local_df, and
    every frame plans as a LocalTableScan, never a Python RDD."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from migdar_data_pipelines_spark.session import local_df

    nested = spark.range(3).select(
        "id",
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
        F.array(F.col("id").cast("double"), F.lit(0.5)).alias("arr"),
    )
    collected = nested.collect()
    cases = [
        ([(0, [1.0, 2.0]), (1, [])], "cell int, rv array<double>",
         [Row(cell=0, rv=[1.0, 2.0]), Row(cell=1, rv=[])]),
        ([(-1, "synthetic")], "o_orderkey long, __hash string",
         [Row(o_orderkey=-1, __hash="synthetic")]),
        (collected, nested.schema, collected),
        ([{"url": "u", "status": 404, "error": None}],
         "url string, status int, error string",
         [Row(url="u", status=404, error=None)]),
        ([], "id long, comp long", []),
    ]
    for rows, schema, want in cases:
        df = local_df(spark, rows, schema)
        assert df.collect() == want, schema
        assert "LocalTableScan" in _plan(df) and "ExistingRDD" not in _plan(df)
    assert local_df(spark, [], "id long, comp long").columns == ["id", "comp"]

    # schema=None: Arrow infers the types, a nested dict becomes a struct
    inferred = local_df(
        spark, [{"key": "Z1", "tags": [{"tag": "a"}], "meta": {"name": "n"}}], None
    )
    assert inferred.schema.simpleString() == (
        "struct<key:string,tags:array<struct<tag:string>>,meta:struct<name:string>>"
    )
    got = inferred.select(F.col("tags")[0]["tag"], F.col("meta")["name"]).first()
    assert tuple(got) == ("a", "n")
    assert "LocalTableScan" in _plan(inferred) and "ExistingRDD" not in _plan(inferred)
