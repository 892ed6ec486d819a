from pyspark.sql import types as T

from nba_data_pipeline_spark.sinks.store import detect_format, read_store
from nba_data_pipeline_spark.streaming.sink import run_incremental_merge

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def test_streaming_incremental_merge(spark, tmp_path):
    src = str(tmp_path / "landing")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame([("a", 1.0), ("b", 2.0)], SCHEMA).write.mode("append").parquet(src)
    run_incremental_merge(spark, src, SCHEMA, tgt, "id", checkpoint_dir=ckpt)
    assert {r.id: r.v for r in read_store(spark, tgt).collect()} == {"a": 1.0, "b": 2.0}
    assert detect_format(tgt) == "snapshot"

    # new files land: only the delta is processed; key 'b' is updated
    spark.createDataFrame([("b", 20.0), ("c", 3.0)], SCHEMA).write.mode("append").parquet(src)
    run_incremental_merge(spark, src, SCHEMA, tgt, "id", checkpoint_dir=ckpt)
    assert {r.id: r.v for r in read_store(spark, tgt).collect()} == {
        "a": 1.0,
        "b": 20.0,
        "c": 3.0,
    }

    # re-run with nothing new: no-op (checkpoint marks everything seen)
    run_incremental_merge(spark, src, SCHEMA, tgt, "id", checkpoint_dir=ckpt)
    assert read_store(spark, tgt).count() == 3
