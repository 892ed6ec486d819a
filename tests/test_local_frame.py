"""``core.data.local_frame``: driver rows enter Spark through Arrow
with ``createDataFrame``'s schema, nullability and values, and with no
Python worker in the plan. Also the default driver heap, which is
sized from the host's physical memory."""

from __future__ import annotations

import datetime
import os
import pathlib
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from nba_data_pipeline_spark.core import session
from nba_data_pipeline_spark.core.data import local_frame

REPO = pathlib.Path(__file__).resolve().parents[1]

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("x", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "stints",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("IN_TIME_REAL", T.DoubleType()),
                        T.StructField("OUT_TIME_REAL", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("day", T.DateType()),
    ]
)
ROWS = [
    (1, 0.5, True, "a", [(0.0, 3000.0), (7200.0, None)], datetime.date(2024, 10, 22)),
    (2, None, None, None, None, None),
    (3, -1.25, False, "", [], datetime.date(1969, 12, 31)),
]


def _jrdd(df):
    return df._jdf.queryExecution().toRdd()


def test_matches_create_data_frame(spark):
    arrow = local_frame(spark, ROWS, SCHEMA)
    listed = spark.createDataFrame(ROWS, SCHEMA)
    assert arrow.schema == listed.schema == SCHEMA
    assert arrow.collect() == listed.collect()


def test_ddl_schema_and_row_shapes(spark):
    ddl = "bucket: long, target_n: long, source_n: long"
    rows = [(0, 1, 2), Row(bucket=1, target_n=0, source_n=5), {"source_n": 7, "bucket": 2}]
    arrow = local_frame(spark, rows, ddl)
    listed = spark.createDataFrame(rows, ddl)
    assert arrow.schema == listed.schema
    assert arrow.orderBy("bucket").collect() == listed.orderBy("bucket").collect()


@pytest.mark.parametrize(
    "row, match",
    [
        ((None, 1.0, True, "a", None, None), "non-nullable"),
        ((1, 1.0, True, "a", None), "5 fields"),
        ((1, 1.0, True, "a", None, None, "extra"), "7 fields"),
    ],
)
def test_malformed_row_raises(spark, row, match):
    with pytest.raises(ValueError, match=match):
        local_frame(spark, [row], SCHEMA)


def test_empty_rows_give_zero_row_frame(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.schema == SCHEMA
    assert df.count() == 0


def test_one_partition_per_row_up_to_parallelism(spark):
    par = spark.sparkContext.defaultParallelism
    for n in (1, 2, par + 3):
        rows = [(i, None, None, None, None, None) for i in range(n)]
        assert _jrdd(local_frame(spark, rows, SCHEMA)).getNumPartitions() == min(n, par)


@pytest.mark.parametrize("arrow_conf", ["true", "false"])
def test_no_python_worker_in_plan(spark, arrow_conf):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow_conf)
    try:
        df = local_frame(spark, ROWS, SCHEMA)
        assert "PythonRDD" not in _jrdd(df).toDebugString()
        assert df.count() == len(ROWS)
    finally:
        spark.conf.set(key, before)
    # the control: the list path runs its rows through a Python worker
    assert "PythonRDD" in _jrdd(spark.createDataFrame(ROWS, SCHEMA)).toDebugString()


def test_naive_datetime_read_in_local_zone():
    """The list path reads a naive datetime in the driver's zone; a
    plain Arrow array would read it as UTC and shift it by hours."""
    script = textwrap.dedent(
        """
        import datetime
        from pyspark.sql import functions as F
        from nba_data_pipeline_spark.core.data import local_frame
        from nba_data_pipeline_spark.core.session import get_session

        spark = get_session("local_frame_tz")
        ts = datetime.datetime(2024, 3, 4, 3, 4, 5, 6)
        rows, ddl = [(ts,), (None,)], "ts timestamp"
        a = local_frame(spark, rows, ddl)
        b = spark.createDataFrame(rows, ddl)
        assert a.schema == b.schema
        assert a.collect() == b.collect(), (a.collect(), b.collect())
        assert a.collect()[0].ts == ts, a.collect()
        micros = lambda df: [r[0] for r in df.select(F.unix_micros("ts")).collect()]
        assert micros(a) == micros(b), (micros(a), micros(b))
        print("TZ_OK")
        """
    )
    env = {
        **os.environ,
        "TZ": "America/New_York",
        "PYTHONPATH": str(REPO),
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert "TZ_OK" in out.stdout, out.stderr[-3000:]


def test_create_data_frame_only_in_core_data():
    pkg = REPO / "nba_data_pipeline_spark"
    hits = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "createDataFrame(" in p.read_text()
    )
    assert hits == ["core/data.py"]


def test_driver_heap_follows_physical_memory(monkeypatch):
    gib = 1 << 30
    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for phys, heap in ((15 * gib, "7680m"), (64 * gib, "16384m"), (gib, "1024m")):
        pages["SC_PHYS_PAGES"] = phys // 4096
        assert session._driver_mem() == heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_mem() == "3g"
