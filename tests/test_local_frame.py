"""Driver-built frames are LocalRelations: ``session.local_frame`` gives the
same schema and rows as ``createDataFrame(list)`` but plans as a
``LocalTableScan``, it is the package's only ``createDataFrame`` call, and
a pipeline run's plans scan no pickled Python RDD (``ExistingRDD``) under
either Arrow setting."""

import datetime
import json
import os
import re

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kg_microbe_spark.plans import pipeline
from kg_microbe_spark.session import PACKAGE_ROOT, local_frame
from kg_microbe_spark.sources import synthetic

_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("tags", ArrayType(StringType()), True),
        StructField("flag", BooleanType(), False),
        StructField("opt_flag", BooleanType(), True),
        StructField("n", LongType(), True),
        StructField("x", DoubleType(), True),
        StructField("ts", TimestampType(), True),
    ]
)
_UTC = datetime.timezone.utc
_ROWS = [
    ("a", ["p", None, "q"], True, None, 3, 1.5, datetime.datetime(2021, 3, 4, 5, 6, 7, 890, tzinfo=_UTC)),
    ("b", None, False, True, None, None, None),
    ("c", [], True, False, -(2**40), float("inf"), datetime.datetime(1970, 1, 1, tzinfo=_UTC)),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jvm_schema(df) -> StructType:
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "zero_rows"])
def test_local_frame_matches_create_dataframe(spark, rows):
    got = local_frame(spark, rows, _SCHEMA)
    want = spark.createDataFrame(rows, _SCHEMA)
    assert _jvm_schema(got) == _jvm_schema(want) == _SCHEMA
    assert got.collect() == want.collect()
    assert got.selectExpr("unix_micros(ts)").collect() == want.selectExpr("unix_micros(ts)").collect()
    assert "LocalTableScan" in _plan(got) and "ExistingRDD" not in _plan(got)


def test_local_frame_ddl_schema_and_arrow_table(spark):
    ddl = local_frame(spark, [(1.0, "x")], "lo double, label string")
    assert ddl.collect() == spark.createDataFrame([(1.0, "x")], "lo double, label string").collect()
    src = local_frame(spark, _ROWS, _SCHEMA)
    copy = local_frame(spark, src.toArrow(), src.schema)
    assert _jvm_schema(copy) == _SCHEMA and copy.collect() == src.collect()


def test_create_dataframe_only_in_local_frame():
    """Every driver-side frame goes through ``session.local_frame``:
    ``createDataFrame(`` appears in no program file outside the helper."""
    helper = os.path.join(PACKAGE_ROOT, "kg_microbe_spark", "session.py")
    offenders = []
    for dirpath, dirnames, filenames in os.walk(PACKAGE_ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d not in ("tests", "spark-warehouse")]
        for name in filenames:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == helper:
                continue
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    if re.search(r"\bcreateDataFrame\(", line):
                        offenders.append(f"{os.path.relpath(path, PACKAGE_ROOT)}:{lineno}")
    assert offenders == []
    with open(helper, encoding="utf-8") as f:
        assert f.read().count("createDataFrame(") == 1


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_pipeline_plans_scan_no_python_rdd(spark, arrow):
    """After an in-memory run with a dim_cache_key, neither the result's
    plans nor the cached localized dimensions scan an ``ExistingRDD`` (a
    pickled Python RDD whose every job starts Python workers), whatever
    the Arrow setting — and the triples do not depend on it."""
    key = f"plan-shape-{arrow}"
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, arrow)
    try:
        pages = synthetic.pages_df(spark, 60, num_partitions=2)
        res = pipeline.run_pipeline(spark, pages, synthetic.lexicon_df(spark), dim_cache_key=key)
        app_id = spark.sparkContext.applicationId
        dims = [v for (app, k), (v, _) in pipeline._DIM_CACHE._data.items() if app == app_id and k.startswith(key)]
        assert len(dims) == 3  # name index, xref routing, synonym sets
        for df in [res.edges, res.nodes, *dims]:
            plan = _plan(df)
            assert "ExistingRDD" not in plan, plan
        for df in dims:
            assert "LocalTableScan" in _plan(df)
        got = sorted(res.triples.collect())
    finally:
        spark.conf.set(conf, before)
    want = sorted(
        pipeline.run_pipeline(spark, synthetic.pages_df(spark, 60, num_partitions=2), synthetic.lexicon_df(spark))
        .triples.collect()
    )
    assert got == want and got
