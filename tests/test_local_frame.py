"""``queries.helpers.local_frame``: driver-built rows as a LocalRelation.

A frame built from Python rows with ``spark.createDataFrame(rows, ddl)`` is
a pickled Python RDD, so collecting it runs a Spark job. ``local_frame``
builds the same frame from a ``pyarrow.Table``, which Spark holds on the
driver as a ``LocalRelation``: no job, no Python worker.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql.types import StructType

from large_csv_etl_spark.queries.helpers import local_frame

from .test_similarity_kernel import _jobs_in_group

PACKAGE = Path(__file__).resolve().parents[1] / "large_csv_etl_spark"

# every type the package's call sites pass, in one schema
DDL = "a bigint, b int, c long, d double, e string, f array<double>"
ROWS = [
    (1, 2, 3, 0.5, "x", [1.0, -2.5]),
    (None, None, None, None, None, None),
    (2**62, -(2**31), -1, float("inf"), "", [None, 0.0]),
]


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, ROWS, DDL)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_local_frame_collects_without_a_job(spark):
    df = local_frame(spark, ROWS, DDL)
    rows, jobs = _jobs_in_group(spark, "local_frame_collect", df.collect)
    assert jobs == 0
    assert [tuple(r) for r in rows] == ROWS


def test_local_frame_schema_is_the_ddl(spark):
    df = local_frame(spark, ROWS, DDL)
    assert df.schema == StructType.fromDDL(DDL)
    assert df.dtypes == [
        ("a", "bigint"),
        ("b", "int"),
        ("c", "bigint"),
        ("d", "double"),
        ("e", "string"),
        ("f", "array<double>"),
    ]
    assert all(f.nullable for f in df.schema.fields)
    assert df.schema["f"].dataType.containsNull


def test_local_frame_keeps_nulls_and_types_of_empty_rows(spark):
    nulls = local_frame(spark, [(None, None)], "k bigint, v array<double>")
    assert nulls.schema == StructType.fromDDL("k bigint, v array<double>")
    assert [tuple(r) for r in nulls.collect()] == [(None, None)]
    empty = local_frame(spark, [], DDL)
    assert empty.schema == StructType.fromDDL(DDL)
    assert empty.collect() == []
    assert empty.count() == 0


def test_local_frame_rejects_rows_of_the_wrong_width(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2), (3,)], "a bigint, b bigint")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2, 3)], "a bigint, b bigint")


def test_local_frame_with_arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, ROWS, DDL)
        rows, jobs = _jobs_in_group(spark, "local_frame_arrow_off", df.collect)
    finally:
        spark.conf.set(key, before)
    assert jobs == 0
    assert [tuple(r) for r in rows] == ROWS
    assert df.schema == StructType.fromDDL(DDL)


def test_create_dataframe_is_called_only_in_local_frame():
    """Every driver-built frame goes through ``local_frame``: the text
    ``createDataFrame(`` appears nowhere else in the package."""
    helpers = PACKAGE / "queries" / "helpers.py"
    (fn,) = [
        node
        for node in ast.parse(helpers.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
    ]
    allowed = range(fn.lineno, fn.end_lineno + 1)
    found = [
        (path.relative_to(PACKAGE).as_posix(), i)
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
        and not (path == helpers and i in allowed)
    ]
    assert found == []
