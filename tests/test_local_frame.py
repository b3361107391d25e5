"""Driver-side frames built in the JVM (frames.py:local_frame).

Every small frame the engine builds from Python data — DML/DDL
summaries, SHOW/DESCRIBE listings, deletion-vector exclusion sets,
empty-table reads, ANN probe tables — goes through ``local_frame``:
an Arrow table under the exact Spark schema, handed to the JVM.  These
tests pin that it matches the ``createDataFrame(<rows>)`` path value
for value and field for field, that no lineage they feed holds a
``PythonRDD`` (a Python-worker job per action), and that no new
``createDataFrame`` call site creeps back into the package.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_engineering_pipeline_project_cloud_spark import statements
from data_engineering_pipeline_project_cloud_spark.frames import local_frame
from data_engineering_pipeline_project_cloud_spark.sources import load_table
from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (
    _dv_decode,
    _dv_exclusion,
    delete_vectors_from_manifest,
    load_manifest,
    read_manifest,
    write_manifest_table,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "data_engineering_pipeline_project_cloud_spark")

MIXED = StructType([
    StructField("k", LongType(), False),
    StructField("name", StringType(), True),
    StructField("n", IntegerType(), True),
    StructField("x", DoubleType(), True),
    StructField("at", TimestampType(), True),
    StructField("vec", ArrayType(DoubleType()), True),
])
MIXED_ROWS = [
    (1, "a", 7, 1.5, dt.datetime(2024, 3, 1, 12, 30, 5, 123456,
                                 tzinfo=dt.timezone.utc), [1.0, -2.5]),
    (2, None, None, None, None, None),
    (3, "c", -1, 0.0, dt.datetime(1999, 12, 31, 23, 59, 59,
                                  tzinfo=dt.timezone.utc), []),
]


@pytest.fixture()
def arrow_off(spark):
    """A vanilla session's setting: Arrow conversion for pandas off."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, prev)


def _python_free(df) -> bool:
    """No Python-worker RDD feeds ``df``: none in its RDD lineage, and
    no ``Scan ExistingRDD`` leaf (how a Python-RDD frame plans) on any
    side of the physical plan — broadcast build sides execute as their
    own jobs, outside the result RDD's lineage."""
    qe = df._jdf.queryExecution()
    return ("PythonRDD" not in qe.toRdd().toDebugString()
            and "ExistingRDD" not in qe.executedPlan().toString())


@pytest.mark.parametrize("rows", [MIXED_ROWS, []], ids=["rows", "empty"])
def test_matches_row_path(arrow_off, rows):
    spark = arrow_off
    got = local_frame(spark, rows, MIXED)
    want = spark.createDataFrame(rows, MIXED)
    assert got.schema == want.schema == MIXED
    assert [f.nullable for f in got.schema] == [False] + [True] * 5
    assert got.collect() == want.collect()
    assert _python_free(got)


def test_ddl_schema_and_columns(arrow_off):
    import numpy as np

    spark = arrow_off
    ddl = "k long, v string"
    got = local_frame(spark, {"k": np.arange(3), "v": ["x", None, "z"]},
                      ddl)
    want = spark.createDataFrame([(0, "x"), (1, None), (2, "z")], ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_null_in_non_nullable_field_refused(spark):
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [(None, "a")], MIXED[:2])


def test_summary_schema_values_and_lineage(arrow_off):
    spark = arrow_off
    df = statements._summary(spark, "OPTIMIZE", "t",
                             files_removed=3, bytes_added=None, rows=0)
    want = StructType([
        StructField("operation", StringType(), False),
        StructField("table", StringType(), False),
        StructField("bytes_added", LongType(), True),
        StructField("files_removed", LongType(), True),
        StructField("rows", LongType(), True),
    ])
    assert df.schema == want
    assert df.collect() == spark.createDataFrame(
        [("OPTIMIZE", "t", None, 3, 0)], want).collect()
    assert _python_free(df)


@pytest.fixture()
def nation_table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "nation")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    write_manifest_table(
        nat.repartitionByRange(3, "n_nationkey"), path, ["n_nationkey"])
    return path


def test_dv_masked_read_lineage(arrow_off, nation_table):
    spark = arrow_off
    delete_vectors_from_manifest(
        local_frame(spark, [(2,), (3,), (11,), (20,)], "n_nationkey long"),
        nation_table, ["n_nationkey"], ["n_nationkey"])
    df = read_manifest(spark, nation_table)
    assert _python_free(df)
    assert {r["n_nationkey"] for r in df.collect()} == \
        set(range(25)) - {2, 3, 11, 20}


def test_dv_exclusion_positions(arrow_off, nation_table):
    """The numpy-built exclusion frame holds exactly the masked
    (file basename, row position) pairs."""
    import numpy as np

    spark = arrow_off
    m = load_manifest(nation_table)
    assert _dv_exclusion(spark, m["files"]) is None
    delete_vectors_from_manifest(
        local_frame(spark, [(0,), (9,), (24,)], "n_nationkey long"),
        nation_table, ["n_nationkey"], ["n_nationkey"])
    files = load_manifest(nation_table)["files"]
    excl = _dv_exclusion(spark, files)
    assert excl.schema == StructType([
        StructField("__file", StringType(), True),
        StructField("__pos", LongType(), True)])
    want = sorted((os.path.basename(f["path"]), int(i))
                  for f in files if f.get("dv")
                  for i in np.flatnonzero(_dv_decode(f["dv"], f["rows"])))
    assert len(want) == 3
    assert sorted(tuple(r) for r in excl.collect()) == want
    assert _python_free(excl)


def test_empty_table_read_lineage(arrow_off, tmp_path):
    from data_engineering_pipeline_project_cloud_spark.sources.manifest_source import (  # noqa: E501
        _table_schema,
        create_declared_table,
    )

    spark = arrow_off
    path = str(tmp_path / "empty")
    create_declared_table(spark, path,
                          StructType.fromDDL("k BIGINT, v STRING"))
    df = read_manifest(spark, path)
    assert df.schema == _table_schema(load_manifest(path))
    assert df.columns == ["k", "v"]
    assert df.collect() == []
    assert _python_free(df)


def test_no_create_dataframe_outside_helper():
    """Only frames.py may call ``createDataFrame``: any other call site
    over Python data brings the Python-worker job back."""
    pat = re.compile(r"createDataFrame\(")
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(
                    PKG, "frames.py"):
                continue
            with open(path) as f:
                for n, line in enumerate(f, 1):
                    if pat.search(line):
                        offenders.append(
                            f"{os.path.relpath(path, PKG)}:{n}")
    assert offenders == [], (
        "build driver-side frames with frames.local_frame: " +
        ", ".join(offenders))
