"""Pin ``sources.local_frame`` as the only way a frame is built from
driver-side rows.

``spark.createDataFrame(list)`` plans a Python RDD: every scan of the
frame starts Python-worker tasks, however few its rows. ``local_frame``
plans a ``LocalRelation`` instead. The scan below fails on any other
``createDataFrame(`` call in the package.
"""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql.types import LongType, StructField, StructType

import ojo_daps_mirror_spark
from ojo_daps_mirror_spark.sources import local_frame

PACKAGE = pathlib.Path(ojo_daps_mirror_spark.__file__).parent


def _offences(tree: ast.AST) -> list[int]:
    """Lines of ``createDataFrame(`` calls outside a ``local_frame``
    function body."""
    out = []

    def visit(node: ast.AST, inside: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = inside or node.name == "local_frame"
        if (
            not inside
            and isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            out.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    visit(tree, False)
    return sorted(out)


def test_package_builds_driver_frames_only_through_local_frame():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = _offences(ast.parse(path.read_text(), filename=str(path)))
        if lines:
            found[str(path.relative_to(PACKAGE))] = lines
    assert not found, f"use sources.local_frame instead: {found}"


def test_the_scan_catches_the_old_forms():
    bad = (
        "out = spark.createDataFrame(rows, 'a int')\n"
        "def f(spark):\n"
        "    return spark.createDataFrame([], 'a int')\n"
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
    )
    assert _offences(ast.parse(bad)) == [1, 3]


def _job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_is_a_local_relation_collected_without_a_job(spark):
    df = local_frame(spark, [(1, 0.5), (2, None)], "node bigint, w double")
    assert _optimized(df).startswith("LocalRelation")
    j0 = _job_id(spark)
    rows = df.collect()
    assert _job_id(spark) == j0
    assert [tuple(r) for r in rows] == [(1, 0.5), (2, None)]


def test_local_frame_keeps_non_nullable_fields(spark):
    schema = StructType(
        [
            StructField("step", LongType(), False),
            StructField("doc_id", LongType(), False),
        ]
    )
    df = local_frame(spark, [(1, 7), (2, 9)], schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [(1, 7), (2, 9)]


def test_local_frame_empty_rows(spark):
    df = local_frame(spark, [], "id_a bigint, id_b bigint, jaccard double")
    assert _optimized(df).startswith("LocalRelation")
    assert df.columns == ["id_a", "id_b", "jaccard"]
    assert dict(df.dtypes)["jaccard"] == "double"
    j0 = _job_id(spark)
    assert df.collect() == []
    assert _job_id(spark) == j0
