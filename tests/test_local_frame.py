"""``sources.local.local_frame``: driver-side rows as a LocalRelation.

Every driver-built table in the package (walked paths, two-phase offset
tables, centroid lists, seam lists, loop seeds) goes through it, so the
round trip is pinned for each schema shape those sites use, along with
the plan property that motivates it: no Python RDD, hence no Python
worker task in any job that reads the table.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from bigdatagenomic_spark.sources.local import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "bigdatagenomic_spark"

CENTROIDS = StructType(
    [
        StructField("cluster", IntegerType(), False),
        StructField("centroid", ArrayType(DoubleType()), False),
    ]
)
OFFSETS = StructType(
    [StructField("_pid", IntegerType()), StructField("_off", LongType(), True)]
)

CASES = {
    "long_pairs": ([(0, 33), (1, 10), (2, 38)], "pos LONG, read_id LONG"),
    "centroids": ([(0, [0.5, -1.25]), (3, [2.0, 0.0])], CENTROIDS),
    "nullable_offset": ([(0, None), (1, 7), (2, 19)], OFFSETS),
    "empty_seams": ([], "gap_after LONG, next_present LONG"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_round_trip(spark, case):
    rows, schema = CASES[case]
    df = local_frame(spark, rows, schema)
    expected = (
        schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    )
    assert df.schema == expected
    assert [tuple(r) for r in df.collect()] == rows


@pytest.mark.parametrize("case", sorted(CASES))
def test_plan_is_local_relation_without_python_rdd(spark, case):
    rows, schema = CASES[case]
    qe = local_frame(spark, rows, schema)._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_no_create_dataframe_outside_local_frame():
    """Every driver-side table goes through ``local_frame``: a
    ``createDataFrame(<list>)`` anywhere else in the package would bring
    back the Python-RDD stage it removes."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert offenders == []
