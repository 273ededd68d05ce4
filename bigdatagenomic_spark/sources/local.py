"""Driver-side tables: a handful of rows the driver computed (a walked
path, an offset table, a centroid list) turned into a DataFrame.

``spark.createDataFrame(<list>)`` pickles the rows into a Python RDD, so
every job that reads the result runs a Python-worker task per core just
to unpickle them — a fixed, blocked cost per call however few rows there
are. From a pyarrow Table Spark instead plans a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by default):
the rows live in the plan, with no RDD and no worker process, and a
broadcast or collect of them launches no job.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """DataFrame of ``rows`` (tuples in ``schema`` field order) as a
    ``LocalRelation``. ``schema`` is a StructType or a DDL string such
    as ``"pos LONG, read_id LONG"``; zero rows give an empty table of
    that schema. Naive datetimes are read as UTC (the list path reads
    them in the driver's local zone)."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
