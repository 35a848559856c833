"""Small driver-side results handed back to Spark as plan leaves.

Builders that fit a small model on the driver (merge tables, power
iterations, forecasts) return it as a DataFrame. ``createDataFrame``
on a Python list plans a ``LogicalRDD`` over a ``PythonRDD``, so every
execution of such a plan starts Python workers to re-serialize rows
the driver already holds. An Arrow table instead becomes a JVM
``LocalRelation`` (a ``LocalTableScan`` once planned): the rows travel
once, at build time, and whatever runs the plan never leaves the JVM.

:func:`arrow_columns` types tuples by a schema for both this and the
Python row kernels' output batches (operators/multimodal.py:row_kernel).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def driver_table(
    spark: SparkSession, rows: Iterable[tuple], ddl: str
) -> DataFrame:
    """``rows`` (tuples in ``ddl``'s column order) as a DataFrame whose
    plan is a ``LocalRelation``, also when ``rows`` is empty or holds
    NULLs."""
    struct = StructType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(arrow_columns(rows, schema), schema=schema)
    return spark.createDataFrame(table, struct)


def arrow_columns(rows: Iterable[tuple], schema: pa.Schema) -> list[pa.Array]:
    """``rows`` (tuples in ``schema``'s field order) as one typed Arrow
    array per field. A value its field's type cannot hold (an ``int``
    field given 2**31, say) raises instead of wrapping."""
    rows = list(rows)
    return [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(schema)
    ]
