"""Violation-row schema — the distributed representation of differences.

The reference materializes Python difference objects one at a time
(datatest/differences.py).  At 10^12-row scale the violation stream must
itself be a DataFrame; this module defines its schema and the Column
factories that build violation structs inside a single projection, so
that N row-level rules cost one scan.

Schema (stable across the engine — every operator emits exactly this):

    rule_id       string  -- identifies the rule that fired
    key           string  -- group key (null for ungrouped / list-form)
    column        string  -- column under test (null for row/tuple rules)
    diff_type     string  -- MISSING | EXTRA | INVALID | DEVIATION
    invalid       string  -- repr-normalized offending value (null for Missing)
    expected      string  -- repr-normalized expected value (nullable)
    deviation     double  -- actual - expected for DEVIATION rows (NaN allowed)
    expected_num  double  -- numeric expected for DEVIATION rows (tolerance math)
    partition_id  string  -- data partition the row came from (checkpointing)

The string normalization ("repr-normalized") renders numerics without a
trailing ``.0`` for integral doubles so Spark and driver-side reprs
agree; see ``repr_col``.
"""

from __future__ import annotations

import math
from typing import Any, Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "VIOLATION_SCHEMA",
    "VIOLATION_COLUMNS",
    "MISSING",
    "EXTRA",
    "INVALID",
    "DEVIATION",
    "repr_col",
    "violation_struct",
    "local_frame",
    "empty_violations",
    "finalize_violations",
]

MISSING = "MISSING"
EXTRA = "EXTRA"
INVALID = "INVALID"
DEVIATION = "DEVIATION"

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("column", T.StringType(), True),
        T.StructField("diff_type", T.StringType(), True),
        T.StructField("invalid", T.StringType(), True),
        T.StructField("expected", T.StringType(), True),
        T.StructField("deviation", T.DoubleType(), True),
        T.StructField("expected_num", T.DoubleType(), True),
        T.StructField("partition_id", T.StringType(), True),
    ]
)

VIOLATION_COLUMNS = [f.name for f in VIOLATION_SCHEMA.fields]


def repr_col(col: Column) -> Column:
    """Render any column value as its normalized string form.

    Integral floats render without the trailing ``.0`` (so ``5.0`` from a
    double column and ``5`` from an int column normalize identically —
    needed because the reference compares Python values across types
    while Spark columns are uniformly typed).
    """
    c = col.cast("string")
    # integral-double normalization: "5.0" -> "5"
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.regexp_replace(c, r"^(-?\d+)\.0$", r"$1")
    )


def py_repr(value: Any) -> Optional[str]:
    """Driver-side twin of :func:`repr_col` for literal expected values."""
    if value is None:
        return None
    if isinstance(value, bool):
        return str(value).lower()  # Spark renders booleans lowercase
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if value == int(value) and abs(value) < 1e15:
            return str(int(value))
        return repr(value)
    return str(value)


def violation_struct(
    rule_id: str,
    diff_type: Column,
    *,
    key: Optional[Column] = None,
    column: Optional[str] = None,
    invalid: Optional[Column] = None,
    expected: Optional[Column] = None,
    deviation: Optional[Column] = None,
    expected_num: Optional[Column] = None,
    partition_id: Optional[Column] = None,
) -> Column:
    """Build one violation struct as a Column expression.

    All fields are computed JVM-side (whole-stage codegen) — the struct is
    assembled inside the same projection as the rule predicate, so adding
    rules does not add scans.
    """

    def _s(c: Optional[Column]) -> Column:
        return c.cast("string") if c is not None else F.lit(None).cast("string")

    def _d(c: Optional[Column]) -> Column:
        return c.cast("double") if c is not None else F.lit(None).cast("double")

    return F.struct(
        F.lit(rule_id).alias("rule_id"),
        _s(key).alias("key"),
        F.lit(column).cast("string").alias("column"),
        diff_type.cast("string").alias("diff_type"),
        _s(invalid).alias("invalid"),
        _s(expected).alias("expected"),
        _d(deviation).alias("deviation"),
        _d(expected_num).alias("expected_num"),
        _s(partition_id).alias("partition_id"),
    )


def local_frame(
    spark,
    rows: Union[Sequence[Sequence[Any]], Mapping[str, Sequence[Any]]],
    schema: Union[T.StructType, str],
) -> DataFrame:
    """A DataFrame over driver-held values, built as an Arrow table.

    ``rows`` is either a sequence of row tuples in field order or a
    mapping of field name to column values (a list, a numpy array or a
    pandas Series); pass columns when the caller already holds them, so
    no tuples are built only to be taken apart again.  ``schema`` is
    required, as a ``StructType`` or a DDL string: it is never inferred
    from the values.  Arrow converts each value to its field's type
    (an int into a double field becomes a float; ``None`` becomes
    null) and raises on a value it cannot convert, such as a string in
    a numeric field, or a null in a non-nullable field.

    The frame plans as a ``LocalTableScan``: the JVM holds the rows
    and knows their size, so no action over it starts a Python worker.
    ``createDataFrame`` over Python rows would plan a ``Scan
    ExistingRDD`` over a parallelized Python RDD instead, which forks
    Python workers on every action that reads it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, Mapping):
        columns = [rows[name] for name in arrow_schema.names]
    else:
        columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def empty_violations(spark) -> DataFrame:
    return local_frame(spark, [], VIOLATION_SCHEMA)


def finalize_violations(df: DataFrame) -> DataFrame:
    """Project a violation-fragment DataFrame onto the canonical column
    order so fragments from different operators union cleanly."""
    cols = []
    for field in VIOLATION_SCHEMA.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
