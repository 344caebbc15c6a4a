"""JVM-side literal DataFrames (LocalRelation, never a Python RDD).

``spark.createDataFrame`` over a Python list in classic PySpark always
routes through ``sc.parallelize(rows)`` — a PYTHON-evaluated RDD
(``Scan ExistingRDD``) with ``defaultParallelism`` slices. Every
downstream action then launches one Python-worker round trip per slice
(32 on local[32]; measured ~0.5 s warm per action for a 3-row frame,
and 0.3-0.7 s per 4-task job on local[4] even for ZERO rows), and a
``coalesce(1)`` before a file write is catastrophic: the single task
evaluates all parent slices through Python SEQUENTIALLY (measured 5-6 s
for a 3-row append — guide §4: the JVM↔Python boundary is the cost, so
don't put literal seed rows behind it at all).

The rule, enforced for the whole package by a source test
(``tests/test_localrel.py``): driver-side rows — seed rows, audit rows,
manifests, config relations, EMPTY SNAPSHOTS — belong in the PLAN, not
in a parallelized dataset. At 100 TB the rule is identical.

- ``empty_frame`` is the zero-row relation of a schema: a JVM
  ``LocalRelation`` carrying the schema EXACTLY (nested nullability
  included). The optimizer folds anything over it to
  ``LocalRelation <empty>`` and ``PropagateEmptyRelation`` prunes the
  joins it feeds — an empty table-format snapshot (``TxTable.read``,
  ``scan``, ``changes``) costs no job and no plan subtree, e.g. the
  always-empty search-index tombstones drop out of every query plan.
- ``local_frame`` builds non-empty rows as a SQL ``VALUES`` list —
  evaluated inside whole-stage codegen like any other literal — with
  the declared schema exactly: nullable columns stay nullable even
  when every literal is non-null, non-nullable columns stay
  non-nullable. Values follow ``createDataFrame``'s conversions
  (timestamps go through PySpark's own ``TimestampType.toInternal``,
  so instants are identical).

Supported literal types: None, bool, int, float (incl. nan/inf), str,
bytes, decimal.Decimal, datetime.date, datetime.datetime (naive or
tz-aware), and lists/dicts of those for array/map columns. Struct
values, and non-nullable nested elements in non-empty rows, are
rejected loudly.
"""

from __future__ import annotations

import datetime
import decimal
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_ESCAPES = {
    "\\": "\\\\",
    "'": "\\'",
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "\0": "\\0",
}


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + "".join(_ESCAPES.get(ch, ch) for ch in s) + "'"


def _lit(v, dt: T.DataType) -> str:
    """SQL text of the literal ``v`` declared as ``dt`` (the projection
    casts it to ``dt``; nested values are cast here so every VALUES
    row carries one type)."""
    if v is None:
        return "NULL"
    if isinstance(dt, T.ArrayType):
        return (
            "CAST(array("
            + ", ".join(_lit(x, dt.elementType) for x in v)
            + f") AS {dt.simpleString()})"
        )
    if isinstance(dt, T.MapType):
        kv = ", ".join(
            f"{_lit(k, dt.keyType)}, {_lit(x, dt.valueType)}"
            for k, x in v.items()
        )
        return f"CAST(map({kv}) AS {dt.simpleString()})"
    if isinstance(dt, T.TimestampType):
        # PySpark's own conversion, so the instant is createDataFrame's
        return f"timestamp_micros({dt.toInternal(v)})"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "float('NaN')"
        if math.isinf(v):
            return "float('Infinity')" if v > 0 else "float('-Infinity')"
        return repr(v) + "D"  # repr round-trips doubles exactly
    if isinstance(v, str):
        return sql_string(v)
    if isinstance(v, bytes):
        return f"X'{v.hex()}'"
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            raise TypeError(
                f"tz-aware datetime {v!r} for a {dt.simpleString()} column"
            )
        return f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    raise TypeError(f"unsupported literal type {type(v).__name__}: {v!r}")


_ZERO = {
    T.StringType: "''",
    T.BinaryType: "X''",
    T.BooleanType: "FALSE",
    T.DateType: "DATE '1970-01-01'",
    T.TimestampType: "timestamp_micros(0)",
    T.TimestampNTZType: "TIMESTAMP_NTZ '1970-01-01 00:00:00'",
    T.ArrayType: "array()",
    T.MapType: "map()",
}


def _non_null(expr: str, dt: T.DataType) -> str:
    """``expr`` as a NON-nullable column: coalesced with a constant of
    ``dt`` that never applies (the rows were checked non-null)."""
    if isinstance(dt, T.NumericType):
        zero = "0"
    else:
        zero = next(
            (z for t, z in _ZERO.items() if isinstance(dt, t)), None
        )
        if zero is None:
            raise TypeError(f"non-nullable {dt.simpleString()} column")
    return f"coalesce({expr}, CAST({zero} AS {dt.simpleString()}))"


def _struct(schema) -> T.StructType:
    return (
        T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    )


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """The zero-row DataFrame of ``schema`` (DDL string or StructType)
    as a JVM ``LocalRelation`` with exactly that schema."""
    jschema = spark._jsparkSession.parseDataType(_struct(schema).json())
    encoder = spark._jvm.org.apache.spark.sql.Encoders.row(jschema)
    return DataFrame(spark._jsparkSession.emptyDataset(encoder).toDF(), spark)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of driver-side literal ``rows`` with exactly
    ``schema`` (DDL string or StructType), built as a JVM
    ``LocalRelation`` — the JVM twin of ``spark.createDataFrame`` over
    a Python list."""
    struct = _struct(schema)
    rows = list(rows)
    if not rows:
        return empty_frame(spark, struct)
    n = len(struct.fields)
    for r in rows:
        if len(r) != n:
            raise ValueError(
                f"row arity {len(r)} != schema arity {n}: {tuple(r)!r}"
            )
        for f, v in zip(struct.fields, r):
            if v is None and not f.nullable:
                raise ValueError(f"NULL in non-nullable column {f.name!r}")
    casts = []
    for i, f in enumerate(struct.fields):
        c = f"CAST(c{i} AS {f.dataType.simpleString()})"
        casts.append(
            f"{c if f.nullable else _non_null(c, f.dataType)} AS `{f.name}`"
        )
    # One all-NULL marker row (filtered back out) makes every column
    # NULLABLE at analysis time (VALUES columns would otherwise infer
    # non-nullable when every literal is non-null); non-nullable
    # columns are then pinned back by _non_null.
    vals = ", ".join(
        ["(1, " + "NULL, " * (n - 1) + "NULL)"]
        + [
            "(0, "
            + ", ".join(_lit(v, f.dataType) for v, f in zip(r, struct.fields))
            + ")"
            for r in rows
        ]
    )
    alias = ", ".join(["m"] + [f"c{i}" for i in range(n)])
    df = spark.sql(
        f"SELECT {', '.join(casts)} FROM (VALUES {vals}) AS t({alias}) "
        "WHERE m = 0"
    )
    if df.schema != struct:
        raise TypeError(
            f"literal rows cannot carry schema {struct.simpleString()} "
            f"exactly (got {df.schema.simpleString()}): non-nullable "
            "nested elements or field metadata"
        )
    return df
