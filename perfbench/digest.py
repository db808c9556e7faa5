"""Order-insensitive digest of a query's output, computed inside Spark.

A digest is ``<row count>:<64-bit hex>``. The hex part is the sum, modulo
2**64, of one xxhash64 per row, so it does not depend on row order.
Floating-point values are hashed as their 10-significant-digit decimal
text: a plan change that only reorders a floating-point sum moves a value
in its last bits and leaves the digest unchanged, while any real change
of a value changes it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

_FLOAT_FORMAT = "%.9e"


def _stable(col: Column, dtype: T.DataType) -> Column:
    """``col`` with every floating-point value replaced by its rounded text."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        # Adding 0.0 folds -0.0 into 0.0.
        return F.format_string(_FLOAT_FORMAT, col.cast("double") + F.lit(0.0))
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _stable(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_stable(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        # Spark does not hash maps; their sorted entries carry the same values.
        return F.array_sort(
            F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    _stable(e["key"], dtype.keyType).alias("k"),
                    _stable(e["value"], dtype.valueType).alias("v"),
                ),
            )
        )
    return col


def row_hash(df: DataFrame) -> Column:
    """One 64-bit hash per row over every column, nulls kept positional."""
    return F.xxhash64(
        *[
            F.struct(F.col(f"`{f.name}`").isNull(), _stable(F.col(f"`{f.name}`"), f.dataType))
            for f in df.schema.fields
        ]
    )


def digest(df: DataFrame) -> str:
    """``<rows>:<hex>`` for ``df``; equal for any row order."""
    h = df.select(row_hash(df).alias("h"))
    row = h.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
    ).collect()[0]
    lo, hi = row["lo"] or 0, row["hi"] or 0
    return f"{row['n']}:{(lo + (hi << 32)) % 2**64:016x}"
