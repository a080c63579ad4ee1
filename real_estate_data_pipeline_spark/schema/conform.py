"""Generic schema conformance: ``conform(df, target_schema)`` makes any
DataFrame match a target StructType exactly — the reference's 300-line
enforce_silver_schema (silver_etl_script.py:407-499) as one reusable
operator.

Coercions handled (SURVEY §2.11 N9/N11 + cast table §1.3):
- missing column            -> typed null
- array<struct> -> array<string>: extract first present candidate field
  (name/value/key), else first string field, else to_json each element
- plain string -> array<string>: JSON-parse if it looks like a JSON
  array, else wrap as single element
- scalar type mismatches    -> cast (null on failure via try semantics)
- same type up to nullability -> one plain cast
- struct arrays             -> per-field cast through transform
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _coerce_to_string_array(actual: T.DataType, col: Column) -> Column:
    if isinstance(actual, T.ArrayType):
        el = actual.elementType
        if isinstance(el, T.StructType):
            # N11: pick name/value/key, else first string field, else JSON
            # NB: higher-order lambdas must be single-arg — a second
            # Python param would be bound to Spark's index argument
            names = [f.name for f in el.fields]
            for cand in ("name", "value", "key"):
                if cand in names:
                    return F.transform(col, lambda x: x.getField(cand).cast("string"))
            for f in el.fields:
                if isinstance(f.dataType, T.StringType):
                    chosen = f.name
                    return F.transform(col, lambda x: x.getField(chosen).cast("string"))
            return F.transform(col, lambda x: F.to_json(x))
        return col.cast("array<string>")
    if isinstance(actual, T.StringType):
        # N9: JSON-array string or bare scalar
        return F.when(
            F.trim(col).startswith("["),
            F.from_json(col, T.ArrayType(T.StringType())),
        ).otherwise(F.array(col))
    return F.array(col.cast("string"))


def _coerce_struct_array(target_el: T.StructType, actual: T.DataType, col: Column) -> Column:
    if not isinstance(actual, T.ArrayType) or not isinstance(actual.elementType, T.StructType):
        return F.lit(None).cast(T.ArrayType(target_el))
    actual_fields = {f.name for f in actual.elementType.fields}

    def build(x):
        parts = []
        for f in target_el.fields:
            if f.name in actual_fields:
                parts.append(x.getField(f.name).cast(f.dataType).alias(f.name))
            else:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
        return F.struct(*parts)

    return F.transform(col, build)


def _widens(actual: T.DataType, target: T.DataType) -> bool:
    """True when ``actual`` equals ``target`` except that ``target`` allows
    NULL where ``actual`` does not (a cast that changes no value)."""
    if isinstance(actual, T.ArrayType) and isinstance(target, T.ArrayType):
        return (target.containsNull or not actual.containsNull) and _widens(
            actual.elementType, target.elementType
        )
    if isinstance(actual, T.StructType) and isinstance(target, T.StructType):
        return len(actual.fields) == len(target.fields) and all(
            a.name == t.name and (t.nullable or not a.nullable) and _widens(a.dataType, t.dataType)
            for a, t in zip(actual.fields, target.fields)
        )
    return actual == target


def conform(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project ``df`` onto ``target``: exact column set, exact types."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    cols: list[Column] = []
    for f in target.fields:
        if f.name not in actual:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        col = F.col(f.name)
        a = actual[f.name]
        if a == f.dataType:
            cols.append(col.alias(f.name))
        elif _widens(a, f.dataType):
            # a plain cast: Catalyst's SimplifyCasts drops it where only
            # the array's containsNull differs
            cols.append(col.cast(f.dataType).alias(f.name))
        elif isinstance(f.dataType, T.ArrayType) and isinstance(f.dataType.elementType, T.StringType):
            cols.append(_coerce_to_string_array(a, col).alias(f.name))
        elif isinstance(f.dataType, T.ArrayType) and isinstance(f.dataType.elementType, T.StructType):
            cols.append(_coerce_struct_array(f.dataType.elementType, a, col).alias(f.name))
        elif isinstance(f.dataType, T.TimestampType) and isinstance(a, T.StringType):
            cols.append(F.try_to_timestamp(col).alias(f.name))
        else:
            cols.append(col.cast(f.dataType).alias(f.name))
    return df.select(*cols)
