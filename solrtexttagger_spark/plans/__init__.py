"""Plan construction boundary and plan diagnostics.

Boundary rule: rows the driver holds (query terms, phrase tables,
driver-scored results, empty results) enter a plan only through
``local_frame``. It ships them as an Arrow table, which Spark keeps as a
JVM-side ``LocalRelation``: collecting one runs no Spark job and
broadcasting one runs no Python worker. ``spark.createDataFrame(rows,
schema)`` on a Python list instead parallelizes pickled rows into a
PythonRDD, so every action over even a 10-row relation forks Python
workers, one task per core — on the read path that cost more than the
driver-local scoring itself. tests/test_local_frame.py fails on any other
``createDataFrame`` call in the package.

A driver-held term list enters a predicate through ``term_in``:
``Column.isin(list)`` costs about four py4j round trips per element.
tests/test_local_frame.py fails on any ``.isin`` over a term list in
``search/``. A driver-held id or string list becomes one array literal
through ``array_lit``, never ``F.lit(list)`` (one JVM literal per
element); the same test file guards that too.

Diagnostics: capture and sanity-check the physical plans of the
engine's operators (the shapes tests/test_plans.py pins).

No custom Catalyst rules exist or are needed (SURVEY.md §4): every operator
is an explicit DataFrame program whose desired physical properties —
broadcast joins for small sides, pruned scans, shuffle-free map paths,
WindowGroupLimit top-k — fall out of Catalyst given the right plan shape.
This module makes those properties inspectable at runtime.
"""

from __future__ import annotations

import contextlib
import functools
import io
import re

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.classic.column import Column as JvmColumn
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.utils import get_active_spark_context


@functools.lru_cache(maxsize=256)  # parsing a DDL string is a JVM round trip
def _ddl_schema(ddl: str) -> T.StructType:
    schema = T.DataType.fromDDL(ddl)
    if not isinstance(schema, T.StructType):
        raise ValueError(f"local_frame needs a struct schema, got {ddl!r}")
    return schema


def _float_in_integral(values, dtype: T.DataType) -> bool:
    """pyarrow truncates a Python float into an integer column (1.5 -> 1)
    where createDataFrame's verifier raises; look for one."""
    if isinstance(dtype, T.ArrayType):
        return any(
            v is not None and _float_in_integral(v, dtype.elementType) for v in values
        )
    return isinstance(dtype, T.IntegralType) and any(isinstance(v, float) for v in values)


def local_frame(spark: SparkSession, rows, schema: "str | T.StructType") -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-held rows, built
    as an Arrow table: a ``LocalRelation`` with the same schema (DDL gives
    nullable fields) and rows. ``rows`` are tuples in schema order. A cell
    of the wrong type, a row of the wrong width or a null in a
    non-nullable field raises."""
    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    rows = list(rows)
    width = len(schema.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame rows must have {width} fields ({schema.simpleString()})")
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, (field, afield) in enumerate(zip(schema.fields, arrow_schema)):
        values = [r[i] for r in rows]
        if _float_in_integral(values, field.dataType):
            raise TypeError(
                f"local_frame field {field.name}: float in {field.dataType.simpleString()}"
            )
        col = pa.array(values, type=afield.type)
        if not field.nullable and col.null_count:
            raise ValueError(f"local_frame field {field.name} is not nullable, got None")
        columns.append(col)
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)


def term_in(col: Column, terms) -> Column:
    """``col.isin(terms)`` (same optimized plan) for driver-held strings,
    in a constant number of py4j calls: one NUL-joined string, split once
    in the JVM. Raises ValueError on a term containing NUL."""
    terms = list(terms)
    if any("\x00" in t for t in terms):
        raise ValueError("term_in: a term contains the NUL separator")
    if len(terms) < 2:  # at most one literal: nothing to save
        return col.isin(terms)
    jvm = get_active_spark_context()._jvm
    arr = jvm.org.apache.commons.lang3.StringUtils.splitPreserveAllTokens("\x00".join(terms), "\x00")
    return JvmColumn(col._jc.isin(jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)))


def array_lit(values, element_type: str = "long") -> Column:
    """One ``array<element_type>`` literal for driver-held longs or
    strings, in a constant number of py4j calls: ``F.lit(list)`` makes one
    JVM literal per element. The values travel as one joined string that
    ``split`` cuts and ``cast`` types; constant folding leaves one array
    literal in the optimized plan. Raises ValueError on a string
    containing NUL."""
    values = list(values)
    if not values:
        return F.array().cast(f"array<{element_type}>")
    if element_type == "string":
        if any("\x00" in v for v in values):
            raise ValueError("array_lit: a value contains the NUL separator")
        joined, sep = "\x00".join(values), "\x00"
    else:
        joined, sep = ",".join(str(int(v)) for v in values), ","
    return F.split(F.lit(joined), sep).cast(f"array<{element_type}>")


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def plan_summary(df: DataFrame) -> dict:
    """Counts of the plan features the scale design cares about.

    Counts NODE HEADERS (`(n) NodeName`) so each physical node is counted
    once — formatted explain prints every node name twice (tree + detail)."""
    plan = plan_string(df)

    def nodes(*names: str) -> int:
        pat = r"^\(\d+\) (?:" + "|".join(names) + r")\b"
        return len(re.findall(pat, plan, re.M))

    return {
        "exchanges": nodes("Exchange"),
        "broadcast_joins": nodes("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
        "sort_merge_joins": nodes("SortMergeJoin"),
        "python_stages": nodes(
            "MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas"
        ),
        "window_group_limits": nodes("WindowGroupLimit"),
        "scans": nodes("Scan"),
    }


def assert_plan(df: DataFrame, **expectations) -> None:
    """assert_plan(df, exchanges=0, broadcast_joins=1, ...) — raises
    AssertionError naming the offending feature."""
    got = plan_summary(df)
    for key, want in expectations.items():
        if got.get(key) != want:
            raise AssertionError(f"plan {key}={got.get(key)}, expected {want}\n{plan_string(df)}")
