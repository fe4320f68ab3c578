"""``plans.local_frame``: driver rows enter a plan as an Arrow local
relation. It must equal ``spark.createDataFrame(rows, schema)`` (schema
with nullability, rows with doubles bit for bit), run no Spark job when
collected, reject bad input, and be the package's only way in."""

import ast
import math
import re
import struct
from pathlib import Path

import pytest
from pyspark.sql import types as T

from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.search.bm25 import _SCORE_SCHEMA
from tests.conftest import _build_jobs

PACKAGE = Path(__file__).resolve().parent.parent / "solrtexttagger_spark"

DOUBLES = [0.1 + 0.2, -0.0, 1e308, 5e-324, math.inf, -math.inf, math.nan]

CASES = {
    "atomic": (
        "a long, b int, c double, d string, e boolean",
        [(2**62, -(2**31), x, "tërm", i % 2 == 0) for i, x in enumerate(DOUBLES)],
    ),
    "arrays": (
        "l array<long>, s array<string>, d array<double>, dd array<array<double>>",
        [
            ([1, 2**60], ["a", "", "b"], DOUBLES, [[0.1, -0.0], [], [math.nan]]),
            ([], [], [], []),
            ([None, 3], [None], [None, 1.5], [None, [None, 2.5]]),
        ],
    ),
    "nulls": (
        "a long, b int, c double, d string, e boolean, f array<long>",
        [(None, None, None, None, None, None), (1, 2, 3.0, "x", False, [4])],
    ),
    "zero_rows": ("query_id long, rank long, doc_id long, score double", []),
    "struct_schema": (_SCORE_SCHEMA, [(0, 7, 0.5), (1, 2, -1.25)]),
}


def _bits(v):
    """A cell with every double replaced by its IEEE-754 bytes."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema  # StructField equality covers nullability
    assert [_bits(tuple(r)) for r in got.collect()] == [
        _bits(tuple(r)) for r in ref.collect()
    ]


def test_local_frame_collect_runs_no_job(spark):
    schema, rows = CASES["atomic"]
    _, jobs = _build_jobs(spark, lambda: local_frame(spark, rows, schema).collect())
    assert jobs == 0
    # the list relation it replaces runs one (the Python-worker job)
    _, ref_jobs = _build_jobs(spark, lambda: spark.createDataFrame(rows, schema).collect())
    assert ref_jobs >= 1


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("x",)], "a long"),  # string in a long
        ([(1.5,)], "a int"),  # pyarrow alone would truncate to 1
        ([([1, 2.0],)], "a array<long>"),
        ([(1,)], "a string"),
        ([(1,)], "a boolean"),
        ([(1.0,)], "a array<double>"),
        ([(1, 2)], "a long"),  # row wider than the schema
        ([(1,)], "a long, b long"),  # narrower
        ([(None,)], T.StructType([T.StructField("a", T.LongType(), False)])),
    ],
    ids=["str_long", "float_int", "float_array_long", "int_string", "int_bool",
         "scalar_array", "wide_row", "narrow_row", "null_in_not_nullable"],
)
def test_local_frame_rejects_bad_input(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, schema)


def test_no_create_dataframe_outside_local_frame():
    """Driver rows enter a plan only through ``local_frame``: any other
    ``createDataFrame`` in the package builds a PythonRDD (one
    Python-worker job per action over it)."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()  # the helper's own body, in plans/__init__.py only
        for node in ast.walk(tree):
            if (
                path == PACKAGE / "plans" / "__init__.py"
                and isinstance(node, ast.FunctionDef)
                and node.name == "local_frame"
            ):
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert not offenders, offenders


def test_term_in_equals_isin(spark):
    """``term_in`` selects the rows ``isin`` selects, with the same
    optimized plan, quotes, backslashes, the empty string and non-ASCII
    terms included; a NUL in a term raises."""
    from pyspark.sql import functions as F

    from solrtexttagger_spark.plans import plan_string, term_in

    terms = [f"t{i}" for i in range(40)] + ["it's", "back\\slash", "", "tërm"]
    df = spark.createDataFrame([(t,) for t in terms + ["zz", "t1x"]], "term string")

    def optimized(rel):
        text = plan_string(rel, "extended")
        return text.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]

    for subset in (terms, terms[:3], [""], []):
        want = df.where(F.col("term").isin(subset))
        got = df.where(term_in(F.col("term"), subset))
        assert sorted(got.collect()) == sorted(want.collect()), subset
        assert optimized(got) == optimized(want), subset
    with pytest.raises(ValueError):
        term_in(F.col("term"), ["a\x00b"])


# integer lists keep ``isin``: term_in carries strings only
INTEGER_ISIN = {"F.col('seg')", "F.col('query_id')", "F.col(id_col)"}


def test_no_isin_over_term_lists():
    """A driver-held list enters a search predicate through
    ``plans.term_in`` (a constant number of py4j calls), never through
    ``Column.isin(list)`` (one JVM literal per element)."""
    offenders = []
    for path in sorted((PACKAGE / "search").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "isin"
                and len(node.args) == 1
                and not isinstance(node.args[0], ast.Starred)
                and ast.unparse(node.func.value) not in INTEGER_ISIN
            ):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert not offenders, offenders


def test_array_lit_equals_list_literal(spark):
    """``array_lit`` folds to the array literal ``F.lit(list)`` gives (same
    optimized plan, same rows) for longs and strings, the empty list
    included; a NUL in a string raises."""
    from pyspark.sql import functions as F

    from solrtexttagger_spark.plans import array_lit, plan_string

    def optimized(rel):  # without the expression ids
        text = plan_string(rel, "extended")
        plan = text.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
        return re.sub(r"#\d+", "", plan)

    one = spark.range(1)
    cases = [
        ([1, 5, 2**60, -3], "long"),
        ([7], "long"),
        ([], "long"),
        (["a", "", "it's", "tërm", "x,y"], "string"),
        ([""], "string"),
        ([], "string"),
    ]
    for values, typ in cases:
        want = one.select(F.lit(values).cast(f"array<{typ}>").alias("a"))
        got = one.select(array_lit(values, typ).alias("a"))
        assert got.collect() == want.collect(), values
        assert got.schema == want.schema, values
        assert optimized(got) == optimized(want), values
    with pytest.raises(ValueError):
        array_lit(["a\x00b"], "string")


def test_no_lit_over_python_lists():
    """A driver-held list becomes an array literal through
    ``plans.array_lit`` (a constant number of py4j calls), never through
    ``F.lit(list)`` or ``F.array(*[F.lit(x) for x in ...])`` (one JVM
    literal per element)."""
    listy = (ast.List, ast.ListComp, ast.Tuple, ast.Set, ast.SetComp)

    def _lit_call(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "lit"
        )

    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "array"
                and any(
                    isinstance(a, ast.Starred)
                    and isinstance(a.value, (ast.ListComp, ast.GeneratorExp))
                    and _lit_call(a.value.elt)
                    for a in node.args
                )
            ):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
                continue
            if not (_lit_call(node) and node.args):
                continue
            arg = node.args[0]
            if isinstance(arg, listy) or (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Name)
                and arg.func.id in ("list", "sorted", "tuple", "set")
            ):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert not offenders, offenders
