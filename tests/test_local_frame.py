"""``session.local_frame`` is the one way the package turns driver-held
Python values into a DataFrame: a pyarrow Table planned as a JVM-local
relation instead of a PythonRDD scan.

Fidelity: for every schema the package passes it, rows collect exactly
as the list form of ``createDataFrame`` would return them (float32
bit-exact, None in any column, binary, arrays, zero rows), with the
session's Arrow conf on and off. Lint: no ``createDataFrame`` call in
the package outside the helper, so the PythonRDD path cannot return
unnoticed.
"""

from __future__ import annotations

import ast
import importlib
import math
import struct
from pathlib import Path

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from memvid_spark.session import local_frame

PKG = Path(__file__).resolve().parents[1] / "memvid_spark"


def _scoped_calls(tree):
    """(enclosing class names, enclosing function names, Call) for every
    call in a module."""
    out = []

    def visit(node, classes, funcs):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, classes + [child.name], funcs)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, classes, funcs + [child.name])
            else:
                if isinstance(child, ast.Call):
                    out.append((classes, funcs, child))
                visit(child, classes, funcs)

    visit(tree, [], [])
    return out


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).with_suffix("")
        yield path, ".".join(rel.parts), ast.parse(path.read_text(), str(path))


def _package_schemas() -> dict[str, T.StructType]:
    """Every schema argument of a ``local_frame`` call in the package,
    evaluated in its module (``self.X`` resolves on the enclosing class).
    Schemas built from call-time values (the sketch track's f-strings)
    do not resolve here; the test adds those from a live store."""
    from pyspark.sql.types import _parse_datatype_string

    out = {}
    for _, modname, tree in _modules():
        for classes, _, call in _scoped_calls(tree):
            if _callee(call) != "local_frame" or len(call.args) < 3:
                continue
            mod = importlib.import_module(modname)
            scope = {}
            if classes:
                scope["self"] = getattr(mod, classes[0])
            expr = ast.Expression(call.args[2])
            try:
                schema = eval(compile(expr, modname, "eval"), vars(mod), scope)
            except (NameError, AttributeError):
                continue
            if isinstance(schema, str):
                schema = _parse_datatype_string(schema)
            out[schema.simpleString()] = schema
    return out


def _values(dt):
    if isinstance(dt, T.LongType):
        v = st.integers(-(2**63), 2**63 - 1)
    elif isinstance(dt, T.IntegerType):
        v = st.integers(-(2**31), 2**31 - 1)
    elif isinstance(dt, (T.DoubleType, T.FloatType)):
        # any double: float32 columns must round exactly as the JVM does
        v = st.floats(allow_nan=True, allow_infinity=True)
    elif isinstance(dt, T.StringType):
        v = st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)
    elif isinstance(dt, T.BinaryType):
        v = st.binary(max_size=6)
    elif isinstance(dt, T.BooleanType):
        v = st.booleans()
    elif isinstance(dt, T.ArrayType):
        v = st.lists(_values(dt.elementType), max_size=3)
    else:
        raise AssertionError(f"no value strategy for {dt}")
    return st.none() | v


def _rows(schema: T.StructType):
    return st.lists(
        st.tuples(*[_values(f.dataType) for f in schema.fields]), max_size=3
    )


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v)
    if isinstance(v, (bytes, bytearray)):
        return ("bin", bytes(v))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _check_same(spark, schema, rows):
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert _norm(new.collect()) == _norm(old.collect()), (schema, rows)


@pytest.fixture(scope="module")
def schemas(spark) -> dict[str, T.StructType]:
    from memvid_spark.api import MemvidSpark

    out = _package_schemas()
    sk = MemvidSpark(spark)._empty_sketch_df("small").schema
    out[sk.simpleString()] = sk
    return out


def test_package_schemas_resolve(schemas):
    """The AST scan finds the package's schemas, including the serving
    path's puts, vector buffer and media buffer."""
    from memvid_spark.api import PUT_SCHEMA, MemvidSpark
    from pyspark.sql.types import _parse_datatype_string

    assert len(schemas) >= 25
    for ddl in (PUT_SCHEMA, MemvidSpark.EMB_SCHEMA, MemvidSpark.MEDIA_SCHEMA):
        assert _parse_datatype_string(ddl).simpleString() in schemas


def test_local_frame_zero_rows(spark, schemas):
    for schema in schemas.values():
        new = local_frame(spark, [], schema)
        assert new.schema == spark.createDataFrame([], schema).schema
        assert new.collect() == []


@settings(max_examples=2, deadline=None)
@given(data=st.data())
def test_local_frame_matches_list_path(spark, schemas, data):
    for schema in schemas.values():
        _check_same(spark, schema, data.draw(_rows(schema)))


@settings(max_examples=1, deadline=None)
@given(data=st.data())
def test_local_frame_ignores_arrow_conf(spark, schemas, data):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for schema in schemas.values():
            _check_same(spark, schema, data.draw(_rows(schema)))
    finally:
        spark.conf.set(key, prev)


def test_local_frame_edge_values(spark):
    """Pinned without randomness: None in a long column keeps it an
    integer column (pandas widens it to float64), float32 rounding at
    the float range edge, dict rows matched by field name."""
    schema = "a long, s string, f array<float>, b binary, l array<long>"
    rows = [
        (None, None, [1.0000001, 3.4028235677973366e38, -0.0], b"\x00", [1, None]),
        (2**63 - 1, "it's", None, None, []),
    ]
    _check_same(spark, schema, rows)
    assert local_frame(spark, rows, schema).collect()[1].a == 2**63 - 1
    by_name = local_frame(
        spark, [{"b": b"x", "a": 1, "s": "z", "f": None, "l": None}], schema
    )
    assert by_name.collect()[0].asDict() == {
        "a": 1, "s": "z", "f": None, "b": bytearray(b"x"), "l": None
    }


def test_create_dataframe_only_inside_local_frame():
    """Any other ``createDataFrame`` call in the package builds a
    PythonRDD-backed frame whose every scan runs Python worker tasks."""
    offenders = []
    for path, modname, tree in _modules():
        for _, funcs, call in _scoped_calls(tree):
            if _callee(call) != "createDataFrame":
                continue
            if modname == "memvid_spark.session" and funcs == ["local_frame"]:
                continue
            offenders.append(f"{path.relative_to(PKG.parent)}:{call.lineno}")
    assert offenders == []
