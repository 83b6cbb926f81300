"""Driver-built frames: `session.local_frame` and the rule that every
driver-built frame in the package goes through it.

`createDataFrame(<python list>)` plans a `PythonRDD` scan whose first
action starts a Python daemon and workers; `local_frame` plans an
Arrow-backed `LocalRelation` that needs no Python worker.
"""

import ast
import pathlib

import pytest

from stark_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "stark_spark"

CASES = [
    ("empty", "a int, b string", []),
    ("string", "s string", [("a",), ("",), (None,), ("\x00 stats",)]),
    ("int", "i int", [(1,), (-2,), (None,), (2 ** 31 - 1,)]),
    ("long", "l long", [(2 ** 40,), (-1,), (None,)]),
    ("double", "d double", [(0.5,), (-1e300,), (None,), (float("inf"),)]),
    ("array<double>", "k int, v array<double>",
     [(0, [1.0, 2.5]), (1, []), (2, None), (3, [None, 0.0])]),
]


def _logical(df) -> str:
    return df._jdf.queryExecution().logical().getClass().getSimpleName()


@pytest.mark.parametrize("name,schema,rows", CASES, ids=[c[0] for c in CASES])
def test_local_frame_matches_list_form(spark, name, schema, rows):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _logical(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_bad_rows(spark):
    with pytest.raises(Exception):
        local_frame(spark, [("x",)], "a int")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a int")


def test_no_create_dataframe_outside_local_frame():
    """Every driver-built frame in the package goes through
    `local_frame`: no other code references `createDataFrame`."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == PKG:
            fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
                      and n.name == "local_frame")
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and node.attr == "createDataFrame"
                    and id(node) not in allowed):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert offenders == []
