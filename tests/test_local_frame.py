"""``session.local_frame``: driver rows as an Arrow ``LocalRelation``
with the semantics of ``createDataFrame(<python rows>, schema)``."""

from __future__ import annotations

import datetime as dt
import math
import pathlib
import re
from decimal import Decimal

import pytest

from orange3_spark.session import local_frame
from tests.conftest import plan_leaves

_TZ = dt.timezone(dt.timedelta(hours=2))

_SCHEMA = ("d double, s string, i int, b bigint, f boolean, "
           "a array<bigint>, m map<string,bigint>, day date, "
           "dec decimal(12,2), ts timestamp, ntz timestamp_ntz")

_ROWS = [
    (float("nan"), None, None, None, None, [1, None, 3], {"x": 1, "y": None},
     dt.date(2020, 1, 2), Decimal("12.34"),
     dt.datetime(2020, 1, 1, 12, 30, tzinfo=_TZ),
     dt.datetime(2020, 1, 1, 12, 30)),
    (None, "a", 5, 2 ** 40, True, None, None, None, None,
     dt.datetime(2020, 1, 1, 12, 30), None),
    (-0.0, "", -1, -5, False, [], {}, dt.date(1969, 12, 31),
     Decimal("-0.01"), None, dt.datetime(1960, 5, 5, 1, 2, 3, 456789)),
]


def _same(a, b) -> bool:
    """Row equality where NaN equals NaN and -0.0 differs from 0.0."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1, a) == math.copysign(1, b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def test_local_frame_matches_list_path(spark):
    want = spark.createDataFrame(_ROWS, _SCHEMA)
    got = local_frame(spark, _ROWS, _SCHEMA)
    assert got.schema == want.schema
    assert "LocalRelation" in plan_leaves(got)
    g, w = got.collect(), want.collect()
    assert _same([tuple(r) for r in g], [tuple(r) for r in w]), (g, w)
    # NaN stays NaN (not NULL), -0.0 keeps its sign, the aware
    # timestamp lands on the same UTC instant as the list path
    assert math.isnan(g[0]["d"]) and g[1]["d"] is None
    assert math.copysign(1, g[2]["d"]) == -1
    assert g[0]["ts"] == dt.datetime(2020, 1, 1, 10, 30)


def test_local_frame_dict_rows_and_struct_schema(spark):
    schema = spark.createDataFrame([], "k bigint, v double").schema
    got = local_frame(spark, [{"v": 2.0, "k": 1}], schema)
    assert [tuple(r) for r in got.collect()] == [(1, 2.0)]


def test_local_frame_zero_rows(spark):
    got = local_frame(spark, [], _SCHEMA)
    assert got.collect() == []
    assert got.schema == spark.createDataFrame([], _SCHEMA).schema
    assert "LocalRelation" in plan_leaves(got)


@pytest.mark.parametrize("value,ddl", [(1.5, "x bigint"),
                                       (2 ** 40, "x int"),
                                       ("s", "x double"),
                                       (1, "x double")])
def test_local_frame_rejects_wrong_types_like_list_path(spark, value, ddl):
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame([(value,)], ddl)
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [(value,)], ddl)


# createDataFrame calls allowed outside session.local_frame, as
# "<path under orange3_spark>:<line>": inputs that already take the
# Arrow path (a pandas frame), never Python rows.
_ALLOWED = {"operators/reshape.py:219"}


def test_no_list_input_create_dataframe_outside_local_frame():
    """A frame built from Python rows with ``createDataFrame`` is a
    pickled Python RDD: every action on it runs a Python-worker job.
    Driver rows go through ``session.local_frame`` instead."""
    root = pathlib.Path(__file__).resolve().parent.parent / "orange3_spark"
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text().splitlines()
        in_helper = False
        for no, line in enumerate(src, 1):
            if rel == "session.py" and re.match(r"\S", line):
                in_helper = line.startswith("def local_frame(")
            if ("createDataFrame(" in line and not in_helper
                    and not line.lstrip().startswith("#")):
                found.add(f"{rel}:{no}")
    assert found == _ALLOWED, sorted(found ^ _ALLOWED)
