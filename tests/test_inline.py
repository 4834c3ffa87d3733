"""``inline_table``: numeric-array cells render as one JSON literal per
vector, stay bit-identical, and the table stays a ``LocalRelation``
whose canonical plan is equal across builds."""

from __future__ import annotations

import math
import struct

import numpy as np

from python_vector_db___ai_spark.functions.inline import _render, inline_table

EDGES = [-0.0, 5e-324, 1.7976931348623157e308, -1.7976931348623157e308,
         0.1, 1e-05, 2.0 ** -1074 * 3, 123456789.123456789]
NONFINITE = [float("nan"), float("inf"), -float("inf")]


def _bits(x):
    return struct.pack("<d", x)


def test_finite_double_array_renders_as_one_literal():
    sql = _render([0.5, -0.0, 5e-324], "array<double>")
    assert sql.count("from_json") == 1 and "CAST" not in sql
    # a non-finite element keeps the per-element CAST rendering
    assert "from_json" not in _render([0.5, float("nan")], "array<double>")
    # int arrays are rendered as before
    assert "from_json" not in _render([1, 2], "array<bigint>")


def test_double_arrays_round_trip_bit_exact(spark):
    rng = np.random.default_rng(7)
    rand = [float(x) for x in rng.standard_normal(128)]
    rows = [(0, EDGES), (1, NONFINITE), (2, rand), (3, [1.5, None]),
            (4, []), (5, None)]
    got = {r.id: r.v for r in inline_table(
        spark, rows, "id int, v array<double>").collect()}
    for i, want in [(0, EDGES), (2, rand)]:
        assert [_bits(x) for x in got[i]] == [_bits(x) for x in want]
    assert math.isnan(got[1][0])
    assert got[1][1:] == [float("inf"), -float("inf")]
    assert got[3] == [1.5, None] and got[4] == [] and got[5] is None


def test_float_arrays_narrow_like_a_cast(spark):
    vals = [0.1, 1e-05, -0.0, 3.4028234663852886e38, 1.7976931348623157e308]
    got = inline_table(spark, [(0, vals)],
                       "id int, v array<float>").first().v
    with np.errstate(over="ignore"):        # 1.8e308 narrows to inf
        want = [float(np.float32(x)) for x in vals]
    assert [_bits(x) for x in got] == [_bits(x) for x in want]


def test_numeric_array_table_is_a_stable_local_relation(spark):
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(8)]

    def build():
        return inline_table(spark, rows,
                            "cluster_id int, centroid array<double>")

    a, b = build(), build()
    plan = a._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert plan.canonicalized().equals(
        b._jdf.queryExecution().optimizedPlan().canonicalized())
    assert a.sameSemantics(b)
