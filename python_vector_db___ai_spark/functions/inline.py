"""Small literal tables as analyzer-inlined ``VALUES`` relations.

``spark.createDataFrame(rows)`` parallelizes the rows into an RDD and
plans a ``LogicalRDD`` leaf.  ``LogicalRDD`` canonicalizes by RDD
identity, so two builds of the *same* literal table never compare
equal — which defeats Spark's cache manager (a downstream
``.cache()``d frame whose plan contains the literal table is missed
on every rebuild and silently recomputed) and the AQE/exchange-reuse
machinery, both of which match on canonicalized plans.  Measured on
``bm25_rrf_hybrid``: the batch branches re-ran 17 AQE stage-jobs per
execution because the 3-row query table made their cached plans
unmatchable (guide §2.4 — these are exchanges that should not exist).

``inline_table`` renders the rows as a SQL ``VALUES`` list instead;
the analyzer inlines that to a ``LocalRelation``, which canonicalizes
by schema + data.  Identical rows → identical canonical plan → cache
and exchange reuse work exactly as they do for parquet-rooted plans.
Driver-side cost is also lower (no RDD, no job to ship the rows).

Only for SMALL tables (query batches, step spines, centroid lists —
things already driver-resident by contract).  Value rendering covers
the engine's literal-table types: ints, floats, strings, booleans,
None, and (nested) arrays thereof.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

_INT_TYPES = {"int": "INT", "integer": "INT", "bigint": "BIGINT",
              "long": "BIGINT", "smallint": "SMALLINT", "tinyint": "TINYINT"}
_FLOAT_TYPES = {"double": "DOUBLE", "float": "FLOAT"}


def _split_fields(schema: str) -> list[tuple[str, str]]:
    """Split a simple DDL string into (name, type) pairs, respecting
    ``array<...>`` nesting."""
    fields, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            fields.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        fields.append("".join(cur))
    out = []
    for f in fields:
        name, _, typ = f.strip().partition(" ")
        out.append((name.strip(), typ.strip().lower()))
    return out


def _sql_type(typ: str) -> str:
    t = typ.strip().lower()
    if t in _INT_TYPES:
        return _INT_TYPES[t]
    if t in _FLOAT_TYPES:
        return _FLOAT_TYPES[t]
    if t == "string":
        return "STRING"
    if t == "boolean":
        return "BOOLEAN"
    if t.startswith("array<") and t.endswith(">"):
        return f"ARRAY<{_sql_type(t[6:-1])}>"
    raise ValueError(f"inline_table: unsupported type {typ!r}")


def _render(v, typ: str) -> str:
    t = typ.strip().lower()
    if v is None:
        return f"CAST(NULL AS {_sql_type(t)})"
    if t in _INT_TYPES:
        return f"CAST({int(v)} AS {_INT_TYPES[t]})"
    if t in _FLOAT_TYPES:
        f = float(v)
        if math.isnan(f):
            return f"CAST('NaN' AS {_FLOAT_TYPES[t]})"
        if math.isinf(f):
            sign = "-" if f < 0 else ""
            return f"CAST('{sign}Infinity' AS {_FLOAT_TYPES[t]})"
        return f"CAST({f!r} AS {_FLOAT_TYPES[t]})"
    if t == "string":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if t == "boolean":
        return "true" if v else "false"
    if t.startswith("array<") and t.endswith(">"):
        inner = t[6:-1]
        if len(v) == 0:
            return f"CAST(array() AS {_sql_type(t)})"
        if inner in _FLOAT_TYPES and all(
                x is not None and math.isfinite(x) for x in v):
            # One JSON literal per vector, not one CAST per element:
            # ``repr`` is the shortest round-trip form, so the parsed
            # doubles are bit-identical (FLOAT narrows from the double,
            # as the per-element CAST does).
            js = "[" + ",".join(repr(float(x)) for x in v) + "]"
            arr = f"from_json('{js}', 'array<double>')"
            if inner == "double":
                return arr
            return f"CAST({arr} AS {_sql_type(t)})"
        return "array(" + ", ".join(_render(x, inner) for x in v) + ")"
    raise ValueError(f"inline_table: unsupported type {typ!r}")


def inline_table(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Build a small literal DataFrame whose plan is a ``LocalRelation``
    (stable canonicalization), not an RDD.

    ``rows``: list of tuples (or scalars for 1-column tables);
    ``schema``: simple DDL, e.g. ``"query_id long, terms array<string>"``.
    """
    fields = _split_fields(schema)
    names = [n for n, _ in fields]
    select = ", ".join(
        f"CAST(c{i} AS {_sql_type(t)}) AS {n}"
        for i, (n, t) in enumerate(fields))
    cols = ", ".join(f"c{i}" for i in range(len(fields)))
    if not rows:
        nulls = ", ".join(_render(None, t) for _, t in fields)
        return spark.sql(
            f"SELECT {select} FROM VALUES ({nulls}) AS _t({cols}) "
            f"WHERE 1 = 0")
    rendered = []
    for row in rows:
        if len(fields) == 1 and not isinstance(row, (tuple, list)):
            row = (row,)
        if len(row) != len(fields):
            raise ValueError(
                f"inline_table: row {row!r} does not match schema "
                f"{schema!r}")
        rendered.append(
            "(" + ", ".join(_render(v, t)
                            for v, (_, t) in zip(row, fields)) + ")")
    return spark.sql(
        f"SELECT {select} FROM VALUES {', '.join(rendered)} AS _t({cols})")
