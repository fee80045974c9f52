"""JVM-native literal DataFrames.

``spark.createDataFrame(<local rows>)`` in classic PySpark always builds
a *Python-RDD-backed* frame (``Scan ExistingRDD`` over pickled rows):
every action that touches it — and every AQE broadcast-stage
materialization of it — launches a Python worker task, and each worker
invocation pays the full worker handshake (``setup_spark_files`` →
``importlib.invalidate_caches()`` → re-reading the pyspark.zip central
directory). Measured on this engine: **5.1 s per count() of a 1-row
literal frame vs 0.22 s for the identical rows built as a SQL VALUES
LocalRelation** — and write-heavy Cypher statements stack 8-10 such
actions (a 3-node MERGE chain measured 553 s wall, almost all of it
Python-worker handshakes).

:func:`local_df` renders simple local rows into a ``VALUES`` query that
Spark parses into a LocalTableScan — pure JVM at execution, zero Python
tasks, and constant-folded into broadcasts without worker round-trips.
Values are emitted as SQL literals with an explicit ``CAST`` per column,
so the result schema is exactly the requested one; floats round-trip
through ``CAST('repr' AS DOUBLE)`` (repr is exact, a bare SQL numeric
literal would parse as DECIMAL and re-round). Anything the renderer does
not recognise (datetimes, Decimals, maps, mixed-type columns under
inference, strings needing escapes while
``spark.sql.parser.escapedStringLiterals`` turns escape processing off)
raises :class:`Unrenderable` so callers can fall back to
``createDataFrame`` — same rows either way, only the execution path
differs.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

_SQL_TYPE = {
    "string": "STRING", "bigint": "BIGINT", "long": "BIGINT",
    "int": "INT", "integer": "INT", "smallint": "SMALLINT",
    "tinyint": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
    "boolean": "BOOLEAN",
}


class Unrenderable(ValueError):
    """Rows/schema outside the literal-SQL subset — caller falls back."""


def _sql_type(dt) -> str:
    """DataType -> SQL type string for the literal CAST (simple +
    array-of-simple only)."""
    s = dt.simpleString()
    base = _SQL_TYPE.get(s)
    if base:
        return base
    if s.startswith("array<") and s.endswith(">"):
        inner = _SQL_TYPE.get(s[6:-1])
        if inner:
            return f"ARRAY<{inner}>"
    raise Unrenderable(s)


def _render(v, escapes_off) -> str:
    """SQL literal for ``v``. ``escapes_off()`` is asked only for strings
    that need an escape (backslash or quote), so the common path makes no
    conf round trip."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr round-trips the IEEE value; string→double cast is exact.
        # float(v) first: numpy float subclasses repr as 'np.float64(x)'.
        # Specials spelled the way Spark's cast parses them (python repr
        # 'inf'/'nan' would not).
        f = float(v)
        if f != f:
            return "CAST('NaN' AS DOUBLE)"
        if f == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if f == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"CAST('{f!r}' AS DOUBLE)"
    if isinstance(v, str):
        if ("\\" in v or "'" in v) and escapes_off():
            raise Unrenderable("escapedStringLiterals=true")
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_render(x, escapes_off) for x in v) + ")"
    raise Unrenderable(type(v).__name__)


def _infer_type(values) -> str:
    """Column type from python values — mirrors createDataFrame's
    inference for the scalar subset (bool before int: bool is an int
    subclass)."""
    t = None
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            c = "BOOLEAN"
        elif isinstance(v, int):
            c = "BIGINT"
        elif isinstance(v, float):
            c = "DOUBLE"
        elif isinstance(v, str):
            c = "STRING"
        else:
            raise Unrenderable(type(v).__name__)
        if t is None:
            t = c
        elif t != c:
            # let createDataFrame's merging rules decide mixed columns
            raise Unrenderable(f"mixed {t}/{c}")
    if t is None:
        raise Unrenderable("all-None column")
    return t


def literal_df(spark, data, schema=None, **kw) -> DataFrame:
    """Drop-in ``spark.createDataFrame`` replacement for driver-literal
    rows: the JVM ``VALUES`` LocalRelation when the rows render, else
    the original call single-partitioned (near-empty defaultParallelism
    slices otherwise multiply through unions and cartesian joins —
    coalesce(1) preserves row order)."""
    try:
        return local_df(spark, data, schema)
    except Unrenderable:
        return spark.createDataFrame(data, schema, **kw).coalesce(1)


def local_df(spark, data, schema=None) -> DataFrame:
    """``createDataFrame(data, schema)`` as a JVM LocalRelation.

    Raises :class:`Unrenderable` when the rows/schema fall outside the
    simple-literal subset — callers keep ``createDataFrame`` as the
    fallback.
    """
    from pyspark.sql import types as T

    if schema is not None:
        if isinstance(schema, str):
            st = T._parse_datatype_string(schema)
        else:
            st = schema
        try:
            names = st.fieldNames()
            types = [_sql_type(f.dataType) for f in st.fields]
        except Unrenderable:
            raise
        except Exception as e:  # not a StructType (e.g. atomic type)
            raise Unrenderable(str(e))
        # dict rows: a key the row lacks is NULL (createDataFrame's fill)
        rows = [
            tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r)
            for r in data
        ]
    else:
        # dict rows, no schema — createDataFrame's inference key order:
        # sorted within each row, new keys appended in encounter order
        if not data or not all(isinstance(r, dict) for r in data):
            raise Unrenderable("schema-less non-dict rows")
        names = []
        for r in data:
            for k in sorted(r):
                if k not in names:
                    names.append(k)
        rows = [tuple(r.get(n) for n in names) for r in data]
        types = [_infer_type([r[i] for r in rows]) for i in range(len(names))]
        _PY = {"BOOLEAN": T.BooleanType(), "BIGINT": T.LongType(),
               "DOUBLE": T.DoubleType(), "STRING": T.StringType()}
        st = T.StructType(
            [T.StructField(n, _PY[t]) for n, t in zip(names, types)]
        )

    # nullif(x, NULL): identical value (the NULL comparand never equals
    # x, and a NULL x falls through to the else-branch as NULL), but the
    # analyzed nullability is TRUE — matching createDataFrame's
    # all-nullable schema contract (a bare CAST of a non-null literal
    # analyzes as nullable=false, and schema-sensitive callers compare
    # StructTypes). Constant-folded into the LocalRelation, so the
    # wrapper never executes per row.
    cols = ", ".join(
        f"nullif(CAST(c{i} AS {t}), CAST(NULL AS {t})) AS `{n}`"
        for i, (n, t) in enumerate(zip(names, types))
    )
    if not rows:
        # empty LocalRelation of the right schema (VALUES needs >= 1 row)
        empty = ", ".join(
            f"CAST(NULL AS {t}) AS `{n}`" for n, t in zip(names, types)
        )
        return spark.sql(f"SELECT {empty} WHERE FALSE")
    for r in rows:
        if len(r) != len(names):
            raise Unrenderable("ragged row")
    # read at most once per call, and only if a string needs an escape
    escapes_off = functools.cache(
        lambda: spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        .strip()
        .lower()
        == "true"
    )
    values = ", ".join(
        "(" + ", ".join(_render(v, escapes_off) for v in r) + ")" for r in rows
    )
    aliases = ", ".join(f"c{i}" for i in range(len(names)))
    return spark.sql(f"SELECT {cols} FROM (VALUES {values}) AS _v({aliases})")
