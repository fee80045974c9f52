"""Driver values as Spark literals: the one renderer, and JVM-native
literal DataFrames built with it.

The literal rule (:func:`sql_literal`; every driver-side vector, lookup
table, float constant and ``VALUES`` row enters a plan through it):

- ``None`` is ``NULL``; booleans are ``TRUE``/``FALSE``; ints print as
  themselves.
- Floats are ``CAST('<repr>' AS DOUBLE)``. Python's repr round-trips the
  IEEE value and the string-to-double cast parses it back to the same
  bits; a bare SQL numeric would parse as DECIMAL and re-round. The
  specials are spelled the way the cast parses them: ``'NaN'``,
  ``'Infinity'``, ``'-Infinity'``.
- Strings are single-quoted with backslash escapes. Escapes only mean
  something while ``spark.sql.parser.escapedStringLiterals`` is off, so
  a string that needs one raises :class:`Unrenderable` when it is on;
  the conf is read only for such strings.
- Lists and tuples are ``array(...)`` of their rendered items, to any
  depth.

:func:`lit_expr` parses the rendered text in one JVM call. A Column
chain (``F.lit(list)`` is ``array(lit(x), ...)`` in PySpark 4) costs one
py4j round trip per element instead. After constant folding both are
the same array Literal with the same doubles; the element type of the
parsed form is nullable, because the string-to-double cast is.

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
Each column gets an explicit ``CAST``, so the result schema is exactly
the requested one. Anything outside the rule above (datetimes,
Decimals, maps, mixed-type columns under inference) raises
:class:`Unrenderable` so callers can fall back to ``createDataFrame`` —
same rows either way, only the execution path differs.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _escapes_off(spark) -> bool:
    conf = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    return conf.strip().lower() == "true"


def sql_literal(v, escapes_off=None) -> str:
    """SQL literal text for ``v`` under the module's literal rule.
    ``escapes_off()`` is asked only for strings that need an escape
    (backslash or quote), so the common path makes no conf round trip;
    by default it reads the active session's parser mode."""
    if escapes_off is None:
        escapes_off = functools.cache(lambda: _escapes_off(SparkSession.active()))
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # float(v) first: numpy float subclasses repr as 'np.float64(x)'
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
        return "array(" + ", ".join(sql_literal(x, escapes_off) for x in v) + ")"
    raise Unrenderable(type(v).__name__)


def sql_col(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit_expr(value) -> F.Column:
    """Column literal for an array or matrix ``value``, parsed JVM-side
    from :func:`sql_literal` text in one call. Scalars stay ``F.lit``."""
    return F.expr(sql_literal(value))


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
    the original call single-partitioned.

    A ``VALUES`` LocalRelation executes with zero Python tasks, where a
    ``createDataFrame`` literal is a Python-RDD scan whose every action
    pays a Python-worker handshake (measured 5.1 s vs 0.22 s per count
    of a 1-row frame; a 3-node MERGE chain stacked those handshakes
    into 553 s of wall). The fallback is single-partitioned because
    near-empty defaultParallelism slices otherwise multiply through the
    write path: every dynamic table union adds +cores partitions per
    created node, and a bound 1-row × 1-row MERGE endpoint crossJoin
    becomes a left×right-task CartesianProduct (measured: 2048 tasks in
    one MERGE statement). coalesce(1) concatenates slices in order, so
    row order (and any downstream monotonically_increasing_id ordering)
    is preserved."""
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
    escapes_off = functools.cache(lambda: _escapes_off(spark))
    values = ", ".join(
        "(" + ", ".join(sql_literal(v, escapes_off) for v in r) + ")"
        for r in rows
    )
    aliases = ", ".join(f"c{i}" for i in range(len(names)))
    return spark.sql(f"SELECT {cols} FROM (VALUES {values}) AS _v({aliases})")
