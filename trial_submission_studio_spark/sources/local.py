"""Small literal DataFrames without the Python-RDD path.

``spark.createDataFrame(list_of_tuples)`` routes through
``applySchemaToPythonRDD`` — the first use spawns Python worker
processes (seconds of latency) and the lookup side of every broadcast
join becomes an opaque ExistingRDD. For schema-sized lookup tables
(codelists, reciprocal maps) a SQL ``VALUES`` relation keeps the
whole thing JVM-side and lets Catalyst fold it into a
LocalRelation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def sql_literal(v) -> str:
    """Spark SQL literal for a Python value; strings round-trip exactly.

    Spark processes backslash escapes inside string literals, so the
    backslash is escaped first and the quote second. ``${`` is written
    as ``$\\{`` because ``spark.sql`` and ``F.expr`` substitute
    ``${name}`` references (``${env:HOME}``, ``${spark.app.name}``) in
    the raw SQL text before parsing; ``\\{`` parses back to ``{``.
    This is the one escaper for every SQL-literal frame.
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        import math

        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, bytes):
        return f"X'{v.hex()}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(sql_literal(x) for x in v) + ")"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{")
    return f"'{s}'"


def values_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``schema``: 'name type, name type, ...' (Spark DDL).

    Builds ``SELECT ... FROM VALUES (...) AS t(cols)`` with literal
    casts so types match the declared DDL exactly.
    """
    fields = [f.strip() for f in schema.split(",")]
    names, types = zip(*(f.rsplit(" ", 1) for f in fields))
    if not rows:
        casts = ", ".join(
            f"CAST(NULL AS {t}) AS {n}" for n, t in zip(names, types)
        )
        out = spark.sql(f"SELECT {casts} WHERE 1=0")
        _attach_local_rows(out, [], names)
        return out
    value_rows = ", ".join(
        "(" + ", ".join(sql_literal(v) for v in row) + ")" for row in rows
    )
    cols = ", ".join(
        f"CAST({n} AS {t}) AS {n}" for n, t in zip(names, types)
    )
    out = spark.sql(
        f"SELECT {cols} FROM (VALUES {value_rows}) AS t({', '.join(names)})"
    )
    _attach_local_rows(out, rows, names)
    return out


def _attach_local_rows(df: DataFrame, rows, names) -> None:
    """Record the literal rows on the frame so consumers that can
    compile a lookup into a constant expression (operators/
    ct_lookup.py) skip the per-use build job + BroadcastExchange.
    The attribute is best-effort provenance: any transformation
    returns a new DataFrame without it, and every consumer must keep
    the frame-based path as the fallback."""
    df._tss_local_rows = [tuple(r) for r in rows]
    df._tss_local_cols = tuple(names)
