"""JVM-local small-dimension tables via SQL VALUES.

``spark.createDataFrame(py_list)`` routes local rows through a pickled
Python RDD: the resulting plan node is ``Scan ExistingRDD``, and EVERY
execution schedules Python workers to deserialize the handful of rows —
measured ~0.5 s per scan warm (and broadcast dims re-scan per
execution). A SQL ``VALUES`` list is a JVM ``LocalRelation`` instead:
constant-folded at plan time, zero Python, zero scan (the q_c118 fix,
round 8: 4.3 s -> 0.25 s for a query that IS such a grid).

Use this for every small static/driver-built dimension that feeds a
broadcast join, and for rows a query collects on the driver and hands
back: pass the collected frame's ``schema`` and the rows come back with
it, nullability included, without a pickled round trip.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr() of inf/nan ('inf', 'nan') is not a SQL literal — the
        # VALUES string would fail to parse (or worse, resolve to a
        # column). Refuse loudly; callers with a legitimate non-finite
        # should spell it explicitly (CAST('Infinity' AS DOUBLE)).
        if not math.isfinite(v):
            raise ValueError(
                f"values_df cannot spell non-finite float {v!r}; "
                "use an explicit CAST('Infinity'/'NaN' AS DOUBLE) column"
            )
        return repr(v) + "D"  # force DOUBLE literal, shortest round-trip repr
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, list):
        return "array(" + ", ".join(_lit(x) for x in v) + ")"
    raise TypeError(f"values_df cannot spell {type(v).__name__} literals")


def _split_ddl(ddl: str) -> list[list[str]]:
    """Split "name type, name type, ..." into [name, type] pairs with a
    paren-aware scanner: parameterized types (``decimal(38,6)``,
    ``map<string,int>``... any comma nested in () or <>) must not be
    treated as column separators — the naive ``ddl.split(',')`` silently
    mis-parsed them."""
    parts: list[str] = []
    depth = 0
    start = 0
    for i, ch in enumerate(ddl):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(ddl[start:i])
            start = i + 1
    parts.append(ddl[start:])
    cols = []
    for part in parts:
        pair = part.strip().split(None, 1)
        if len(pair) != 2:
            raise ValueError(f"values_df ddl entry {part.strip()!r} is not 'name type'")
        cols.append(pair)
    return cols


def values_df(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Local relation from ``rows`` (tuples) with the EXACT schema
    ``schema``: every column is CAST so the result schema matches what
    createDataFrame produced before the migration (python int -> BIGINT
    etc.) and oracle schema hashes are unmoved. A DDL string ("name
    type, ...") gives a column NOT NULL unless some row holds a NULL; a
    ``StructType`` keeps each field's nullability, so a collected
    frame's rows come back with the frame's own schema.

    An empty ``rows`` returns a typed EMPTY relation (``WHERE FALSE``
    over a one-row NULL VALUES) — the createDataFrame calls this helper
    replaced did the same, and callers that filter driver-collected
    telemetry down to zero rows (q_b118's numInputRows>0 filter) must
    get an empty result, not a crash."""
    if isinstance(schema, StructType):
        cols = [
            (f.name, f.dataType.simpleString(), f.nullable) for f in schema
        ]
    else:
        cols = [(name, typ, False) for name, typ in _split_ddl(schema)]
    width = len(cols)
    # A literal is NOT NULL; IF(TRUE, c, NULL) is the same value typed
    # nullable (the optimizer folds it away).
    select = ", ".join(
        f"CAST({f'IF(TRUE, c{i}, NULL)' if nullable else f'c{i}'} AS {typ})"
        f" AS {name}"
        for i, (name, typ, nullable) in enumerate(cols)
    )
    anon = ", ".join(f"c{i}" for i in range(width))
    if not rows:
        nulls = ", ".join(["NULL"] * width)
        return spark.sql(
            f"SELECT {select} FROM (VALUES ({nulls})) AS v({anon}) "
            "WHERE FALSE"
        )
    body = ", ".join(
        "(" + ", ".join(_lit(v) for v in row) + ")" for row in rows
    )
    return spark.sql(
        f"SELECT {select} FROM (VALUES {body}) AS v({anon})"
    )
