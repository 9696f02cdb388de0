"""Driver-side literal row sets as JVM LocalRelations.

Shared by the query engine (token/stats/id tables per batch) and the
index builder (partition offsets, heavy-term salt list).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


# The most rows the driver stages in one place: a literal VALUES table
# (above it SQL parse time bloats; literal_df falls back to the RDD-backed
# createDataFrame), the builder's driver-side term_stats tail, the query
# engine's stats snapshot, and the query rows search_df collects (above it
# the batch runs the fully distributed join path instead).
DRIVER_ROWS_MAX = 20_000


def literal_df(spark: SparkSession, rows, schema_ddl: str):
    """Small driver-side row set -> a JVM LocalRelation DataFrame.

    ``spark.createDataFrame(list)`` builds a LogicalRDD over pickled Python
    rows: EVERY stage that scans it (and the BroadcastExchange that builds
    the query-stats hash relation) launches Python workers just to re-read
    constants — measured ~0.3s of executor time per 32-task stage on the
    query path. A SQL ``VALUES`` inline table resolves to a LocalRelation
    at analysis time instead: pure JVM, no Python eval, broadcast directly.

    Strings ride as ``unbase64`` literals (foldable — ResolveInlineTables
    evaluates them during analysis), so arbitrary content needs no SQL
    escaping. Ints/floats use exact literals (repr(float) round-trips IEEE
    754 bit-for-bit through the SQL parser). Falls back to createDataFrame
    for very large row sets, where parse time would dominate.
    """
    import base64

    fields = []  # (name, type) from the DDL, e.g. "query_id long, x string"
    for part in schema_ddl.split(","):
        name, typ = part.strip().split()
        fields.append((name, typ.lower()))
    if len(rows) > DRIVER_ROWS_MAX:
        return spark.createDataFrame(rows, schema_ddl)
    if not rows:
        return spark.createDataFrame([], schema_ddl)

    sql_type = {
        "long": "BIGINT", "bigint": "BIGINT", "int": "INT",
        "double": "DOUBLE", "string": "STRING", "boolean": "BOOLEAN",
    }

    def cell(v, typ):
        if v is None:
            return f"CAST(NULL AS {sql_type[typ]})"
        if typ == "string":
            b = base64.b64encode(v.encode("utf-8")).decode("ascii")
            return f"CAST(unbase64('{b}') AS STRING)"
        if typ == "double":
            # via a STRING cast: Double.parseDouble round-trips repr()
            # bit-exactly INCLUDING the sign of zero, while a bare SQL
            # numeric literal parses as DECIMAL and loses -0.0
            if not math.isfinite(v):
                raise ValueError("non-finite double literal")  # -> fallback
            return f"CAST('{v!r}' AS DOUBLE)"
        if typ in ("long", "bigint"):
            return f"CAST({int(v)} AS BIGINT)"
        if typ == "int":
            return f"CAST({int(v)} AS INT)"
        if typ == "boolean":
            return "true" if v else "false"
        raise ValueError(f"unsupported literal type {typ}")

    try:
        values = ",".join(
            "(" + ",".join(cell(v, t) for v, (_, t) in zip(row, fields)) + ")"
            for row in rows
        )
        return spark.sql(
            f"SELECT * FROM VALUES {values} "
            f"AS t({','.join(name for name, _ in fields)})"
        )
    except Exception:
        # robustness net for values the literal route cannot express
        # (e.g. strings with lone surrogates): same rows, RDD-backed
        return spark.createDataFrame(rows, schema_ddl)


