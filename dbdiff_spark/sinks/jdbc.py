"""JDBC sink — write diff results back into a relational database.

Completes the JDBC round trip the reference only half-walks: it READS
every table over JDBC (``extract_data.go:30-43``) but can only report to
console/xlsx; operational consumers (ticketing, reconciliation jobs,
audit tables) want the diff AS A TABLE they can query.  Spark's JDBC
writer distributes the insert across executors (one connection per
partition) — coalesce to bound connection count against small servers.

The packed diff's fixed schema (``snapshot.packed_diff``) makes one
audit table serve every diffed table; per-table results write with
their own schema via ``write_diff_jdbc``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dbdiff_spark.config import DbConfig
from dbdiff_spark.sqltext import ident


def write_diff_jdbc(
    df: DataFrame,
    db: DbConfig,
    table: str,
    mode: str = "errorifexists",
    max_connections: int = 8,
) -> None:
    """Write a diff frame (or any result frame) to ``table`` over JDBC.

    ``max_connections`` caps writer parallelism — each partition opens
    one connection, and a 1000-executor insert storm is a DoS on most
    OLTP servers.  Maps/arrays are rendered to strings first (JDBC has
    no portable representation for them)."""
    from pyspark.sql import functions as F

    out = df
    for c, t in df.dtypes:
        if t.startswith(("array", "map", "struct")):
            out = out.withColumn(c, F.col(ident(c)).cast("string"))
    if out.rdd.getNumPartitions() > max_connections:
        out = out.coalesce(max_connections)
    out.write.mode(mode).jdbc(
        db.jdbc_url(), table, properties=db.jdbc_properties()
    )
