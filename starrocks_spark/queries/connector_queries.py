"""Connector scan/sink queries (sources/connector.py): an embedded
DuckDB database file plays the external JDBC/MySQL system (reference:
ConnectorScanNode be/src/exec/connector_scan_node.h, ConnectorType.java
:40-48; external sinks be/src/data_sink/external/).

The scan demonstrates the full external-table surface: schema
discovery from the foreign catalog, JDBC-style range-partitioned
parallel reads, predicate pushdown into the foreign engine, Arrow
transport, then a broadcast join against native parquet tables —
exactly how a StarRocks external table joins an OLAP table.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import fixed, sort_result, sql_fixed
from starrocks_spark.sources import connector


def _db_for(spark: SparkSession, sf_dir: str, tables: list[str]) -> str:
    """Materialize an 'external system': copy tables into a DuckDB db
    file (recreated per sf_dir; driver-side, metadata-scale)."""
    import duckdb

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"sr_external_{tag}.duckdb")
    if os.path.exists(path):
        os.remove(path)
    con = duckdb.connect(path)
    try:
        for t in tables:
            con.execute(
                f"CREATE TABLE {t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    finally:
        con.close()
    return path


def connector_duckdb_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-table join: supplier+nation live in the foreign DuckDB
    system (scanned in 4 range partitions with the region filter pushed
    down to the foreign engine), region is a native parquet table
    broadcast onto the connector stream."""
    connector.register(spark)
    db = _db_for(spark, sf_dir, ["supplier", "nation"])
    supplier = (
        spark.read.format("duckdb")
        .option("path", db).option("table", "supplier")
        .option("partitionColumn", "s_suppkey")
        .option("numPartitions", "4")
        .load()
    )
    nation = (
        spark.read.format("duckdb")
        .option("path", db).option("table", "nation")
        .load()
        .filter(F.col("n_regionkey").isin(1, 2))  # pushed to DuckDB
    )
    region = load_table(spark, sf_dir, "region")
    return (
        supplier.join(F.broadcast(nation),
                      F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.sum(fixed(F.col("s_acctbal"))).cast("double") / 1e4)
            .alias("sum_acctbal"),
        )
        .transform(sort_result, "r_name")
    )


_SCAN_SQL = f"""
SELECT r_name, COUNT(*) AS n_suppliers,
       CAST(SUM({sql_fixed('s_acctbal')}) AS DOUBLE) / 10000.0
         AS sum_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE n_regionkey IN (1, 2)
GROUP BY r_name
ORDER BY r_name
"""


def connector_duckdb_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-table sink round-trip: an aggregate is written INTO the
    foreign DuckDB system (tasks stage Arrow->parquet, single commit
    transaction), then scanned back through the connector."""
    connector.register(spark)
    db = _db_for(spark, sf_dir, [])
    orders = load_table(spark, sf_dir, "orders")
    agg = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(fixed(F.col("o_totalprice"))).alias("total_f"),
        )
    )
    agg.write.format("duckdb").mode("overwrite") \
        .option("path", db).option("table", "priority_totals").save()
    back = (
        spark.read.format("duckdb")
        .option("path", db).option("table", "priority_totals")
        .load()
    )
    return back.select(
        "o_orderpriority", "n_orders",
        (F.col("total_f").cast("double") / 1e4).alias("total"),
    ).transform(sort_result, "o_orderpriority")


_SINK_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM({sql_fixed('o_totalprice')}) AS DOUBLE) / 10000.0 AS total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES = {
    "connector_duckdb_scan": connector_duckdb_scan,
    "connector_duckdb_sink": connector_duckdb_sink,
}

ORACLE = {
    "connector_duckdb_scan": _SCAN_SQL,
    "connector_duckdb_sink": _SINK_SQL,
}
