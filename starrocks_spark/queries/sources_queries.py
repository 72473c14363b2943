"""Source/sink queries: FILES() round-trips through CSV/JSON/ORC,
partitioned export + read-back, information_schema scan, and
metadata-only min/max/count (SURVEY.md §2.1/§2.2).

Round-trip design: write a benchmark table out in format X, read it
back with inference, and aggregate — the oracle aggregates the
original parquet, so a value-hash match proves the format writer and
reader are lossless for the exercised types.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table, register_tables
from starrocks_spark.queries._util import fixed, sort_result, sql_dsum, sql_fixed
from starrocks_spark.sources.files import (
    meta_scan,
    read_files,
    schema_columns,
    write_files,
)


def _tmp(prefix: str) -> str:
    return os.path.join(tempfile.gettempdir(),
                        f"sr_files_{prefix}_{uuid.uuid4().hex[:10]}")


def files_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV (header) → FILES() read with schema inference →
    join nation → per-nation count + exact balance sum. CSV is the
    reference's primary load format (be/src/formats/csv)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    path = _tmp("csv")
    write_files(customer, path, "csv")
    back = read_files(spark, path, "csv")
    return (
        back.join(nation, back.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(fixed(F.col("c_acctbal"))).cast("double") / 1e4)
            .alias("sum_bal"),
        )
    )


_CSV_SQL = f"""
SELECT n_name, COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS sum_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def files_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → JSON lines → inferred read → aggregate
    (be/src/formats/json)."""
    supplier = load_table(spark, sf_dir, "supplier")
    path = _tmp("json")
    write_files(supplier, path, "json")
    back = read_files(spark, path, "json")
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        (F.sum(fixed(F.col("s_acctbal"))).cast("double") / 1e4)
        .alias("sum_bal"),
    )


_JSON_SQL = f"""
SELECT s_nationkey, COUNT(*) AS n_suppliers, {sql_dsum('s_acctbal')} AS sum_bal
FROM supplier
GROUP BY s_nationkey
"""


def files_orc_partitioned_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → ORC partitioned by p_brand (INSERT INTO FILES(...)
    PARTITION BY layout) → read back with partition discovery; the
    brand filter on read-back prunes directories, not rows."""
    part = load_table(spark, sf_dir, "part")
    path = _tmp("orc")
    write_files(part, path, "orc", partition_by=["p_brand"])
    back = read_files(spark, path, "orc")
    return (
        back.filter(F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").alias("sum_size"),
        )
    )


_ORC_SQL = """
SELECT p_brand, COUNT(*) AS n_parts, CAST(SUM(p_size) AS BIGINT) AS sum_size
FROM part
WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
GROUP BY p_brand
"""


def schema_scan_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.columns over the registered catalog
    (SchemaScanNode, be/src/schema_scanner/)."""
    dfs = register_tables(spark, sf_dir)
    return schema_columns(spark, dfs).select(
        "table_name", "column_name", "ordinal_position", "type_category"
    )


_SCHEMA_SQL = """
SELECT table_name, column_name,
       CAST(ordinal_position AS BIGINT) AS ordinal_position,
       CASE
         WHEN data_type LIKE '%[]' THEN 'array'
         WHEN data_type LIKE 'STRUCT%' THEN 'struct'
         WHEN data_type LIKE 'MAP%' THEN 'map'
         WHEN data_type IN ('BIGINT','INTEGER','SMALLINT','TINYINT')
           THEN 'int'
         WHEN data_type IN ('DOUBLE','FLOAT','REAL') THEN 'float'
         WHEN data_type LIKE 'DECIMAL%' THEN 'decimal'
         WHEN data_type IN ('VARCHAR','CHAR','TEXT') THEN 'text'
         WHEN data_type LIKE 'TIMESTAMP%' OR data_type = 'DATE' THEN 'time'
         WHEN data_type = 'BOOLEAN' THEN 'bool'
         WHEN data_type IN ('BLOB','BYTEA','BINARY','VARBINARY')
           THEN 'binary'
         ELSE 'other'
       END AS type_category
FROM information_schema.columns
WHERE table_name IN ('region','nation','customer','supplier','part',
                     'orders','lineitem','events','documents','embeddings')
"""


def meta_scan_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MetaScanNode analog: count/min/max answered from parquet footer
    statistics via aggregate pushdown (be/src/exec/meta_scan_node.cpp
    → spark.sql.parquet.aggregatePushdown). The plan test asserts the
    scan reads no data pages."""
    orders = meta_scan(spark, f"{sf_dir}/orders.parquet")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_META_SQL = """
SELECT COUNT(*) AS n_rows, MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
"""


QUERIES = {
    "files_csv_roundtrip": files_csv_roundtrip,
    "files_json_roundtrip": files_json_roundtrip,
    "files_orc_partitioned_export": files_orc_partitioned_export,
    "schema_scan_columns": schema_scan_columns,
    "meta_scan_minmax": meta_scan_minmax,
}

ORACLE = {
    "files_csv_roundtrip": _CSV_SQL,
    "files_json_roundtrip": _JSON_SQL,
    "files_orc_partitioned_export": _ORC_SQL,
    "schema_scan_columns": _SCHEMA_SQL,
    "meta_scan_minmax": _META_SQL,
}


def schema_scan_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.tables over the registered catalog
    (sources/infoschema.py; reference: be/src/schema_scanner/
    schema_tables_scanner.cpp): name, column count, row count."""
    from starrocks_spark.sources.infoschema import schema_tables

    dfs = register_tables(spark, sf_dir)
    return schema_tables(spark, dfs)


_TABLE_NAMES = ("region nation customer supplier part orders lineitem "
                "events documents embeddings").split()
_SCHEMA_TABLES_SQL = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name,"
    f" (SELECT CAST(COUNT(*) AS BIGINT) FROM information_schema.columns"
    f"  WHERE table_name = '{t}') AS n_columns,"
    f" (SELECT CAST(COUNT(*) AS BIGINT) FROM {t}) AS table_rows"
    for t in sorted(_TABLE_NAMES)
)


def schema_scan_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.partitions over a partitioned managed table
    (reference: schema_partitions_scanner.cpp — FE partition state):
    the view reads ONLY directory listings + parquet footers. File
    counts depend on writer parallelism, so the oracle checks the
    engine-invariant columns (partition value, row count)."""
    from starrocks_spark.sources.infoschema import schema_partitions
    from starrocks_spark.tables.models import ManagedTable, TableModel

    orders = load_table(spark, sf_dir, "orders")
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["o_orderkey"],
        partition_by="o_orderpriority",
    )
    t.insert(orders)
    parts = schema_partitions(spark, t.path, "o_orderpriority")
    return sort_result(parts.select("partition_value", "n_rows"),
                       "partition_value")


_SCHEMA_PARTS_SQL = """
SELECT o_orderpriority AS partition_value,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY o_orderpriority
ORDER BY partition_value
"""


def schema_scan_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema column statistics served from the catalog
    after ANALYZE (reference: statistic storage read by
    schema_scanner/schema_columns_scanner + CBO) — null/min/max per
    analyzed column, checked against exact SQL aggregates."""
    from starrocks_spark.sources.infoschema import schema_column_stats

    orders = load_table(spark, sf_dir, "orders")
    return schema_column_stats(
        spark, orders, "infoschema_orders_stats",
        ["o_orderkey", "o_custkey"],
    ).transform(sort_result, "column_name")


_SCHEMA_STATS_SQL = """
SELECT 'o_custkey' AS column_name,
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_count,
       MIN(o_custkey) AS min_value, MAX(o_custkey) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderkey',
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
       MIN(o_orderkey), MAX(o_orderkey)
FROM orders
ORDER BY column_name
"""


QUERIES["schema_scan_tables"] = schema_scan_tables
QUERIES["schema_scan_partitions"] = schema_scan_partitions
QUERIES["schema_scan_column_stats"] = schema_scan_column_stats
ORACLE["schema_scan_tables"] = _SCHEMA_TABLES_SQL
ORACLE["schema_scan_partitions"] = _SCHEMA_PARTS_SQL
ORACLE["schema_scan_column_stats"] = _SCHEMA_STATS_SQL
