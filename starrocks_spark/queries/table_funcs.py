"""Table functions / lateral views and scalar function families.

Reference coverage (SURVEY.md §2.9-2.10):
- unnest (be/src/exprs/table_function/unnest.h) → explode/posexplode
- generate_series (generate_series.h) → F.sequence + explode
- json functions (be/src/exprs/json_functions.cpp) → get_json_object
- string/date/math function families (string_functions.cpp,
  time_functions.cpp, math_functions.cpp) → pyspark.sql.functions
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import dsum, sort_result, sql_dsum


def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode(split(...)): word frequency over part names.
    Reference: unnest table function + TableFunctionNode."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(20)
    )


_EXPLODE_WORDS_SQL = """
SELECT word, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word
ORDER BY cnt DESC, word
LIMIT 20
"""


def posexplode_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (unnest WITH ORDINALITY): embedding components."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 3)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    )


_POSEXPLODE_SQL = """
SELECT vec_id, i - 1 AS pos, embedding[i] AS val
FROM (SELECT * FROM embeddings WHERE vec_id < 3) e,
LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
"""


def generate_series_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_series + left join: monthly order counts including
    empty months (reference: generate_series.h table function)."""
    orders = load_table(spark, sf_dir, "orders")
    # single-partition 1-row leaf (bare range(1) schedules
    # defaultParallelism tasks for one row)
    months = spark.range(0, 1, 1, 1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-08-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_ts")
    ).select(F.date_format("month_ts", "yyyy-MM").alias("month"))
    monthly = (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )
    return (
        months.join(monthly, "month", "left")
        .select(
            "month",
            F.coalesce("order_cnt", F.lit(0)).alias("order_cnt"),
            F.coalesce("total", F.lit(0.0)).alias("total"),
        )
    )


_GENERATE_SERIES_SQL = f"""
SELECT m.month,
       COALESCE(o.order_cnt, 0) AS order_cnt,
       COALESCE(o.total, 0.0) AS total
FROM (SELECT strftime(generate_series, '%Y-%m') AS month
      FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01',
                           INTERVAL 1 MONTH)) m
LEFT JOIN (SELECT strftime(o_orderdate, '%Y-%m') AS month,
                  COUNT(*) AS order_cnt,
                  {sql_dsum('o_totalprice')} AS total
           FROM orders GROUP BY 1) o
  ON m.month = o.month
"""


def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props column (reference:
    json_functions.cpp get_json_int / json_query)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .transform(sort_result, "event_type")
    )


_JSON_PROPS_SQL = """
SELECT event_type, COUNT(*) AS cnt,
       CAST(SUM(json_extract(props, '$.k')::INT) AS BIGINT) AS k_sum,
       MIN(json_extract(props, '$.k')::INT) AS k_min,
       MAX(json_extract(props, '$.k')::INT) AS k_max
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family: concat/upper/lpad/substr/replace/
    split_part/levenshtein/length (reference: string_functions.cpp)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.concat(F.lit("nation:"), F.lower("n_name")).alias("tagged"),
        F.upper("n_name").alias("upper_name"),
        F.lpad("n_name", 12, "*").alias("padded"),
        F.substring("n_name", 1, 3).alias("prefix3"),
        F.length("n_name").alias("name_len"),
        F.reverse("n_name").alias("reversed"),
        F.replace(F.col("n_name"), F.lit("A"), F.lit("@")).alias("replaced"),
        F.levenshtein("n_name", F.lit("CHINA")).alias("lev_to_china"),
    )


_STRING_FUNCS_SQL = """
SELECT n_nationkey,
       'nation:' || lower(n_name) AS tagged,
       upper(n_name) AS upper_name,
       lpad(n_name, 12, '*') AS padded,
       substring(n_name, 1, 3) AS prefix3,
       length(n_name) AS name_len,
       reverse(n_name) AS reversed,
       replace(n_name, 'A', '@') AS replaced,
       levenshtein(n_name, 'CHINA') AS lev_to_china
FROM nation
"""


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family: trunc/add/diff/extract/last_day
    (reference: time_functions.cpp)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 90), "yyyy-MM-dd").alias(
            "plus_90d"
        ),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
    )


_DATE_FUNCS_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS d,
       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
       strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus_90d,
       datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       EXTRACT(year FROM o_orderdate) AS yr,
       EXTRACT(month FROM o_orderdate) AS mo,
       EXTRACT(dow FROM o_orderdate) + 1 AS dow,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
FROM orders
WHERE o_orderkey < 500
"""


def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family over part prices (reference:
    math_functions.cpp). Uses integer-safe ops to stay deterministic."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    price = F.col("p_retailprice")
    return part.select(
        "p_partkey",
        F.abs(price - F.lit(1000.0)).alias("abs_dev"),
        F.floor(price).alias("floor_price"),
        F.ceil(price).alias("ceil_price"),
        F.sqrt(price).alias("sqrt_price"),
        # ln is not correctly-rounded in every libm — pin to 6 decimals
        F.round(F.ln(price), 6).alias("ln_price"),
        F.pow(F.lit(2.0), F.col("p_size").cast("double")).alias("pow2_size"),
        (F.col("p_partkey") % 7).alias("mod7"),
        F.greatest(price, F.lit(500.0)).alias("clamped"),
        F.sign(price - F.lit(1000.0)).alias("sgn"),
    )


_MATH_FUNCS_SQL = """
SELECT p_partkey,
       abs(p_retailprice - 1000.0) AS abs_dev,
       CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
       CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
       sqrt(p_retailprice) AS sqrt_price,
       round(ln(p_retailprice), 6) AS ln_price,
       pow(2.0, CAST(p_size AS DOUBLE)) AS pow2_size,
       p_partkey % 7 AS mod7,
       greatest(p_retailprice, 500.0) AS clamped,
       CAST(sign(p_retailprice - 1000.0) AS DOUBLE) AS sgn
FROM part
WHERE p_partkey < 200
"""


def hash_crypto_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/crypto family: md5 / sha2 / base64 / hex (reference:
    hash_functions.cpp, encryption_functions.cpp)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.md5("n_name").alias("md5_name"),
        F.sha2("n_name", 256).alias("sha256_name"),
        F.base64(F.col("n_name").cast("binary")).alias("b64_name"),
        F.lower(F.hex(F.col("n_name").cast("binary"))).alias("hex_name"),
    )


_HASH_FUNCS_SQL = """
SELECT n_nationkey,
       md5(n_name) AS md5_name,
       sha256(n_name) AS sha256_name,
       to_base64(CAST(n_name AS BLOB)) AS b64_name,
       lower(hex(CAST(n_name AS BLOB))) AS hex_name
FROM nation
"""


def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + higher-order functions: transform / filter /
    aggregate / sort (reference: array_functions.cpp + lambda
    FunctionType, logical_type.h:61)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            6,
        ).alias("sq_norm"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_comp"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_comp"),
    )


_ARRAY_HOF_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       round(list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
                         (acc, x) -> acc + x * x), 6) AS sq_norm,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_comp,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_comp
FROM embeddings
WHERE vec_id < 20
"""


QUERIES = {
    "explode_words": explode_words,
    "posexplode_embedding": posexplode_embedding,
    "generate_series_months": generate_series_months,
    "json_extract_props": json_extract_props,
    "func_string_family": string_functions,
    "func_date_family": date_functions,
    "func_math_family": math_functions,
    "func_hash_family": hash_crypto_functions,
    "func_array_higher_order": array_higher_order,
}

ORACLE = {
    "explode_words": _EXPLODE_WORDS_SQL,
    "posexplode_embedding": _POSEXPLODE_SQL,
    "generate_series_months": _GENERATE_SERIES_SQL,
    "json_extract_props": _JSON_PROPS_SQL,
    "func_string_family": _STRING_FUNCS_SQL,
    "func_date_family": _DATE_FUNCS_SQL,
    "func_math_family": _MATH_FUNCS_SQL,
    "func_hash_family": _HASH_FUNCS_SQL,
    "func_array_higher_order": _ARRAY_HOF_SQL,
}
