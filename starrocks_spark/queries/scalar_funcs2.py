"""Second scalar-function sweep (SURVEY.md §2.10): conditional, bit,
IP/net, advanced string, JSON construction, geo. Everything stays in
built-in expressions (whole-stage codegen); no Python in the row path.

Reference files: condition_expr.cpp / case_expr.cpp (conditional),
bit_functions.cpp, inet_aton.cpp (IP), string_functions.cpp
(substring_index/locate/translate/repeat), json_functions.cpp
(json_object/to_json), geo_functions.cpp (st_distance_sphere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.functions.geo import st_distance_sphere
from starrocks_spark.functions.net import inet_aton, inet_ntoa
from starrocks_spark.queries._util import sort_result


def func_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """if / ifnull / nullif / coalesce / multi-branch CASE
    (condition_expr.cpp, case_expr.cpp)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.expr("if(o_totalprice > 200000, 'big', 'small')").alias("sz"),
            F.expr("ifnull(nullif(o_orderstatus, 'O'), 'OPEN')").alias("st"),
            F.expr(
                "coalesce(nullif(o_orderpriority, '1-URGENT'), 'TOP')"
            ).alias("pri"),
            F.expr(
                "CASE WHEN o_totalprice < 50000 THEN 'S'"
                "     WHEN o_totalprice < 150000 THEN 'M'"
                "     WHEN o_totalprice < 300000 THEN 'L'"
                "     ELSE 'XL' END"
            ).alias("bucket"),
        )
        .groupBy("sz", "st", "pri", "bucket")
        .agg(F.count("*").alias("n"))
    )


_CONDITIONAL_SQL = """
SELECT if(o_totalprice > 200000, 'big', 'small') AS sz,
       ifnull(nullif(o_orderstatus, 'O'), 'OPEN') AS st,
       coalesce(nullif(o_orderpriority, '1-URGENT'), 'TOP') AS pri,
       CASE WHEN o_totalprice < 50000 THEN 'S'
            WHEN o_totalprice < 150000 THEN 'M'
            WHEN o_totalprice < 300000 THEN 'L'
            ELSE 'XL' END AS bucket,
       COUNT(*) AS n
FROM orders
GROUP BY sz, st, pri, bucket
"""


def func_bit_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitand/bitor/bitxor/shifts/bit_count (bit_functions.cpp)."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return (
        orders.select(
            (k.bitwiseAND(F.lit(255))).alias("k_and"),
            (k.bitwiseOR(F.lit(4096))).alias("k_or"),
            (k.bitwiseXOR(F.col("o_custkey"))).alias("k_xor"),
            F.shiftleft(k, 3).alias("k_shl"),
            F.shiftright(k, 2).alias("k_shr"),
            F.bit_count(k).alias("k_bits"),
        )
        .agg(
            F.sum("k_and").alias("sum_and"),
            F.sum("k_or").alias("sum_or"),
            F.sum("k_xor").alias("sum_xor"),
            F.sum("k_shl").alias("sum_shl"),
            F.sum("k_shr").alias("sum_shr"),
            F.sum("k_bits").alias("sum_bits"),
        )
    )


_BIT_SQL = """
SELECT CAST(SUM(o_orderkey & 255) AS BIGINT) AS sum_and,
       CAST(SUM(o_orderkey | 4096) AS BIGINT) AS sum_or,
       CAST(SUM(xor(o_orderkey, o_custkey)) AS BIGINT) AS sum_xor,
       CAST(SUM(o_orderkey << 3) AS BIGINT) AS sum_shl,
       CAST(SUM(o_orderkey >> 2) AS BIGINT) AS sum_shr,
       CAST(SUM(bit_count(o_orderkey)) AS BIGINT) AS sum_bits
FROM orders
"""


def func_inet_aton_ntoa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inet_aton/inet_ntoa round-trip over synthetic per-user IPs
    (inet_aton.cpp). The IP string is derived from user_id, encoded
    to int, decoded back — all three must agree."""
    events = load_table(spark, sf_dir, "events")
    uid = F.col("user_id")
    ip = F.concat_ws(
        ".",
        F.lit(10),
        (uid / 65536).cast("long") % 256,
        (uid / 256).cast("long") % 256,
        uid % 256,
    )
    df = events.select(uid.alias("user_id"), ip.alias("ip")).distinct()
    return df.select(
        "user_id",
        "ip",
        inet_aton(F.col("ip")).alias("ip_num"),
        inet_ntoa(inet_aton(F.col("ip"))).alias("ip_back"),
    )


_INET_SQL = """
WITH u AS (
  SELECT DISTINCT user_id,
         concat_ws('.', '10',
                   CAST((user_id // 65536) % 256 AS VARCHAR),
                   CAST((user_id // 256) % 256 AS VARCHAR),
                   CAST(user_id % 256 AS VARCHAR)) AS ip
  FROM events
)
SELECT user_id, ip,
       10 * 16777216
         + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
         + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
         + CAST(split_part(ip, '.', 4) AS BIGINT) AS ip_num,
       ip AS ip_back
FROM u
"""


def func_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring_index / locate / translate / repeat / reverse /
    ascii / initcap-adjacent ops (string_functions.cpp:5514)."""
    part = load_table(spark, sf_dir, "part")
    name = F.col("p_name")
    return part.select(
        F.substring_index(name, " ", 2).alias("first_two_words"),
        F.locate("a", name).alias("first_a"),
        F.translate(name, "aeiou", "AEIOU").alias("vowels_up"),
        F.repeat(F.col("p_brand"), 2).alias("brand_x2"),
        F.reverse(F.col("p_type")).alias("type_rev"),
        F.ascii(name).alias("first_byte"),
        F.length(F.trim(name)).alias("trim_len"),
    )


_STRING_ADV_SQL = """
SELECT array_to_string(string_split(p_name, ' ')[1:2], ' ')
         AS first_two_words,
       CASE WHEN contains(p_name, 'a') THEN position('a' IN p_name)
            ELSE 0 END AS first_a,
       translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
       repeat(p_brand, 2) AS brand_x2,
       reverse(p_type) AS type_rev,
       ascii(p_name) AS first_byte,
       length(trim(p_name)) AS trim_len
FROM part
"""


def func_json_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_object / to_json round-trip: build JSON from columns,
    extract scalars back out (json_functions.cpp json_object,
    jsonpath.cpp). Comparing the re-extracted scalars (not the raw
    JSON text) keeps the check serialization-agnostic."""
    supplier = load_table(spark, sf_dir, "supplier")
    built = supplier.select(
        F.to_json(
            F.struct(
                F.col("s_suppkey").alias("k"),
                F.col("s_name").alias("name"),
                F.col("s_nationkey").alias("nat"),
            )
        ).alias("j")
    )
    return built.select(
        F.get_json_object("j", "$.k").cast("long").alias("k"),
        F.get_json_object("j", "$.name").alias("name"),
        F.get_json_object("j", "$.nat").cast("long").alias("nat"),
    )


_JSON_CONSTRUCT_SQL = """
WITH built AS (
  SELECT to_json(struct_pack(k := s_suppkey, name := s_name,
                             nat := s_nationkey)) AS j
  FROM supplier
)
SELECT CAST(j ->> '$.k' AS BIGINT) AS k,
       j ->> '$.name' AS name,
       CAST(j ->> '$.nat' AS BIGINT) AS nat
FROM built
"""


def func_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_distance_sphere over synthetic coordinates derived from
    nation keys (geo_functions.cpp). The oracle mirrors the haversine
    formula term-for-term; JVM vs libm trig can differ in the last ulp
    (~1e-16 relative), which the 0.1 km rounding absorbs — a flip
    would need a distance within ~1e-9 km of a rounding boundary."""
    nation = load_table(spark, sf_dir, "nation")
    lon1 = (F.col("n_nationkey") * 13.7) % 360 - 180
    lat1 = (F.col("n_nationkey") * 7.3) % 170 - 85
    return nation.select(
        "n_name",
        F.round(
            st_distance_sphere(lon1, lat1, F.lit(0.0), F.lit(0.0)) / 1000.0, 1
        ).alias("km_to_null_island"),
    )


def _sql_geo_haversine() -> str:
    """Same-formula fixed-point twin of st_distance_sphere (identical
    operation order to functions/geo.py; constant 6371008.8)."""
    return """
WITH pts AS (
  -- 13.7/7.3 forced to DOUBLE: a bare decimal literal is DECIMAL in
  -- DuckDB and its exact arithmetic would diverge from Spark's double
  SELECT n_name,
         (n_nationkey * 13.7::DOUBLE) % 360.0::DOUBLE - 180.0 AS lon1,
         (n_nationkey * 7.3::DOUBLE) % 170.0::DOUBLE - 85.0 AS lat1
  FROM nation
), terms AS (
  SELECT n_name,
         radians(lat1) AS rlat1,
         radians(0.0 - lat1) AS dlat,
         radians(0.0 - lon1) AS dlon
  FROM pts
), h AS (
  SELECT n_name,
         sin(dlat / 2) * sin(dlat / 2)
           + cos(rlat1) * cos(radians(0.0)) * sin(dlon / 2) * sin(dlon / 2)
           AS a
  FROM terms
)
SELECT n_name,
       round(6371008.8 * (2.0 * atan2(sqrt(a), sqrt(1.0 - a))) / 1000.0, 1)
         AS km_to_null_island
FROM h
"""


def json_path_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$.items[*].pk`` wildcard path (jsonpath.cpp): build one JSON
    document per order (items = array of line structs), extract every
    item's partkey through the wildcard, explode back to rows. The
    oracle wildcard-extracts with DuckDB's own json_extract — a
    value-hash match proves the path semantics, not just the
    plumbing."""
    from starrocks_spark.functions.jsonpath import json_path_values

    li = load_table(spark, sf_dir, "lineitem") \
        .filter(F.col("l_orderkey") < 1000)
    built = li.groupBy("l_orderkey").agg(
        F.to_json(F.struct(
            F.collect_list(F.struct(
                F.col("l_partkey").alias("pk"),
                F.col("l_quantity").alias("qty"),
            )).alias("items")
        )).alias("j")
    )
    return built.select(
        "l_orderkey",
        F.explode(
            json_path_values(F.col("j"), "$.items[*].pk", "bigint")
        ).alias("pk"),
    )


_JSON_WILDCARD_SQL = """
WITH built AS (
  SELECT l_orderkey,
         to_json(struct_pack(items := list(struct_pack(
             pk := l_partkey, qty := l_quantity)))) AS j
  FROM lineitem WHERE l_orderkey < 1000 GROUP BY l_orderkey
)
SELECT l_orderkey, CAST(u AS BIGINT) AS pk
FROM built, UNNEST(json_extract(j, '$.items[*].pk')) AS t(u)
"""


def json_path_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$..name`` recursive descent (jsonpath.cpp recursive member
    access): a 3-level nested document per nation; the descent
    collects the name at EVERY depth. Desugared to a scalar-value
    regex over the document (functions/jsonpath.py — the documented
    subset); the oracle runs the identical regex in DuckDB."""
    from starrocks_spark.functions.jsonpath import json_path_values

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    built = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select(
        "n_nationkey",
        F.to_json(F.struct(
            F.col("n_name").alias("name"),
            F.struct(
                F.col("r_name").alias("name"),
                F.struct(
                    F.concat(F.lit("meta_"), F.col("r_name"))
                    .alias("name"),
                ).alias("meta"),
            ).alias("region"),
        )).alias("j"),
    )
    return built.select(
        "n_nationkey",
        F.explode(
            json_path_values(F.col("j"), "$..name", "string")
        ).alias("nm"),
    )


from starrocks_spark.functions.jsonpath import _descent_regex  # noqa: E402

_JSON_DESCENT_SQL = f"""
WITH built AS (
  SELECT n_nationkey,
         to_json(struct_pack(
             name := n_name,
             region := struct_pack(
                 name := r_name,
                 meta := struct_pack(name := concat('meta_', r_name))
             ))) AS j
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT n_nationkey, trim(u, '"') AS nm
FROM built,
     UNNEST(regexp_extract_all(j, '{_descent_regex("name")}', 1))
       AS t(u)
"""


# three fixture polygons: triangle, axis-aligned box, concave arrow
_POLYGONS: dict[str, list[tuple[float, float]]] = {
    "triangle": [(-50.0, -50.0), (50.0, -50.0), (0.0, 60.0)],
    "box": [(-170.0, -40.0), (-60.0, -40.0), (-60.0, 40.0),
            (-170.0, 40.0)],
    "arrow": [(60.0, -60.0), (175.0, -60.0), (175.0, 60.0),
              (115.0, 0.0), (60.0, 60.0)],
}


def func_geo_st_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains over synthetic points × 3 fixture polygons
    (geo_functions.cpp st_contains; triangle / box / concave ring).
    Ray-cast crossing count as one HOF aggregate per (point, polygon)
    — row-local, division-free (see functions/geo.py). The oracle
    runs the identical product-chain test over an unnested edge
    list."""
    from starrocks_spark.functions.geo import st_contains, st_polygon

    nation = load_table(spark, sf_dir, "nation")
    pts = nation.select(
        "n_name",
        ((F.col("n_nationkey") * 13.7) % 360 - 180).alias("lon"),
        ((F.col("n_nationkey") * 7.3) % 170 - 85).alias("lat"),
    )
    out = None
    for pid, coords in _POLYGONS.items():
        part = pts.select(
            "n_name", F.lit(pid).alias("poly_id"),
            st_contains(st_polygon(coords), F.col("lon"), F.col("lat"))
            .alias("inside"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def _sql_geo_st_contains() -> str:
    edges = []
    for pid, coords in _POLYGONS.items():
        for i, (xi, yi) in enumerate(coords):
            xj, yj = coords[(i + 1) % len(coords)]
            edges.append(f"('{pid}', {xi!r}::DOUBLE, {yi!r}::DOUBLE, "
                         f"{xj!r}::DOUBLE, {yj!r}::DOUBLE)")
    return f"""
WITH pts AS (
  SELECT n_name,
         (n_nationkey * 13.7::DOUBLE) % 360.0::DOUBLE - 180.0 AS lon,
         (n_nationkey * 7.3::DOUBLE) % 170.0::DOUBLE - 85.0 AS lat
  FROM nation
), edges(poly_id, xi, yi, xj, yj) AS (VALUES {', '.join(edges)}),
crossings AS (
  SELECT n_name, poly_id,
         SUM(CASE WHEN ((yi > lat) != (yj > lat)) AND
                  ((lon - xi) * (yj - yi) - (xj - xi) * (lat - yi))
                  * (CASE WHEN yj - yi > 0 THEN 1.0 ELSE -1.0 END)
                  < 0.0
             THEN 1 ELSE 0 END) AS c
  FROM pts CROSS JOIN edges
  GROUP BY n_name, poly_id
)
SELECT n_name, poly_id, c % 2 = 1 AS inside FROM crossings
"""


QUERIES = {
    "func_conditional_family": func_conditional_family,
    "func_bit_ops": func_bit_ops,
    "func_inet_aton_ntoa": func_inet_aton_ntoa,
    "func_string_advanced": func_string_advanced,
    "func_json_construct": func_json_construct,
    "func_geo_haversine": func_geo_haversine,
    "func_geo_st_contains": func_geo_st_contains,
    "json_path_wildcard": json_path_wildcard,
    "json_path_descent": json_path_descent,
}

ORACLE = {
    "func_conditional_family": _CONDITIONAL_SQL,
    "func_bit_ops": _BIT_SQL,
    "func_inet_aton_ntoa": _INET_SQL,
    "func_string_advanced": _STRING_ADV_SQL,
    "func_json_construct": _JSON_CONSTRUCT_SQL,
    "func_geo_haversine": _sql_geo_haversine(),
    "func_geo_st_contains": _sql_geo_st_contains(),
    "json_path_wildcard": _JSON_WILDCARD_SQL,
    "json_path_descent": _JSON_DESCENT_SQL,
}


def func_ngram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_search similarity of part names against a probe string
    (be/src/exprs/ngram.cpp) — distinct 4-gram containment score."""
    from starrocks_spark.functions.text import ngram_search

    part = load_table(spark, sf_dir, "part")
    score = ngram_search(F.col("p_name"), F.lit("small widget"), 4)
    return (
        part.select(
            "p_partkey",
            F.floor(score * 10000 + 0.5).cast("long").alias("sim_bp"),
        )
        .filter(F.col("sim_bp") > 0)
    )


def _sql_ngram_search() -> str:
    from starrocks_spark.functions.text import sql_ngram_search

    score = sql_ngram_search("p_name", "'small widget'", 4)
    return f"""
SELECT p_partkey,
       CAST(FLOOR(({score}) * 10000 + 0.5) AS BIGINT) AS sim_bp
FROM part
WHERE CAST(FLOOR(({score}) * 10000 + 0.5) AS BIGINT) > 0
"""


QUERIES["func_ngram_search"] = func_ngram_search
ORACLE["func_ngram_search"] = _sql_ngram_search()


def func_money_bytes_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """money_format / format_bytes edge cases over real totals plus
    pinned literals (0, negative, half-cent rounding, each byte-unit
    boundary). Reference: string_functions.cpp money_format,
    format_bytes. Both built from exact integer math so the oracle is
    bit-identical."""
    from starrocks_spark.functions.scalar import format_bytes, money_format

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            "o_orderkey",
            money_format(F.col("o_totalprice")).alias("price_fmt"),
            money_format(-F.col("o_totalprice")).alias("neg_fmt"),
            money_format(F.col("o_totalprice") * 0 + F.lit(0.005))
            .alias("half_cent"),
            format_bytes((F.col("o_orderkey") * 7919).cast("long"))
            .alias("bytes_fmt"),
        )
        .transform(sort_result, "o_orderkey")
    )


def _sql_money_bytes() -> str:
    from starrocks_spark.functions.scalar import (
        sql_format_bytes,
        sql_money_format,
    )

    return f"""
SELECT o_orderkey,
       {sql_money_format('o_totalprice')} AS price_fmt,
       {sql_money_format('-o_totalprice')} AS neg_fmt,
       {sql_money_format('o_totalprice * 0 + 0.005')} AS half_cent,
       {sql_format_bytes('CAST(o_orderkey * 7919 AS BIGINT)')} AS bytes_fmt
FROM orders
WHERE o_orderkey % 1000 = 0
ORDER BY o_orderkey
"""


QUERIES["func_money_bytes_format"] = func_money_bytes_format
ORACLE["func_money_bytes_format"] = _sql_money_bytes()


def func_conv_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radix conversion breadth: conv 10→16, 16→10 round-trip, 10→2,
    bin(), hex()/unhex() (reference: math_functions.cpp conv,
    string_functions.cpp bin/hex). Spark's conv/bin/hex are builtins;
    the oracle uses DuckDB's to_base + bit twiddling."""
    supplier = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return supplier.select(
        "s_suppkey",
        F.conv(k.cast("string"), 10, 16).alias("hex_conv"),
        F.conv(F.conv(k.cast("string"), 10, 16), 16, 10).alias("roundtrip"),
        F.bin(k).alias("bin_str"),
        F.hex(k).alias("hex_str"),
        F.lower(F.hex(F.unhex(F.hex(k)))).alias("unhex_roundtrip"),
    ).transform(sort_result, "s_suppkey")


_CONV_SQL = """
SELECT s_suppkey,
       to_base(s_suppkey, 16) AS hex_conv,
       CAST(('0x' || to_base(s_suppkey, 16))::BIGINT AS VARCHAR)
         AS roundtrip,
       to_base(s_suppkey, 2) AS bin_str,
       to_base(s_suppkey, 16) AS hex_str,
       -- Spark's unhex consumes byte pairs, so the round-trip is the
       -- even-length zero-padded form
       lower(CASE WHEN length(to_base(s_suppkey, 16)) % 2 = 1
             THEN '0' || to_base(s_suppkey, 16)
             ELSE to_base(s_suppkey, 16) END) AS unhex_roundtrip
FROM supplier
ORDER BY s_suppkey
"""

QUERIES["func_conv_bin"] = func_conv_bin
ORACLE["func_conv_bin"] = _CONV_SQL


def func_time_slice_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_slice mode breadth (reference: time_functions.cpp
    time_slice FLOOR|CEIL over second/minute/hour/day/week grids) —
    bucketed event counts per 7-minute floor slice with ceil / hour /
    week slices alongside."""
    from starrocks_spark.functions.scalar import time_slice

    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            time_slice(F.col("ts"), 7, "minute").alias("m7_floor"),
            time_slice(F.col("ts"), 7, "minute", "ceil").alias("m7_ceil"),
            time_slice(F.col("ts"), 2, "hour").alias("h2_floor"),
            time_slice(F.col("ts"), 1, "week", "ceil").alias("w1_ceil"),
        )
        .groupBy("m7_floor", "m7_ceil", "h2_floor", "w1_ceil")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(sort_result, "m7_floor", "m7_ceil")
    )


def _sql_time_slice() -> str:
    from starrocks_spark.functions.scalar import sql_time_slice

    return f"""
SELECT {sql_time_slice('ts', 7, 'minute')} AS m7_floor,
       {sql_time_slice('ts', 7, 'minute', 'ceil')} AS m7_ceil,
       {sql_time_slice('ts', 2, 'hour')} AS h2_floor,
       {sql_time_slice('ts', 1, 'week', 'ceil')} AS w1_ceil,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2, 3, 4
ORDER BY m7_floor, m7_ceil
"""


QUERIES["func_time_slice_modes"] = func_time_slice_modes
ORACLE["func_time_slice_modes"] = _sql_time_slice()


def func_aes_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aes_encrypt / aes_decrypt round-trip (reference:
    encryption_functions.cpp AES_128_ECB default). Spark's builtin
    aes_encrypt/aes_decrypt run JVM-side; DuckDB has no AES, so the
    oracle checks the round-trip law decrypt(encrypt(x, k), k) = x and
    the ciphertext length contract (16-byte blocks), not the cipher
    bytes."""
    customer = load_table(spark, sf_dir, "customer")
    key = F.lit("0123456789abcdef")  # 16-byte key → AES-128
    cipher = F.aes_encrypt(
        F.col("c_name").cast("binary"), key.cast("binary"), F.lit("ECB")
    )
    return (
        customer.filter(F.col("c_custkey") % 500 == 0)
        .select(
            "c_custkey",
            F.aes_decrypt(cipher, key.cast("binary"), F.lit("ECB"))
            .cast("string").alias("roundtrip"),
            F.length(cipher).alias("cipher_len"),
        )
        .transform(sort_result, "c_custkey")
    )


_AES_SQL = """
SELECT c_custkey,
       c_name AS roundtrip,
       CAST((length(c_name) // 16 + 1) * 16 AS INT) AS cipher_len
FROM customer
WHERE c_custkey % 500 = 0
ORDER BY c_custkey
"""

QUERIES["func_aes_crypto"] = func_aes_crypto
ORACLE["func_aes_crypto"] = _AES_SQL
