"""Helpers shared by the query library.

Float-determinism policy: double-precision SUM is not associative, so a
parallel Spark sum and a DuckDB oracle sum can drift in the last bits;
and double→DECIMAL casts round through *different* pipelines in the two
engines (Java BigDecimal HALF_UP vs C++ rint), which disagrees near
grid half-points. The policy that is bit-identical in both engines:

    fixed(x)  = FLOOR(x * 10^scale + 0.5)      -- pure IEEE double ops,
                                                  identical in any engine
    dsum(x)   = CAST(SUM(CAST(fixed(x) AS DECIMAL(38,0))) AS DOUBLE) / 10^scale
    davg(x)   = dsum(x) / COUNT(x)

Each per-row step is a deterministic IEEE-754 operation; the sum is an
exact integer (DECIMAL(38,0), order-independent, overflow-safe at any
scale factor); the final divisions are single IEEE ops. No rounding
mode is ever consulted, so Spark and DuckDB produce bit-identical
doubles. The same construction survives a 1000-executor cluster — it is
order- and partitioning-independent by design.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def lit_frame(spark, rows, schema):
    """Single-partition literal DataFrame (VALUES / fixture tables).

    A plain ``createDataFrame(list)`` pickles the rows into an RDD
    parallelized across defaultParallelism slices — 32 task launches
    (and a 32-partition build stage on every broadcast) for a handful
    of constant rows, measured ~0.3 s per use at local[32]. Routing
    the same rows through one Arrow batch yields a single-partition
    scan (~10 ms) with identical values and the same explicit schema.
    Empty row lists keep the plain path (no Arrow batch to build).

    The Arrow columns are built with the EXPLICIT per-column types
    from ``schema`` — the earlier pandas ``from_records`` intermediate
    inferred dtypes, which silently promotes a nullable int column to
    float64 (``None``→``NaN``) before the Arrow conversion."""
    if not rows:
        return spark.createDataFrame([], schema)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = (schema if isinstance(schema, StructType)
          else StructType.fromDDL(schema))
    arrow_schema = to_arrow_schema(st)
    cols = list(zip(*[tuple(r) for r in rows]))
    tbl = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type)
         for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(tbl, schema=st)


def maybe_broadcast(df, scaling: bool = True):
    """Size-gated broadcast point.

    ``scaling=True`` (the default): the frame's size GROWS with the
    scale factor (customer/part/supplier scans, aggregates keyed by
    partkey/suppkey/custkey) — return it UNhinted. AQE +
    ``spark.sql.autoBroadcastJoinThreshold`` broadcast it whenever its
    runtime size allows (so small-SF plans are unchanged) and fall
    back to a shuffle join at scale; a forced ``F.broadcast`` hint has
    no size escape hatch and OOMs the driver at 100× (r11 verdict,
    q7/q8/q16).

    ``scaling=False``: the frame is SF-invariant — ``nation`` (25
    rows), ``region`` (5), single-row scalar aggregates — hint it
    unconditionally; broadcasting it is correct at any scale.
    """
    return F.broadcast(df) if not scaling else df


def sort_result(df, *cols):
    """Final ORDER BY of a result the caller collects, sorted in one
    partition: ``df.repartition(1).orderBy(*cols)``.

    A plain global ``orderBy`` plans a ``rangepartitioning`` exchange,
    and Spark's RangePartitioner runs a separate sampling job over the
    whole input before the map stage evaluates that input again — every
    upstream operator (a ``mapInPandas`` included) runs twice. A
    ``SinglePartition`` child already satisfies the sort's ordered
    distribution, so this plans ``Sort <- Exchange SinglePartition``:
    the upstream stays parallel, is evaluated once, and no sampling job
    runs. The reference gathers a top-level ORDER BY the same way, via
    one merging exchange at the result node.

    Contract: only for the FINAL sort of a result that the caller
    collects. Such a result must already fit in the collecting process,
    so sorting it in one task costs no more than the collect does. A sort
    whose output is written to storage, or feeds further parallel
    work, keeps ``orderBy``; ``orderBy(...).limit(k)`` keeps it too
    (it plans ``TakeOrderedAndProject``, which samples nothing), and so
    does a sort whose input is already one partition (a union of
    global aggregates): it plans no range exchange, and the explicit
    repartition here would add a shuffle."""
    return df.repartition(1).orderBy(*cols)


def fixed(col: Column, scale: int = 4) -> Column:
    """Round-half-up to fixed-point integer via pure IEEE double math."""
    return F.floor(col * F.lit(float(10**scale)) + F.lit(0.5)).cast("decimal(38,0)")


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-independent, engine-agnostic SUM of a double expression."""
    return (F.sum(fixed(col, scale)).cast("double") / F.lit(float(10**scale)))


def davg(col: Column, scale: int = 4) -> Column:
    """Order-independent AVG = dsum / count, evaluated left-to-right."""
    return dsum(col, scale) / F.count(col)


# SQL-side twins (DuckDB). Expression shape mirrors the Column versions
# exactly — same operand order, same literals — so IEEE results match.
def sql_fixed(expr: str, scale: int = 4) -> str:
    return f"CAST(FLOOR(({expr}) * {float(10 ** scale)!r} + 0.5) AS DECIMAL(38,0))"


def sql_dec2dbl(expr: str) -> str:
    """Correctly-rounded DECIMAL(38,0)→DOUBLE for DuckDB.

    DuckDB's own cast mis-rounds integers beyond 2^53 (hypothesis
    found it: -9007199254748750, exactly representable, casts to
    ...748), while Spark's (Java BigDecimal) rounds correctly — a
    silent oracle-divergence class at large aggregate magnitudes.
    Decompose into hi·2^32 + lo: hi keeps ≤53 significant bits for
    |v| < 2^85 (trailing zeros are free), lo < 2^32 is exact, so the
    one final add is the only rounding step — IEEE-identical to a
    correctly-rounded direct conversion. 2^85 ≈ 3.9e25 comfortably
    covers any real corpus (100 TB of lineitem ≈ 2e20 scaled units).
    """
    h = f"CAST({expr} AS HUGEINT)"
    r = f"({h} % 4294967296)"
    q = f"(({h} - {r}) / 4294967296)"
    return f"(CAST({q} AS DOUBLE) * 4294967296.0 + CAST({r} AS DOUBLE))"


def sql_dsum(expr: str, scale: int = 4) -> str:
    return (
        f"{sql_dec2dbl(f'SUM({sql_fixed(expr, scale)})')}"
        f" / {float(10 ** scale)!r}"
    )


def sql_davg(expr: str, scale: int = 4) -> str:
    return f"{sql_dsum(expr, scale)} / COUNT({expr})"
