"""Fulltext MATCH via an inverted (posting-list) index — the Spark
analog of the reference's GIN inverted index + MATCH predicate
(be/src/exprs/gin_functions.cpp, match_expr.cpp; index build
be/src/storage/inverted/). The reference attaches the index to the
storage engine; the Spark-native equivalent is an explicit POSTING
TABLE derived from the corpus, because on a 100 TB corpus that table —
not a per-query scan — is what makes term lookups sublinear:

- **Build** (once, like any index): explode normalized tokens →
  ``(term, doc_id, tf)`` with per-doc term frequency, plus per-term
  document frequency. One shuffle on term; written partitioned by a
  term hash bucket so a query's terms prune to a handful of partition
  directories (the analog of the reference's GIN segment lookup).
- **Query**: the query's terms are a literal handful → broadcast
  semi-join against the posting table (bucket-pruned scan), then one
  groupBy(doc_id) to apply ANY/ALL semantics and a rank by score.
  Shuffle volume is bounded by the posting rows of the queried terms,
  never the corpus.

Scoring is deterministic TF-IDF-lite (tf × ln(N/df) summed over
matched terms, fixed-point), so the DuckDB oracle reproduces it
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.functions import text as T

N_BUCKETS = 64


def build_posting_table(docs: DataFrame) -> DataFrame:
    """(term, bucket, doc_id, tf) posting rows from a `documents`-shaped
    DataFrame. On a cluster this is written once, partitioned by
    ``bucket``; queries prune to their terms' buckets."""
    tokens = docs.select(
        "doc_id", F.explode(T.norm_words(F.col("text"))).alias("term")
    )
    return (
        tokens.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", F.abs(F.hash("term")) % N_BUCKETS)
    )


def match_rank(docs: DataFrame, query_terms: list[str],
               mode: str = "any", k: int = 20) -> DataFrame:
    """MATCH query over the corpus: ANY (OR-semantics) or ALL
    (AND-semantics) on ``query_terms``, ranked by summed
    tf × ln(N/df) (fixed-point basis points for cross-engine
    determinism). Ties break on doc_id for stable top-k.

    This inline form derives the postings in the same plan — one
    explode of the corpus per call. The build-once path is
    ``operators/indexes.py FulltextIndex``: the posting table is
    STORED (clustered by bucket) and every MATCH reads only its
    terms' posting rows."""
    postings = build_posting_table(docs)
    n_docs = docs.count()  # metadata-scale scalar (index stats lookup)

    terms = [t.lower() for t in query_terms]
    hits = postings.filter(F.col("term").isin(terms))
    return rank_postings(hits, terms, n_docs, mode, k)


def rank_postings(hits: DataFrame, terms: list[str], n_docs: int,
                  mode: str = "any", k: int = 20) -> DataFrame:
    """Shared scoring tail: posting rows for the query's terms →
    per-doc tf·ln(N/df) score (fixed-point basis points), ANY/ALL
    semantics, top-k. Shuffle volume is bounded by the queried terms'
    posting rows, never the corpus.

    Precondition: ``hits`` holds at most one row per (term, doc_id), as
    ``build_posting_table`` emits. A term's document frequency is then
    its row count, so ``df`` is one ``count(1)`` aggregation, not a
    distinct aggregation."""
    df_per_term = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        hits.join(F.broadcast(df_per_term), "term")
        .withColumn(
            "w",
            F.floor(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
                * 10000 + 0.5
            ).cast("long"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("w").alias("score_bp"),
        )
    )
    if mode == "all":
        scored = scored.filter(F.col("n_terms") == len(set(terms)))
    return (
        scored.orderBy(F.col("score_bp").desc(), F.col("doc_id"))
        .limit(k)
    )


def sql_match_rank(query_terms: list[str], mode: str = "any",
                   k: int = 20, docs_sql: str = "documents") -> str:
    """DuckDB twin of match_rank over the same corpus derivation."""
    terms = sorted({t.lower() for t in query_terms})
    lst = ", ".join(f"'{t}'" for t in terms)
    words = T.sql_norm_words("text")
    having = f"HAVING COUNT(*) = {len(terms)}" if mode == "all" else ""
    return f"""
WITH postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest({words}) AS term FROM {docs_sql}
  ) GROUP BY term, doc_id
), hits AS (
  SELECT * FROM postings WHERE term IN ({lst})
), dfs AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term
), scored AS (
  SELECT doc_id, COUNT(*) AS n_terms,
         SUM(CAST(FLOOR(tf * ln((SELECT CAST(COUNT(*) AS DOUBLE)
                                 FROM {docs_sql}) / df)
                        * 10000 + 0.5) AS BIGINT)) AS score_bp
  FROM hits JOIN dfs USING (term)
  GROUP BY doc_id
  {having}
)
SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
       CAST(score_bp AS BIGINT) AS score_bp
FROM scored
ORDER BY score_bp DESC, doc_id
LIMIT {k}
"""
