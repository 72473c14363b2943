"""Corpus-curation queries: sequence packing, deterministic splits,
repetition quality filters, PII redaction (operators/curation.py).

These extend the reference's query surface with the shard-preparation
stages of an LLM training-data pipeline (the north-star extensions in
SURVEY.md) — each with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.operators import curation
from starrocks_spark.queries._util import sort_result

QUERIES = {}
ORACLE = {}


# ---------------------------------------------------------------------------
# sequence packing

def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-stream packing of every document into 2048-token shards
    per source, via the distributed prefix sum (no single-reducer
    window). The oracle recomputes the SAME offsets with a plain
    global window cumsum — an exact cross-check of the two-phase
    prefix-sum against the semantic definition."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.pack_sequences(
        docs, budget=2048, stream_col="source", order_col="doc_id"
    ).transform(sort_result, "stream", "doc_id")


ORACLE["pack_token_shards"] = (
    curation.sql_pack_sequences(budget=2048, stream_col="source",
                                order_col="doc_id")
    + " ORDER BY stream, doc_id"
)
QUERIES["pack_token_shards"] = pack_token_shards


# ---------------------------------------------------------------------------
# deterministic stratified split

def split_stratified_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-stable train/val/test split (96/2/2 on an md5 bucket of
    doc_id), audited per language: document counts and the id range.
    Re-running on a regrown corpus keeps every old doc in its old
    split — the anti-contamination property."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            curation.split_label(F.col("doc_id")).alias("split"),
            "doc_id",
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .transform(sort_result, "lang", "split")
    )


ORACLE["split_stratified_counts"] = f"""
SELECT lang, {curation.sql_split_label('doc_id')} AS split,
       COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents
GROUP BY 1, 2
ORDER BY lang, split
"""
QUERIES["split_stratified_counts"] = split_stratified_counts


# ---------------------------------------------------------------------------
# Gopher-style repetition filter

def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-bigram repetition fraction + keep/drop decision
    (Gopher rules analog), for every document with ≥2 words."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.gopher_repetition(
        docs, n=2, top_frac_max=0.20, min_words=50
    ).transform(sort_result, "doc_id")


ORACLE["quality_gopher_repetition"] = (
    curation.sql_gopher_repetition(n=2, top_frac_max=0.20, min_words=50)
    + " ORDER BY doc_id"
)
QUERIES["quality_gopher_repetition"] = quality_gopher_repetition


# ---------------------------------------------------------------------------
# PII redaction

# The synthetic corpus contains no PII, so redaction over raw documents
# would be a vacuous 0=0 check — both engines derive the SAME planted
# rows (emails / phone numbers / IPs keyed off doc_id) and the query
# verifies non-trivial counts and the redacted lengths.
_PII_AUG_SPARK_SUFFIX = {
    17: " contact me at user{}@example.com thanks",
    23: " call 555-123-4567 today",
    29: " served from 10.42.0.7 edge",
}


def _augmented_pii_docs(docs: DataFrame) -> DataFrame:
    out = docs.select("doc_id", "text", "source")
    for mod, tmpl in sorted(_PII_AUG_SPARK_SUFFIX.items()):
        pre, _, post = tmpl.partition("{}")
        suffix = (
            F.concat(F.lit(pre), F.col("doc_id").cast("string"),
                     F.lit(post))
            if "{}" in tmpl
            else F.lit(tmpl)
        )
        out = out.withColumn(
            "text",
            F.when(
                F.col("doc_id") % mod == 0,
                F.concat(F.col("text"), suffix),
            ).otherwise(F.col("text")),
        )
    return out


def _sql_pii_docs() -> str:
    cases = []
    for mod, tmpl in sorted(_PII_AUG_SPARK_SUFFIX.items()):
        pre, _, post = tmpl.partition("{}")
        if "{}" in tmpl:
            sfx = f"'{pre}' || doc_id::VARCHAR || '{post}'"
        else:
            sfx = f"'{tmpl}'"
        cases.append(
            f"CASE WHEN doc_id % {mod} = 0 THEN {sfx} ELSE '' END"
        )
    return (
        "SELECT doc_id, text || " + " || ".join(cases) + " AS text, "
        "source FROM documents"
    )


def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/phones/IPs to typed placeholders; report per-source
    document counts, per-kind totals, and the chars removed — the audit
    a privacy pass over a 100 TB corpus emits."""
    docs = _augmented_pii_docs(load_table(spark, sf_dir, "documents"))
    red = curation.pii_redact(F.col("text"))
    per_doc = docs.select(
        "source",
        red["n_email"].alias("n_email"),
        red["n_phone"].alias("n_phone"),
        red["n_ip"].alias("n_ip"),
        (F.length("text") - F.length(red["clean"])).cast("long")
        .alias("chars_delta"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0)
                .cast("long")
            ).alias("docs_with_pii"),
            F.sum("n_email").alias("emails"),
            F.sum("n_phone").alias("phones"),
            F.sum("n_ip").alias("ips"),
            F.sum("chars_delta").alias("chars_removed"),
        )
        .transform(sort_result, "source")
    )


def _sql_pii_stats() -> str:
    red = curation.sql_pii_redact("text")
    return f"""
WITH aug AS ({_sql_pii_docs()}),
per_doc AS (
  SELECT source,
         {red['n_email']} AS n_email,
         {red['n_phone']} AS n_phone,
         {red['n_ip']} AS n_ip,
         CAST(length(text) - length({red['clean']}) AS BIGINT)
           AS chars_delta
  FROM aug
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(SUM(n_email) AS BIGINT) AS emails,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       CAST(SUM(n_ip) AS BIGINT) AS ips,
       CAST(SUM(chars_delta) AS BIGINT) AS chars_removed
FROM per_doc
GROUP BY source
ORDER BY source
"""


ORACLE["pii_redaction_stats"] = _sql_pii_stats()
QUERIES["pii_redaction_stats"] = pii_redaction_stats


# ---------------------------------------------------------------------------
# eval-set decontamination

def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 8-gram with
    the eval view. The eval set is a FIXED 15-document slice — eval
    benchmarks are constant-size no matter how large the training
    corpus grows, and that is the shape the operator's broadcast plan
    is designed for (round 5 used a 1/37 corpus fraction, whose gram
    set would NOT broadcast at 100 TB and dominated the bench). Each
    eval doc at least matches itself, so the overlap is non-vacuous.
    Above broadcast size the operator's gram semi-join would flip to a
    shuffle join — see operators/curation.py ngram_contamination."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") < 15)
    return curation.ngram_contamination(docs, eval_df, n=8) \
        .transform(sort_result, "doc_id")


ORACLE["decontaminate_eval_overlap"] = (
    curation.sql_ngram_contamination(
        "SELECT * FROM documents",
        "SELECT * FROM documents WHERE doc_id < 15",
        n=8,
    )
    + " ORDER BY doc_id"
)
QUERIES["decontaminate_eval_overlap"] = decontaminate_eval_overlap


# ---------------------------------------------------------------------------
# corpus mixing

_MIX_WEIGHTS = {
    "src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25, "src4": 0.1,
}


def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted deterministic mixing: per-source keep rates via
    md5 buckets (sources absent from the weight table drop to 0).
    Audited per source with kept counts and the id checksum — rerun-
    stable by construction."""
    docs = load_table(spark, sf_dir, "documents")
    kept = curation.mix_sample(docs, _MIX_WEIGHTS)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .transform(sort_result, "source")
    )


ORACLE["corpus_mix_sample"] = f"""
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM ({curation.sql_mix_sample(_MIX_WEIGHTS)}) q
GROUP BY source
ORDER BY source
"""
QUERIES["corpus_mix_sample"] = corpus_mix_sample


# ---------------------------------------------------------------------------
# document chunking

def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (curation.chunk_documents):
    64-token chunks, stride 48 — every document splits into ≥1 chunk,
    consecutive chunks overlap by 16 tokens, the tail chunk carries
    the remainder. Per-chunk stats keep the result compact while the
    oracle still pins every chunk boundary: (doc_id, chunk count,
    token total, md5-sum of chunk texts as a content checksum)."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = curation.chunk_documents(docs, chunk_tokens=64, stride=48)
    from starrocks_spark.functions.text import hash60

    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("chunk_tokens"),
            F.sum(hash60(F.col("chunk_text"))).alias("content_sig"),
        )
        .transform(sort_result, "doc_id")
    )


def _sql_chunk_overlap() -> str:
    from starrocks_spark.functions.text import sql_hash60

    inner = curation.sql_chunk_documents(64, 48)
    h = sql_hash60("chunk_text")
    return f"""
WITH chunks AS ({inner})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
       CAST(SUM({h}) AS BIGINT) AS content_sig
FROM chunks
GROUP BY doc_id
ORDER BY doc_id
"""


ORACLE["chunk_overlap_windows"] = _sql_chunk_overlap()
QUERIES["chunk_overlap_windows"] = chunk_overlap_windows
