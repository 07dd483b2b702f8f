"""DataFrame-level text-statistics operators: chunking, rarity,
duplication share.  plans/corpus.py wraps these over the documents
table for the driver contract; they work on any (id, text) frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.operators.dedup import shingle_sets


def chunk_docs(
    docs: DataFrame,
    chunk: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size token chunking with overlap — the standard
    pretraining/RAG windowing op.  Pure generator pipeline: tokenize
    once, posexplode the stride-stepped start offsets, slice the
    materialized token array per chunk.  Scan-only, zero shuffles;
    output rows ∝ input tokens / stride (linear at any corpus size).
    Empty/whitespace-only texts are dropped (no tokens → no chunks).
    Stateless, so it runs unchanged on a document stream (append mode,
    no watermark, no state store)."""
    if chunk <= 0 or stride <= 0:
        raise ValueError(f"chunk={chunk} and stride={stride} must be positive")
    t = docs.where(F.length(F.trim(text_col)) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(text_col)), r"\s+").alias("_t"),
    )
    starts = F.sequence(F.lit(1), F.size("_t"), F.lit(stride))
    ex = t.select("doc_id", "_t", F.posexplode(starts).alias("_i", "_start"))
    return ex.select(
        "doc_id",
        (F.col("_i") + 1).cast("int").alias("chunk_idx"),
        F.array_join(F.slice("_t", F.col("_start"), chunk), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(chunk), F.size("_t") - F.col("_start") + 1)
        .cast("int")
        .alias("n_chunk_tokens"),
    )


def rare_token_stats(
    docs: DataFrame,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc rare-token share: fraction of token INSTANCES whose
    corpus document-frequency is <= max_df (gibberish / OCR-noise
    filter).  Integer-exact; tokens hashed to longs inside the array
    before exploding (the ~20x explode fast path).  Shuffles: token
    hash (uniform), then doc_id — both linear."""
    base = docs.where(F.length(F.trim(text_col)) > 0)
    inst = base.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(
                F.split(F.lower(F.trim(text_col)), r"\s+"),
                lambda t: F.xxhash64(t),
            )
        ).alias("tok"),
    ).persist()
    # persisted: df statistics are inherently two passes over the
    # exploded tokens (the dfq aggregate, then the join probe side) —
    # the two-consumer invariant (measured 0.67 s -> 0.32 s at sf0.1);
    # (long, long) rows, the compact shape the in-array hashing buys
    dfq = (
        inst.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("_df"))
    )
    return (
        inst.join(dfq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_df") <= max_df, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            # n_tokens >= 1 by the non-empty-text filter (ANSI-safe)
            (
                F.round(F.col("n_rare") * 10000.0 / F.col("n_tokens")) / 100.0
            ).alias("rare_pct"),
        )
    )


def dup_shingle_stats(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc duplication diagnostics: share of the doc's distinct
    n-gram shingles that appear in >= 2 docs ('how much of this doc is
    boilerplate').  Reuses the dedup shingle pipeline (sentinel shingle
    for short docs, so every doc appears; n_shingles >= 1 keeps the
    ANSI division safe).  Shuffle keys: shingle hash then doc_id —
    linear, no self-join."""
    sh = shingle_sets(docs, n=n, text_col=text_col, id_col=id_col).select(
        "doc_id",
        F.size("sh_set").alias("_n_sh"),
        F.explode(F.transform("sh_set", lambda s: F.xxhash64(s))).alias(
            "shingle"
        ),
    ).persist()
    # persisted: same two-consumer df-stats shape as rare_token_stats
    # (measured 0.74 s -> 0.30 s at sf0.1)
    dfq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    return (
        sh.join(dfq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.first("_n_sh").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            (
                F.round(
                    F.col("n_dup_shingles") * 10000.0 / F.col("n_shingles")
                )
                / 100.0
            ).alias("dup_pct"),
        )
    )
