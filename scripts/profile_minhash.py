"""Stage-isolation profile of the portable (poly-hash) MinHash
pipeline — guide §1: measure before changing.  Each stage is timed
with the noop sink, min of 3, cache cleared between stages.

Usage: python scripts/profile_minhash.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.operators import dedup as DD
from bank_transaction_data_warehouse_spark.plans.corpus import _docs
from bank_transaction_data_warehouse_spark.session import get_spark
from bench import timed_run


def timeit(spark, name, df_fn, runs=3):
    best = None
    for _ in range(runs):
        dt = sum(timed_run(spark, df_fn, name))
        best = dt if best is None else min(best, dt)
        spark.catalog.clearCache()
    print(f"{name:42s} {best:7.3f} s")
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("profile-minhash")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _docs(spark, sf_dir)

    timeit(spark, "scan only", lambda: docs.select("doc_id", "text"))
    timeit(
        spark,
        "tokens (split/lower/trim)",
        lambda: docs.select("doc_id", DD._tokens("text").alias("t")),
    )
    timeit(
        spark,
        "token poly hashes (_ht)",
        lambda: docs.select(
            "doc_id",
            F.expr(f"transform({DD._tokens_sql('text')}, t -> {DD._poly_sql('t')})").alias("_ht"),
        ),
    )
    timeit(
        spark,
        "shingle hashes (_hs, token-composed)",
        lambda: DD._token_hash_shingles(docs, n=3),
    )
    timeit(
        spark,
        "+ k=64 signature",
        lambda: DD.minhash_signatures(docs, k=64, n=3, base_hash="poly"),
    )
    timeit(
        spark,
        "+ banding (band keys)",
        lambda: DD.minhash_band_keys(docs, k=64, bands=16, n=3, base_hash="poly"),
    )
    timeit(
        spark,
        "candidates (no verify)",
        lambda: DD._lsh_candidates(
            DD.minhash_band_keys(docs, k=64, bands=16, n=3, base_hash="poly")
        ),
    )
    timeit(
        spark,
        "full minhash_lsh_pairs",
        lambda: DD.minhash_lsh_pairs(
            docs, k=64, bands=16, threshold=0.8, base_hash="poly"
        ),
    )
    # media element-set path
    from bank_transaction_data_warehouse_spark.multimodal.pipeline import (
        frame_hash_sets,
    )
    from bank_transaction_data_warehouse_spark.plans.corpus import _MFD_FRAME_CHARS

    timeit(
        spark,
        "media: frame_hash_sets only",
        lambda: frame_hash_sets(docs, every_n=_MFD_FRAME_CHARS),
    )
    timeit(
        spark,
        "media: + poly element hashes",
        lambda: frame_hash_sets(docs, every_n=_MFD_FRAME_CHARS).select(
            "doc_id",
            F.array_distinct(
                F.expr(f"transform(frame_set, s -> {DD._poly_sql('s')})")
            ).alias("_hs"),
        ),
    )
    timeit(
        spark,
        "media: full set_minhash_lsh_pairs",
        lambda: DD.set_minhash_lsh_pairs(
            frame_hash_sets(docs, every_n=_MFD_FRAME_CHARS),
            set_col="frame_set",
            k=64,
            bands=16,
            threshold=0.5,
            base_hash="poly",
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
