"""Dedup-family semantics: planted near-dups found, LSH recall vs
exact Jaccard, SimHash locality."""

from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.operators import dedup as DD
from bank_transaction_data_warehouse_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_exact_dedup_identical_texts_collapse(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r.content_hash: r for r in DD.exact_dedup(df).collect()}
    assert len(out) == 2
    sizes = sorted(r.group_size for r in out.values())
    assert sizes == [1, 2]
    dup = [r for r in out.values() if r.group_size == 2][0]
    assert dup.canonical_doc_id == 1  # keep-min-id


def test_jaccard_finds_planted_near_dups(spark, sf_dir):
    pairs = DD.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8).collect()
    assert len(pairs) > 0
    for p in pairs:
        assert p.jaccard >= 0.8
        assert p.doc_id_1 < p.doc_id_2


def test_minhash_lsh_recall_matches_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    exact = {
        (r.doc_id_1, r.doc_id_2)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_id_1, r.doc_id_2)
        for r in DD.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    # verified LSH output ⊆ exact; recall should be ~1 at this band
    # setting (S-curve threshold ≈ 0.5 << 0.8)
    assert lsh <= exact
    assert len(lsh) >= 0.9 * len(exact)


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    pairs = DD.simhash_pairs(df, max_hamming=0).collect()
    assert {(p.doc_id_1, p.doc_id_2) for p in pairs} == {(1, 2)}


def test_simhash_disjoint_docs_not_paired(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    assert DD.simhash_pairs(df, max_hamming=3).count() == 0


def test_frequency_pruning_drops_boilerplate(spark):
    # a shingle present in every doc can't certify near-dups; with
    # pruning the all-share-one-shingle pair disappears
    df = spark.createDataFrame(
        [(i, f"common shared prefix unique{i} tail{i} word{i}") for i in range(10)],
        "doc_id long, text string",
    )
    no_prune = DD.ngram_jaccard_pairs(df, threshold=0.1).count()
    pruned = DD.ngram_jaccard_pairs(df, threshold=0.1, max_shingle_df=5).count()
    assert pruned <= no_prune


def test_set_minhash_lsh_pairs_over_frame_sets(spark):
    """The generic element-set LSH path (media scale path) must find
    exact re-encodes (jaccard 1.0) and respect the verify threshold —
    same machinery as the text path, fed frame fingerprints."""
    from bank_transaction_data_warehouse_spark.multimodal.pipeline import (
        frame_hash_sets,
    )
    from bank_transaction_data_warehouse_spark.operators.dedup import (
        set_minhash_lsh_pairs,
    )

    blocks = [f"{c}23456789012345678901234" for c in "ABCDEFGH"]  # 8 x 24 chars
    docs = spark.createDataFrame(
        [
            (1, "".join(blocks)),        # 8 frames
            (2, "".join(blocks)),        # exact dup -> 1.0
            # 7 of 8 frames shared -> jaccard 7/9 ~ 0.78, comfortably
            # above the bands=16/rows=4 S-curve knee (~0.5); a 0.67
            # pair sat AT the knee and legitimately missed every band
            (3, "".join(blocks[:7]) + "x2345678901234567890123Z"),
            (4, "y" * 192),              # disjoint (periodic -> 1 frame)
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id_1"], r["doc_id_2"]): round(r["jaccard"], 4)
        for r in set_minhash_lsh_pairs(
            frame_hash_sets(docs), set_col="frame_set", threshold=0.5
        ).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got.get((1, 3)) == got.get((2, 3)) == round(7 / 9, 4)
    assert all(4 not in pair for pair in got)
