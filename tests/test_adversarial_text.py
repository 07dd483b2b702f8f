"""Adversarial-text fuzz gate: run the REAL exposed corpus queries and
their REAL oracle SQL over a synthetic `documents` table full of edge
cases (unicode whitespace, emoji, punctuation soup, repeated text,
huge tokens) and require exact agreement — the same comparison the
driver does, but on inputs nastier than the shipped corpus.

Catches regex-dialect / codepoint / fold-order divergences that the
well-behaved testdata would never exercise.
"""

import math

import duckdb
import pytest

import __spark_entry__ as E

ADVERSARIAL_DOCS = [
    (0, "", "en", "synthetic", 0),
    (1, "   ", "en", "synthetic", 3),
    (2, "one", "en", "synthetic", 3),
    (3, "one two", "en", "synthetic", 7),
    (4, "the the the the the the", "en", "synthetic", 23),
    (5, "!!! ??? ... ;;; :::", "en", "synthetic", 19),
    (6, "word " * 200, "en", "synthetic", 1000),
    (7, "répété répété répété et le la", "fr", "synthetic", 30),
    (8, "日本語 の テスト 文書 です ね", "ja", "synthetic", 16),
    (9, "MiXeD CaSe WoRdS aNd 12345 67890", "en", "synthetic", 32),
    (10, "tab\tand\nnewline\r\nmix the of and", "en", "synthetic", 31),
    (11, "x" * 300 + " tiny", "en", "synthetic", 305),
    (12, "a b c d e f g h i j k l m n o p", "en", "synthetic", 31),
    (13, "the quick brown fox the quick brown fox", "en", "synthetic", 39),
    (14, "emoji 😀 test 🚀 tokens 🌟 here", "en", "synthetic", 29),
    (15, "der die das und ist nicht", "de", "synthetic", 25),
    # PII-laden rows: the shipped corpus has no digits at all, so the
    # pii_scrub regex semantics (Java vs RE2) are exercised HERE
    (16, "mail me at jane.doe+spam@sub.example.org or x@y.io now", "en", "synthetic", 54),
    (17, "call +1 (555) 123-4567 or 030-1234-567 today", "en", "synthetic", 44),
    (18, "account 123456789 card 123456789012 tiny 12345678 huge 1234567890123", "en", "synthetic", 69),
    (19, "mixed: a@b.co then 555-123-4567 then 987654321 done", "en", "synthetic", 52),
]

# queries whose only input table is `documents`
TEXT_QUERIES = [
    "normalize_text",
    "token_count",
    "doc_quality",
    "doc_fingerprint",
    "lang_id",
    "repetition_score",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_pruned",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "multimodal_features",
    "decontaminate",
    "ngram_counts",
    "stratified_sample",
    "tfidf_top_terms",
    "pack_documents",
    "dedup_clusters",
    "chunk_documents",
    "rare_token_ratio",
    "dup_shingle_ratio",
    "quality_top_decile",
    "vocab_growth",
    "frame_sample",
    "hashed_features",
    "pii_scrub",
    "cross_source_overlap",
    "audio_segments",
    "quality_mixture_sample",
    "dedup_impact",
]


@pytest.fixture(scope="module")
def adv_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_sf")
    docs = spark.createDataFrame(
        ADVERSARIAL_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _norm(v):
    # stringify everything (same spirit as scripts/crosscheck.norm_cell)
    # so mixed None/str/float tuples stay sortable
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_norm(x)) for x in v) + "]"
    return str(v)


@pytest.mark.parametrize("qname", TEXT_QUERIES)
def test_adversarial_parity(spark, adv_sf_dir, qname):
    sdf = E.queries()[qname](spark, adv_sf_dir)
    got = sorted(
        tuple(_norm(v) for v in r) for r in sdf.select(sorted(sdf.columns)).collect()
    )

    con = duckdb.connect()
    # Spark writes documents.parquet as a DIRECTORY of part files
    # (testdata ships single files) — DuckDB needs the glob form
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{adv_sf_dir}/documents.parquet/*.parquet')"
    )
    rel = con.sql(E.oracle_sql()[qname])
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = sorted(
        tuple(_norm(r[i]) for i in order) for r in rel.fetchall()
    )
    assert got == want


ADVERSARIAL_VECS = [
    # (vec_id, embedding, label): zero vector (NaN cosine), duplicate
    # pair, negated pair, constant vector, tiny-magnitude vector
    (0, [0.0] * 64, 0),
    (1, [1.0] + [0.0] * 63, 0),
    (2, [1.0] + [0.0] * 63, 1),          # exact duplicate of 1
    (3, [-1.0] + [0.0] * 63, 1),         # negation of 1
    (4, [0.5] * 64, 2),
    (5, [1e-30] * 64, 2),
    (6, [float(i) for i in range(64)], 3),
    (7, [float(63 - i) for i in range(64)], 3),
    (8, [(-1.0) ** i for i in range(64)], 4),
    (9, [math.sin(i) for i in range(64)], 4),
]

VEC_QUERIES = [
    "embedding_dedup",
    "ann_recall_report",
    "label_centroids",
    "kmeans_clusters",
    "centroid_classifier_eval",
    "semantic_dedup",
    "semantic_dedup_clusters",
    "cluster_balanced_sample",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_pq_topk",
    "ann_pq_recall_report",
    "ann_ivf_pq_topk",
]


@pytest.fixture(scope="module")
def adv_vec_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_vec")
    embs = spark.createDataFrame(
        [(i, [float(x) for x in v], lbl) for i, v, lbl in ADVERSARIAL_VECS],
        "vec_id long, embedding array<float>, label int",
    )
    embs.coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


# the keys whose pair verify routes by the corpus's vector count: a
# 10-vector corpus routes them to the JVM fold, so each runs a second
# time with the crossover at 0, to reach the Arrow kernel too
VERIFY_QUERIES = ["embedding_dedup", "semantic_dedup", "semantic_dedup_clusters"]


@pytest.mark.parametrize(
    "qname, kernel",
    [pytest.param(q, False, id=q) for q in VEC_QUERIES]
    + [pytest.param(q, True, id=f"{q}-kernel") for q in VERIFY_QUERIES],
)
def test_adversarial_vector_parity(spark, adv_vec_dir, qname, kernel, monkeypatch):
    """Zero-norm vectors (NaN cosine), exact duplicates, and negations
    must produce identical results from the Spark plan and the oracle,
    on both routes of the pair verify."""
    if kernel:
        from bank_transaction_data_warehouse_spark.functions import vectors

        monkeypatch.setattr(vectors, "KERNEL_MIN_VECTORS", 0)
    sdf = E.queries()[qname](spark, adv_vec_dir)
    got = sorted(
        tuple(_norm(v) for v in r) for r in sdf.select(sorted(sdf.columns)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{adv_vec_dir}/embeddings.parquet/*.parquet')"
    )
    rel = con.sql(E.oracle_sql()[qname])
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = sorted(tuple(_norm(r[i]) for i in order) for r in rel.fetchall())
    assert got == want


def test_recall_report_no_pairs_corpus(spark, tmp_path):
    """A corpus with NO near-dup pairs must yield NULL recall, not an
    ANSI divide-by-zero crash."""
    import duckdb as ddb

    d = tmp_path / "lonely"
    # orthogonal one-hot vectors: all pairwise cosines are 0
    vecs = [(i, [1.0 if j == i else 0.0 for j in range(64)], 0) for i in range(8)]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    row = E.queries()["ann_recall_report"](spark, str(d)).collect()[0]
    assert row.n_exact_pairs == 0 and row.n_lsh_pairs == 0 and row.recall is None

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert con.sql(E.oracle_sql()["ann_recall_report"]).fetchall() == [(0, 0, None)]


import datetime as _dt

ADVERSARIAL_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (0, _dt.datetime(2024, 1, 1, 0, 0, 0), 1, "pos", 10.0, '{"k": 1}'),
    (1, None, 1, "pos", 5.0, '{"k": 2}'),                 # NULL ts
    (2, _dt.datetime(2024, 1, 1, 0, 59, 59), None, "p2p", None, None),  # NULL user+value+props
    (3, _dt.datetime(2024, 1, 1, 1, 0, 0), 2, "p2p", -3.5, "not json"),  # malformed props
    (4, _dt.datetime(1900, 1, 1, 12, 0, 0), 2, "pos", 0.005, '{"k": -7}'),  # ancient
    (5, _dt.datetime(2100, 12, 31, 23, 59, 59), 3, "pos", 1e9, '{"j": 9}'),  # far future, missing k
    (6, _dt.datetime(2024, 1, 1, 0, 30, 0), 3, "", 2.0, "{}"),            # empty type
    (7, _dt.datetime(2024, 1, 1, 0, 30, 0), 3, "pos", 0.0, '{"k": 0}'),
]

EVENT_QUERIES = ["events_windowed", "events_sessionize", "events_props_parse", "profile_events"]


@pytest.fixture(scope="module")
def adv_ev_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_ev")
    ev = spark.createDataFrame(
        ADVERSARIAL_EVENTS,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    ev.coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("qname", EVENT_QUERIES)
def test_adversarial_event_parity(spark, adv_ev_dir, qname):
    """NULL timestamps/users/values, malformed JSON props, and
    extreme dates must produce identical results from the Spark plan
    and the oracle."""
    sdf = E.queries()[qname](spark, adv_ev_dir)
    got = sorted(
        tuple(_norm(v) for v in r) for r in sdf.select(sorted(sdf.columns)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{adv_ev_dir}/events.parquet/*.parquet')"
    )
    rel = con.sql(E.oracle_sql()[qname])
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = sorted(tuple(_norm(r[i]) for i in order) for r in rel.fetchall())
    assert got == want


def test_mixture_sample_exact_proportions(spark, sf_dir):
    """The sampled subset must hit the 8:3:3:3:3 weight mix exactly
    (k_l = w_l * u), be deterministic across runs, and never exceed
    per-language availability."""
    from collections import Counter

    from bank_transaction_data_warehouse_spark.plans.corpus import (
        _MIX_WEIGHTS,
        mixture_sample,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table

    out1 = {(r.doc_id, r.lang) for r in mixture_sample(spark, sf_dir).collect()}
    out2 = {(r.doc_id, r.lang) for r in mixture_sample(spark, sf_dir).collect()}
    assert out1 == out2  # deterministic

    got = Counter(lang for _, lang in out1)
    avail = Counter(
        r.lang for r in load_table(spark, sf_dir, "documents").collect()
    )
    units = min(avail[lang] // w for lang, w in _MIX_WEIGHTS.items())
    for lang, w in _MIX_WEIGHTS.items():
        assert got[lang] == w * units
        assert got[lang] <= avail[lang]
