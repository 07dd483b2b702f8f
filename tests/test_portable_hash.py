"""Cross-engine contract for the portable char-polynomial hash: the
Spark fold (operators/dedup._poly_sql) and the DuckDB twin
(plans/corpus.POLY_HASH_SQL) must agree byte-for-byte on arbitrary
text — including unicode (F.ascii and ord() both return codepoints),
empties, and whitespace edge cases.  This is the foundation the
oracle-checked minhash/simhash family stands on."""

import duckdb
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.operators.dedup import (
    _MINHASH_MOD,
    _poly_sql,
    _token_hash_shingles,
)
from bank_transaction_data_warehouse_spark.plans.corpus import POLY_HASH_SQL

import random as _random

_rng = _random.Random(0xC0FFEE)  # fixed seed: deterministic fuzz corpus
_ALPHABETS = [
    "abcdefghij klmnop",          # ascii + spaces
    "àéîõü çñß øæå",              # latin-1 accents
    "日本語中文한국어",                # CJK
    "πολύγλωσση δοκιμή",          # greek
    "!@#$%^&*()[]{}|;:'\",.<>?",  # punctuation soup
]
_FUZZ_STRINGS = [
    "".join(_rng.choice(_rng.choice(_ALPHABETS)) for _ in range(_rng.randint(0, 60)))
    for _ in range(50)
]

EDGE_STRINGS = _FUZZ_STRINGS + [
    "",
    " ",
    "a",
    "abc def ghi",
    "é ü ñ",
    "日本語 テスト 文字",
    "MiXeD CaSe 123 !@#",
    "tab\tseparated\ttokens here",
    "x" * 500,
    "répété répété répété",
    "one",
    "one two",
    "one two three four five six",
]


def test_poly_hash_matches_duckdb(spark):
    df = spark.createDataFrame([(s,) for s in EDGE_STRINGS], "s string")
    got = [r.h for r in df.select(F.expr(_poly_sql("s")).alias("h")).collect()]

    con = duckdb.connect()
    expr = POLY_HASH_SQL.format(s="s")
    want = [
        con.execute(f"SELECT {expr} FROM (SELECT ? AS s)", [s]).fetchone()[0]
        for s in EDGE_STRINGS
    ]
    assert got == want
    assert all(0 <= h < _MINHASH_MOD for h in got)


def test_token_hash_shingles_match_duckdb(spark):
    """The composed shingle hashes (token folds + window mul-adds)
    must match the oracle's hsets expression on edge docs."""
    rows = [(i, s) for i, s in enumerate(EDGE_STRINGS)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: sorted(r._hs)
        for r in _token_hash_shingles(docs, n=3).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    poly_tok = POLY_HASH_SQL.format(s="tok")
    m, p = 1000003, _MINHASH_MOD
    want = {
        d: sorted(hs)
        for d, hs in con.execute(
            f"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS t
              FROM documents
            ),
            hts AS (
              SELECT doc_id, list_transform(t, tok -> {poly_tok}) AS ht
              FROM toks
            )
            SELECT doc_id,
                   list_distinct(CASE WHEN len(ht) >= 3
                     THEN list_transform(range(1, len(ht) - 1),
                          i -> ((ht[i]*{m} + ht[i+1]) % {p} * {m} + ht[i+2]) % {p})
                     ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), ht),
                                       (acc, x) -> (acc*{m} + x) % {p})] END)
            FROM hts
            """
        ).fetchall()
    }
    assert got == want
