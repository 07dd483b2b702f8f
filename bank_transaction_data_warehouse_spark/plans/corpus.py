"""Training-data pipeline queries over documents/embeddings: dedup
family, similarity search, text analysis.  SURVEY.md §2 items 24-34.

QUERIES maps query-key → (spark, sf_dir) -> DataFrame; ORACLE holds
the DuckDB twin — as of r11 EVERY query here has one: the approximate
family (minhash/simhash/sign-LSH/IVF) runs on portable integer hashes
and deterministic planes that DuckDB reproduces bit-for-bit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bank_transaction_data_warehouse_spark.functions import text as T
from bank_transaction_data_warehouse_spark.functions import vectors as V
from bank_transaction_data_warehouse_spark.operators import ann as ANN
from bank_transaction_data_warehouse_spark.operators import dedup as DD
from bank_transaction_data_warehouse_spark.session import build_stat
from bank_transaction_data_warehouse_spark.sources.tables import (
    load_table,
    parallelism_for,
    spread_scan,
    table_rows,
)

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _empty(spark: SparkSession, ddl: str) -> DataFrame:
    """Zero rows of schema ``ddl`` (an empty input's result), planned in
    the JVM — createDataFrame([]) would still be a Python RDD."""
    return spark.range(0).select(
        *(F.lit(None).cast(f.dataType).alias(f.name) for f in StructType.fromDDL(ddl))
    )


# Rows-per-task weights for the two corpus tables (r15 width sweep at
# fixed local[32], table in OPTIMIZATION_r15.md): the text pipelines'
# sweet spot is ~300-600 rows/task (width 8-16 at sf0.1's 5,000 docs
# — e.g. dup_shingle_ratio 0.86 s at width 32 vs 0.45 s at 8-16), the
# vector pipelines' ~250 (width 8 at 2,000 vectors: kmeans 0.47 s at
# 32 vs 0.22 s at 8).  At cluster scale rows/weight >> any
# shuffle.partitions, so both degrade to full shuffle width.
_DOCS_ROWS_PER_TASK = 320
_EMBS_ROWS_PER_TASK = 250


def _docs_wide(spark, sf_dir):
    """Documents with the input-skew remedy applied (guide §2.5): a
    single-row-group parquet file scans as ONE task and serializes
    every per-row pipeline built on it.  Used ONLY by the queries
    whose per-row compute dominates (hash/shingle/regex pipelines) —
    measured r14: the extra exchange WINS there (e.g. minhash
    2.9→1.5 s, doc_quality 0.75→0.20 s) but LOSES on light queries
    (dedup_exact's md5 groupBy +0.3 s of pure stage latency), so the
    spread is per-query opt-in, not reader-global.  Width is derived
    from the table's rows (spread_scan r15), never the session conf;
    at cluster scale (non-degenerate scan) no shuffle is paid."""
    return spread_scan(
        spark, sf_dir, "documents", "doc_id",
        rows_per_task=_DOCS_ROWS_PER_TASK,
    )


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _embs_wide(spark, sf_dir):
    """Embeddings with the input-skew remedy — see _docs_wide.  Only
    for the queries whose per-row vector math dominates (measured
    r14: ann_cosine_topk 0.49→0.24 s, ann_recall_report 1.17→0.54 s,
    embedding_dedup 1.04→0.84 s); model-training collects and light
    consumers stay on the plain scan (the extra exchange is pure
    stage latency there)."""
    return spread_scan(
        spark, sf_dir, "embeddings", "vec_id",
        rows_per_task=_EMBS_ROWS_PER_TASK,
    )


def _docs_parts(spark, sf_dir, rows_per_task=_DOCS_ROWS_PER_TASK):
    """Data-derived width for pinned self-join expansions over the
    documents table — passed to the dedup operators' ``parts`` so the
    expansion exchanges stop inheriting spark.sql.shuffle.partitions
    (the r14 over-parallelization: see sources/tables.parallelism_for
    and the width sweep)."""
    return parallelism_for(
        spark, table_rows(spark, sf_dir, "documents"), rows_per_task
    )


def _embs_parts(spark, sf_dir, rows_per_task=_EMBS_ROWS_PER_TASK):
    return parallelism_for(
        spark, table_rows(spark, sf_dir, "embeddings"), rows_per_task
    )


# ------------------------------------------------------------- dedup
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_docs(spark, sf_dir))


QUERIES["dedup_exact"] = dedup_exact
ORACLE["dedup_exact"] = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS group_size
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        _docs_wide(spark, sf_dir), n=3, threshold=0.8,
        parts=_docs_parts(spark, sf_dir),
    )


QUERIES["dedup_ngram_jaccard"] = dedup_ngram_jaccard

_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
),
sh AS (SELECT doc_id, len(g) AS n_sh, unnest(g) AS shingle FROM grams)
"""

_JACCARD_COLS = """id_a AS doc_id_1, id_b AS doc_id_2,
       common * 1.0 / (n_a + n_b - common) AS jaccard"""


def _exact_jaccard_sql(
    src: str, key: str, threshold: float, cols: str = _JACCARD_COLS
) -> str:
    """Exact all-pairs set Jaccard over an exploded (doc_id, n_sh,
    <key>) element CTE — the DuckDB twin of
    operators/dedup.set_jaccard_pairs, shared by every exact-Jaccard
    oracle so the pair definition cannot drift between them."""
    return f"""SELECT {cols}
FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common,
         any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
  FROM {src} a JOIN {src} b ON a.{key} = b.{key} AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
WHERE common * 1.0 / (n_a + n_b - common) >= {threshold}"""


# text near-dup components (connected components of the exact 0.8
# Jaccard pairs by recursive transitive closure): `comp`(node, comp)
_JACCARD_COMPONENTS_CTES = f"""{_SHINGLES_CTE.strip()},
jp AS (
  {_exact_jaccard_sql("sh", "shingle", 0.8, "id_a, id_b")}
),
e2 AS (
  SELECT id_a AS a, id_b AS b FROM jp
  UNION SELECT id_b, id_a FROM jp
),
reach(node, r) AS (
  SELECT a, a FROM e2
  UNION
  SELECT reach.node, e2.b FROM reach JOIN e2 ON reach.r = e2.a
),
comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY 1)"""

ORACLE["dedup_ngram_jaccard"] = f"""
WITH {_SHINGLES_CTE.strip()}
{_exact_jaccard_sql("sh", "shingle", 0.8)}
"""


def dedup_ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe Jaccard shape: shingles appearing in more than
    `max_shingle_df` docs are dropped before the self-join — hot
    boilerplate shingles are what make the join quadratic at 100 TB
    (they can't certify a near-dup anyway).  The oracle mirrors the
    df filter exactly, so the pruned shape itself is oracle-checked.
    df cap 16: the synthetic corpus's shingle df tops out at ~25 at
    sf0.1 (median ~12), so 16 prunes the genuinely hot top ~2.5% of
    the vocabulary; production corpora would use ~1000s.

    Plain scan, not _docs_wide: the df-pruned path persists its
    exploded shingle frame and re-reads it through an anti-join and a
    per-doc count window — with the spread the persist/anti-join
    stages measured WORSE (interleaved A/B r14: plain 1.53 s vs wide
    1.8-2.9 s), unlike the unpruned path where the spread wins."""
    return DD.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.8, max_shingle_df=16,
        parts=_docs_parts(spark, sf_dir),
    )


QUERIES["dedup_ngram_jaccard_pruned"] = dedup_ngram_jaccard_pruned

ORACLE["dedup_ngram_jaccard_pruned"] = f"""
WITH {_SHINGLES_CTE.strip()},
sh0 AS (SELECT doc_id, shingle FROM sh),
hot AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) > 16),
shp AS (
  SELECT doc_id, shingle,
         count(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM sh0 ANTI JOIN hot USING (shingle)
)
{_exact_jaccard_sql("shp", "shingle", 0.8)}
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard — the scale
    path.  MinHash runs on the portable char-polynomial base hash
    (operators/dedup._poly_sql), whose integer math DuckDB reproduces
    bit-for-bit, so the ENTIRE pipeline — k-family signatures,
    banding, candidate join, exact verify — has an ANSI twin, and its
    band keys are the ones the streamed band index holds (an xxhash64
    base hash was measured no faster: operators/dedup docstring).
    tests/test_dedup.py additionally asserts the verified output
    equals dedup_ngram_jaccard's pairs whenever LSH recall is 1."""
    return DD.minhash_lsh_pairs(
        _docs_wide(spark, sf_dir),
        k=64,
        bands=16,
        threshold=0.8,
        parts=_docs_parts(spark, sf_dir),
    )


QUERIES["dedup_minhash_lsh"] = dedup_minhash_lsh

_MH_MOD = 2147483647
POLY_HASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, len({s})+1), i -> CAST(ord({s}[i]) AS BIGINT))), "
    f"(acc, x) -> (acc*131 + x) % {_MH_MOD})"
)


def _sig_band_ctes(k: int, bands: int, src_cte: str) -> str:
    """`sigs` + `banded` CTEs (k-family minhash → per-band folds) over
    any upstream CTE exposing (doc_id, hs list<bigint>) — shared by the
    shingle path and the element-set path (media frame LSH); generated
    from the same constants as the Spark k-family so it can't drift."""
    rows = k // bands
    sig_cols = []
    for i in range(k):
        a = (i * 2654435761 + 1) % _MH_MOD
        b = (i * 40503 + 12345) % _MH_MOD
        sig_cols.append(
            f"list_min(list_transform(hs, h -> (h*{a} + {b}) % {_MH_MOD})) AS s{i}"
        )
    band_structs = []
    for bnd in range(bands):
        h = "CAST(0 AS BIGINT)"
        for r in range(rows):
            h = f"(({h})*1000003 + s{bnd * rows + r}) % {_MH_MOD}"
        band_structs.append(f"{{'band': {bnd}, 'h': {h}}}")
    return f"""sigs AS (SELECT doc_id, {", ".join(sig_cols)} FROM {src_cte} WHERE len(hs) > 0),
banded AS (
  SELECT doc_id, u.band AS band, u.h AS band_hash
  FROM (SELECT doc_id, unnest([{", ".join(band_structs)}]) AS u FROM sigs)
)"""


def _minhash_banded_ctes(k: int = 64, bands: int = 16) -> str:
    """CTE chain (shingles → portable poly hashes → k-family minhash
    signatures → `banded`(doc_id, band, band_hash)) shared by the
    minhash-pair oracle and the band-skew telemetry oracle."""
    poly_tok = POLY_HASH_SQL.format(s="tok")
    m = 1000003  # _SHINGLE_MULT: shingle hash composed from token hashes
    return f"""{_SHINGLES_CTE.strip()},
hts AS (
  SELECT doc_id, list_transform(t, tok -> {poly_tok}) AS ht FROM toks
),
hsets AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ht) >= 3
           THEN list_transform(range(1, len(ht) - 1),
                i -> ((ht[i]*{m} + ht[i+1]) % {_MH_MOD} * {m} + ht[i+2]) % {_MH_MOD})
           ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), ht),
                             (acc, x) -> (acc*{m} + x) % {_MH_MOD})] END) AS hs
  FROM hts
),
{_sig_band_ctes(k, bands, "hsets")}"""


def _lsh_cand_verify_sql(sets_cte: str, set_col: str, threshold: float) -> str:
    """`cand` + exact-Jaccard-verify tail over a `banded` CTE and any
    element-set CTE — the SQL twin of operators/dedup._lsh_candidates
    + _jaccard_verify, shared by the shingle and element-set oracles
    so a candidate-join change cannot land in one path only."""
    isect = f"len(list_intersect(a.es, b.es))"
    return f"""cand AS (
  SELECT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
gs AS (SELECT doc_id, {set_col} AS es, len({set_col}) AS n FROM {sets_cte})
SELECT doc_id_1, doc_id_2,
       {isect} * 1.0 / (a.n + b.n - {isect}) AS jaccard
FROM cand JOIN gs a ON doc_id_1 = a.doc_id JOIN gs b ON doc_id_2 = b.doc_id
WHERE {isect} * 1.0 / (a.n + b.n - {isect}) >= {threshold}"""


def _minhash_oracle_sql(k: int = 64, bands: int = 16, threshold: float = 0.8) -> str:
    """DuckDB twin of minhash_lsh_pairs — banded
    candidate join + exact-Jaccard verify over the shared banded CTEs."""
    return f"""
WITH {_minhash_banded_ctes(k, bands)},
{_lsh_cand_verify_sql("grams", "g", threshold)}
"""


ORACLE["dedup_minhash_lsh"] = _minhash_oracle_sql(64, 16, 0.8)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.simhash packs two portable 31-bit
    char-polynomial hashes into a 62-bit token hash, so the sign-sum
    fingerprint, pigeonhole chunk join, and Hamming verify all have a
    bit-exact ANSI twin.  A 63-bit xxhash64 token hash was measured no
    faster (operators/dedup module docstring)."""
    return DD.simhash_pairs(
        _docs_wide(spark, sf_dir), max_hamming=3,
        parts=_docs_parts(spark, sf_dir),
    )


QUERIES["dedup_simhash"] = dedup_simhash


def _simhash_oracle_sql(
    bits: int = 62, chunks: int = 4, max_hamming: int = 3
) -> str:
    """DuckDB twin of simhash_pairs."""
    mod = 2147483647
    width = 64 // chunks

    def poly(mult: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(range(1, len(tok)+1), i -> CAST(ord(tok[i]) AS BIGINT))), "
            f"(acc, x) -> (acc*{mult} + x) % {mod})"
        )

    cnt_cols = ", ".join(
        f"list_sum(list_transform(hs, h -> ((h >> {j}) & 1)*2 - 1)) AS c{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN c{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    chunk_structs = ", ".join(
        f"{{'chunk_idx': {c}, 'chunk_val': (fp >> {c * width}) & {(1 << width) - 1}}}"
        for c in range(chunks)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents
),
hsets AS (
  SELECT doc_id,
         list_transform(t, tok -> ({poly(131)}) + (({poly(137)}) << 31)) AS hs
  FROM toks
),
counts AS (SELECT doc_id, {cnt_cols} FROM hsets),
fps AS (SELECT doc_id, {fp} AS fp FROM counts),
chunked AS (
  SELECT doc_id, fp, u.chunk_idx AS chunk_idx, u.chunk_val AS chunk_val
  FROM (SELECT doc_id, fp, unnest([{chunk_structs}]) AS u FROM fps)
)
SELECT doc_id_1, doc_id_2, hamming FROM (
  SELECT l.doc_id AS doc_id_1, r.doc_id AS doc_id_2,
         CAST(bit_count(xor(l.fp, r.fp)) AS INTEGER) AS hamming
  FROM chunked l JOIN chunked r
    ON l.chunk_idx = r.chunk_idx AND l.chunk_val = r.chunk_val
   AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3
) WHERE hamming <= {max_hamming}
"""


ORACLE["dedup_simhash"] = _simhash_oracle_sql()


# ------------------------------------------------------- similarity
# The DuckDB twins of operators/ann.py's two skeletons, one helper per
# repeated fragment: _nz_sql (the zero-norm filter), _topk_sql (the
# per-query top-k), _cosine_topk_sql (candidates -> cosine -> top-k),
# _lsh_ctes (sign-LSH codes, probes and verified pairs), _ivf_ctes
# (IVF assign / probe) and, with the PQ queries, _pq_scored_cte (ADC).
def _nz_sql(col: str = "embedding") -> str:
    """Twin of ANN._nonzero_norm: sum of squares > 0."""
    return f"list_sum(list_transform({col}, x -> CAST(x AS DOUBLE) * x)) > 0"


_NZ_CTE = f"nz AS (SELECT * FROM embeddings WHERE {_nz_sql()})"

_COS = (
    "list_sum(list_transform(list_zip(q.embedding, c.embedding),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * x)))"
    " * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * x))))"
)
_COSAB = _COS.replace("q.embedding", "a.embedding").replace("c.embedding", "b.embedding")


def _topk_sql(cols: str, src: str, order: str, k: int) -> str:
    """Twin of ANN.per_query_topk: the k best rows of `src` per
    query_id by `order`, ranked in rn."""
    return (
        f"SELECT {cols} FROM (\n"
        "  SELECT *, row_number() OVER (PARTITION BY query_id\n"
        f"                               ORDER BY {order}) AS rn\n"
        f"  FROM {src}\n) WHERE rn <= {k}"
    )


def _cosine_topk_sql(ctes: list, cand_from: str) -> str:
    """Twin of ANN._cosine_topk at k=5: `cand_from` joins a corpus side
    c (vec_id, embedding) to a query side q (query_id, embedding) with
    self matches excluded; exact cosine, then the per-query top-k."""
    cand = (
        f"cand AS (\n  SELECT q.query_id, c.vec_id AS neighbor_id,"
        f" {_COS} AS cosine\n  FROM {cand_from}\n)"
    )
    return "WITH " + ",\n".join([*ctes, cand]) + "\n" + _topk_sql(
        "query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank",
        "cand", "cosine DESC, neighbor_id", 5,
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs_wide(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10)
    return ANN.brute_force_topk(embs, queries, k=5)


QUERIES["ann_cosine_topk"] = ann_cosine_topk
ORACLE["ann_cosine_topk"] = _cosine_topk_sql(
    [_NZ_CTE, "q AS (SELECT vec_id AS query_id, embedding FROM nz WHERE vec_id < 10)"],
    "nz c JOIN q ON q.query_id != c.vec_id",
)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10)
    return ANN.lsh_topk(embs, queries, k=5, n_planes=4, dim=64)


QUERIES["ann_lsh_topk"] = ann_lsh_topk


def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector near-dups via sign-LSH buckets + 1-bit multiprobe — the
    scale path (no CartesianProduct in the plan; candidates only).
    Production threshold is ~0.95; the demo corpus has no planted
    vector dups (max pairwise cos ≈ 0.51), so the checked threshold is
    0.45 to exercise a non-empty path.  The oracle mirrors the exact
    same bucketing (same deterministic planes), so parity is exact."""
    return ANN.embedding_near_dups_lsh(
        _embs_wide(spark, sf_dir), threshold=0.45, n_planes=4, dim=64,
        n_vectors=table_rows(spark, sf_dir, "embeddings"),
    )


QUERIES["embedding_dedup"] = embedding_dedup


def _lsh_code_sql(n_planes: int = 4, dim: int = 64) -> str:
    """DuckDB twin of operators.ann.lsh_bucket: same deterministic
    sin-based planes (generated from the same Python source), same
    cast-to-double dot, same sign → bit mapping."""
    terms = []
    for p, plane in enumerate(ANN._hyperplanes(dim, n_planes)):
        lits = ", ".join(repr(x) for x in plane)
        dot = (
            f"list_sum(list_transform(list_zip(embedding, [{lits}]),"
            " p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_LSH_FLIPS = ", ".join(str(f) for f in [0] + [1 << p for p in range(4)])


def _lsh_ctes(src: str, pairs: bool = False) -> str:
    """Twin of ANN._lsh_code over `src` (vec_id, embedding): `coded`.
    With ``pairs``, also the embedding_near_dups_lsh path at the 0.45
    threshold: `probes` (each code and its 1-bit flips) and
    `lsh_pairs` (probe ⋈ code, id_1 < id_2, verified cosine)."""
    ctes = (
        f"coded AS (\n  SELECT vec_id, embedding, ({_lsh_code_sql()}) AS code"
        f" FROM {src}\n)"
    )
    if not pairs:
        return ctes
    return ctes + f""",
probes AS (
  SELECT vec_id, embedding, xor(code, f) AS probe
  FROM coded, unnest([{_LSH_FLIPS}]) AS t(f)
),
lsh_pairs AS (
  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2, {_COSAB} AS cosine
  FROM probes a JOIN coded b ON a.probe = b.code AND a.vec_id < b.vec_id
  WHERE ({_COSAB}) >= 0.45
)"""


ORACLE["embedding_dedup"] = f"""
WITH {_NZ_CTE},
{_lsh_ctes("nz", pairs=True)}
SELECT vec_id_1, vec_id_2, cosine FROM lsh_pairs
"""
ORACLE["ann_lsh_topk"] = _cosine_topk_sql(
    [
        _NZ_CTE,
        _lsh_ctes("nz"),
        "q AS (SELECT vec_id AS query_id, embedding, code FROM coded WHERE vec_id < 10)",
    ],
    "coded c JOIN q ON c.code = q.code AND q.query_id != c.vec_id",
)


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the LSH-bucketed near-dup path vs exact all-pairs,
    measured on a bounded eval sample (vec_id < 500) — the standard
    ML-eval pattern: the exact side is quadratic, so it runs on a
    fixed-size sample regardless of corpus SF.  Both verifies pass no
    vector count, so they run on the JVM fold (500 vectors is below
    the kernel crossover).  One-row report the driver can hash: pair
    counts + recall fraction."""
    sample = _embs_wide(spark, sf_dir).where(F.col("vec_id") < 500)
    n_exact = ANN.embedding_near_dups(sample, threshold=0.45).agg(
        F.count("*").alias("n_exact_pairs")
    )
    n_lsh = ANN.embedding_near_dups_lsh(
        sample, threshold=0.45, n_planes=4, dim=64
    ).agg(F.count("*").alias("n_lsh_pairs"))
    # NULL recall when the corpus has no exact pairs: under ANSI mode
    # the bare division would raise divideByZeroError on such corpora
    # (same crash class as the zero-norm cosine, found by the fuzz gate)
    return n_exact.crossJoin(n_lsh).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.col("n_lsh_pairs").cast("double") / F.col("n_exact_pairs"),
        ).alias("recall"),
    )


QUERIES["ann_recall_report"] = ann_recall_report

ORACLE["ann_recall_report"] = f"""
WITH sample AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500 AND {_nz_sql()}
),
exact AS (
  SELECT count(*) AS n_exact_pairs
  FROM sample a JOIN sample b ON a.vec_id < b.vec_id
  WHERE ({_COSAB}) >= 0.45
),
{_lsh_ctes("sample", pairs=True)},
lsh AS (SELECT count(*) AS n_lsh_pairs FROM lsh_pairs)
SELECT n_exact_pairs, n_lsh_pairs,
       CASE WHEN n_exact_pairs > 0
            THEN CAST(n_lsh_pairs AS DOUBLE) / n_exact_pairs END AS recall
FROM exact, lsh
"""


# ---------------------------------------------------- text analysis
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang_pred"),
        F.col("lang").alias("lang_actual"),
    )


QUERIES["lang_id"] = lang_id
ORACLE["lang_id"] = f"""
SELECT doc_id, {T.lang_id_sql('text')} AS lang_pred, lang AS lang_actual
FROM documents
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("n_tokens"),
        T.punct_ratio(F.col("text")).alias("punct_ratio"),
        T.stopword_ratio(F.col("text")).alias("stopword_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    )


QUERIES["doc_quality"] = doc_quality
ORACLE["doc_quality"] = f"""
SELECT doc_id,
       {T.TOKEN_COUNT_WS_SQL.format(c='text')} AS n_tokens,
       {T.PUNCT_RATIO_SQL.format(c='text')} AS punct_ratio,
       {T.STOPWORD_RATIO_SQL.format(c='text')} AS stopword_ratio,
       {T.quality_score_sql('text')} AS quality
FROM documents
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        T.token_count_bpeish(F.col("text")).alias("n_tokens_bpe"),
    )


QUERIES["token_count"] = token_count
ORACLE["token_count"] = f"""
SELECT doc_id,
       {T.TOKEN_COUNT_WS_SQL.format(c='text')} AS n_tokens_ws,
       CAST({T.TOKEN_COUNT_BPEISH_SQL.format(c='text')} AS INTEGER) AS n_tokens_bpe
FROM documents
"""


# Polynomial rolling-hash fingerprint over tokens: exact integer
# arithmetic (mod 2^31-1) so it is engine-portable, unlike xxhash64.
_FP_MOD = 2147483647
_TV_MOD = 65536


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tv = lambda t: (  # noqa: E731
        F.when(t == "", F.lit(0).cast("long")).otherwise(
            (F.ascii(t).cast("long") * 31 + F.length(t)) % _TV_MOD
        )
    )
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 257 + tv(t)) % _FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


QUERIES["doc_fingerprint"] = doc_fingerprint
ORACLE["doc_fingerprint"] = f"""
WITH tv AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'),
           t -> CASE WHEN t = '' THEN 0
                     ELSE (ord(t[1]) * 31 + len(t)) % {_TV_MOD} END) AS vals
  FROM documents
)
SELECT doc_id,
       CAST(list_reduce(list_prepend(0, vals),
                        (acc, x) -> (acc * 257 + x) % {_FP_MOD}) AS BIGINT)
         AS fingerprint
FROM tv
"""


# --------------------------------------------------- dedup clustering
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph → dedup
    groups (canonical doc + members).  Oracle: recursive-CTE
    transitive closure in DuckDB.

    The ``members`` array is serialized to a comma-joined string at
    the query boundary: the driver's pandas canonicalizer sorts raw
    cells and cannot sort list cells (r11 driver `err`).  The
    array-returning operator stays available as
    operators.components.dedup_clusters for programmatic use."""
    from bank_transaction_data_warehouse_spark.operators.components import (
        dedup_clusters,
    )

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    clusters = dedup_clusters(pairs)
    return clusters.select(
        "canonical_doc_id",
        "cluster_size",
        F.array_join(
            F.transform("members", lambda m: m.cast("string")), ","
        ).alias("members"),
    )


QUERIES["dedup_clusters"] = dedup_clusters_q
ORACLE["dedup_clusters"] = f"""
WITH RECURSIVE {_JACCARD_COMPONENTS_CTES}
SELECT min(node) AS canonical_doc_id,
       count(*) AS cluster_size,
       array_to_string(list_sort(list(node)), ',') AS members
FROM comp GROUP BY comp.comp
"""


# ------------------------------------------------------ data profiling
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass profile of the events stream's numeric health columns
    (null rates + ranges — the checks behind the reference's cleaning
    rules).  approx_distinct is computed by the operator but excluded
    here: HLL has no DuckDB twin."""
    from bank_transaction_data_warehouse_spark.operators.profile import profile_table

    prof = profile_table(load_table(spark, sf_dir, "events"))
    return prof.select("column", "n", "n_null", "min", "max").where(
        F.col("column").isin("event_id", "user_id", "value")
    )


QUERIES["profile_events"] = profile_events
ORACLE["profile_events"] = """
-- n_null: DuckDB types sum(INT CASE) as HUGEINT; cast to int64 to
-- match the Spark profile schema under a type-sensitive hash.
SELECT 'event_id' AS column, count(*) AS n,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(min(event_id) AS DOUBLE) AS min, CAST(max(event_id) AS DOUBLE) AS max
FROM events
UNION ALL
SELECT 'user_id', count(*),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE) FROM events
UNION ALL
SELECT 'value', count(*),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       min(value), max(value) FROM events
"""


# ------------------------------------------------- corpus utilities
def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pass: lowercase, collapse whitespace runs,
    strip ASCII control chars — the first stage of any pretraining
    corpus pipeline."""
    docs = _docs(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[\x00-\x1f]", " "),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("int").alias("n_chars_norm"),
    )


QUERIES["normalize_text"] = normalize_text
ORACLE["normalize_text"] = r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f]', ' ', 'g'),
                           '\s+', ' ', 'g')) AS norm_text,
       CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f]', ' ', 'g'),
                                    '\s+', ' ', 'g'))) AS INTEGER) AS n_chars_norm
FROM documents
"""


def ngram_counts(spark: SparkSession, sf_dir: str, top: int = 20) -> DataFrame:
    """Global top-N token bigrams — corpus statistics (vocabulary /
    n-gram LM inputs).  One explode + one combiner-friendly groupBy."""
    docs = _docs(spark, sf_dir)
    with_toks = docs.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("_toks")
    )
    grams = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("_toks", i), F.element_at("_toks", i + 1)
            ),
        ),
    ).otherwise(F.array())
    return (
        with_toks.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(top)
    )


QUERIES["ngram_counts"] = ngram_counts
ORACLE["ngram_counts"] = """
WITH toks AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
),
grams AS (
  SELECT unnest(CASE WHEN len(t) >= 2
    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
    ELSE [] END) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n FROM grams
GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: majority lang
    (en) downsampled to ~20%, others kept at ~80% — the standard
    corpus-rebalancing op.  The sampling decision is a pure hash of
    the doc id (Knuth multiplicative), so it is reproducible across
    runs, engines, and partitionings — never rand()."""
    docs = _docs(spark, sf_dir)
    # doc_id reduced mod a prime FIRST so the multiply stays inside
    # int64 for 64-bit snowflake-style ids (DuckDB would raise on
    # BIGINT overflow; Spark would silently wrap)
    bucket = F.pmod(F.pmod(F.col("doc_id"), F.lit(1000003)) * 2654435761, F.lit(100))
    rate = F.when(F.col("lang") == "en", 20).otherwise(80)
    return docs.where(bucket < rate).select("doc_id", "lang", "source")


QUERIES["stratified_sample"] = stratified_sample
ORACLE["stratified_sample"] = """
SELECT doc_id, lang, source FROM documents
WHERE ((doc_id % 1000003) * 2654435761) % 100 <
      CASE WHEN lang = 'en' THEN 20 ELSE 80 END
"""


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus cleaning pipeline — the flagship
    composition: exact dedup (keep min id) → near-dup removal (keep
    each Jaccard-cluster's canonical doc) → quality filter.  Output is
    the surviving corpus with per-doc metadata."""
    from bank_transaction_data_warehouse_spark.operators.components import (
        connected_components,
    )

    docs = _docs_wide(spark, sf_dir)
    # 1. exact dedup: survivor = min doc_id per content hash
    surv = DD.exact_dedup(docs).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    docs1 = docs.join(surv, "doc_id", "left_semi")
    # 2. near-dup removal: in each connected component keep the
    #    canonical (= component label = min id)
    pairs = DD.ngram_jaccard_pairs(
        docs1, n=3, threshold=0.8, parts=_docs_parts(spark, sf_dir)
    )
    comp = connected_components(pairs)
    losers = comp.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    docs2 = docs1.join(losers, "doc_id", "left_anti")
    # 3. quality gate
    return docs2.select(
        "doc_id",
        "lang",
        T.token_count_ws(F.col("text")).alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
    ).where(F.col("quality") >= 0.66)


QUERIES["corpus_clean"] = corpus_clean
ORACLE["corpus_clean"] = f"""
WITH RECURSIVE {_JACCARD_COMPONENTS_CTES},
exact_surv AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
losers AS (SELECT node AS doc_id FROM comp WHERE node != comp.comp)
SELECT d.doc_id, d.lang,
       {T.TOKEN_COUNT_WS_SQL.format(c='d.text')} AS n_tokens,
       {T.quality_score_sql('d.text')} AS quality
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM exact_surv)
  AND d.doc_id NOT IN (SELECT doc_id FROM losers)
  AND ({T.quality_score_sql('d.text')}) >= 0.66
"""


# ---------------------------------------------------- vector analytics
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid — the vector-aggregation shape
    behind IVF coarse quantizers and cluster summaries.  posexplode →
    (label, dim) partial sums → rebuild vector; one shuffle keyed by
    (label, dim), combiner-friendly, scales to any corpus."""
    embs = _embs(spark, sf_dir)
    per_dim = (
        embs.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.sum(F.col("v").cast("double")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    return (
        per_dim.withColumn(
            "mean_v", F.round(F.col("s") / F.col("n") * 1000000) / 1000000.0
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim").cast("int").alias("dim"), "mean_v"))
                ),
                lambda x: x["mean_v"],
            ).alias("centroid"),
            F.max("n").cast("bigint").alias("n_vectors"),
        )
    )


def label_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() boundary for label_centroids: the centroid vector is
    serialized to comma-joined integer micros (round(mean*1e6)) — the
    driver's pandas canonicalizer cannot sort list cells (r11 driver
    `err` on the raw array).  mean_v is already rounded to 1e-6 on
    both engines, so *1e6 is within 1 ulp of an integer and the final
    round is unambiguous (never a .5 boundary)."""
    lc = label_centroids(spark, sf_dir)
    return lc.select(
        "label",
        F.array_join(
            F.transform(
                "centroid",
                lambda v: F.round(v * 1000000).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("centroid_micros"),
        "n_vectors",
    )


QUERIES["label_centroids"] = label_centroids_q
ORACLE["label_centroids"] = """
WITH z AS (
  SELECT label, unnest(list_zip(embedding, range(1, len(embedding)+1))) AS u
  FROM embeddings
),
per_dim AS (
  SELECT label, CAST(u[2] AS INTEGER) - 1 AS dim,
         round(sum(CAST(u[1] AS DOUBLE)) / count(*) * 1000000) / 1000000.0 AS mean_v,
         count(*) AS n
  FROM z GROUP BY 1, 2
)
SELECT label,
       string_agg(CAST(CAST(round(mean_v * 1000000) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY dim) AS centroid_micros,
       CAST(max(n) AS BIGINT) AS n_vectors
FROM per_dim GROUP BY 1
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document — classic corpus feature
    extraction.  tf from per-doc token explode, idf from doc
    frequency; both integer-exact, tf·log-idf rounded for the oracle.
    """
    docs = _docs_wide(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    ).where(F.col("term") != "").persist()
    # persisted: tf and df both consume the exploded terms (the
    # two-consumer df-stats shape); modest win here (0.69 -> 0.63 s at
    # sf0.1 — the upstream is a plain split, cheaper than the shingle
    # pipelines) but the invariant applies all the same
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    # corpus size as a broadcast scalar join, not a driver-side
    # .count() — keeps the whole query one lazy plan (same pattern as
    # q11's scalar-fraction HAVING)
    n_docs = docs.agg(F.count("*").cast("double").alias("_n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tfidf", "rnk")
    )


QUERIES["tfidf_top_terms"] = tfidf_top_terms
ORACLE["tfidf_top_terms"] = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE term != ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks2 GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks2 GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column multimodal plumbing: attach an opaque payload and
    extract features via mapInPandas (decode is a deterministic stub —
    see multimodal/pipeline.py).  Oracle-checked as of r11: the stub
    derives features from md5 (implemented by both engines), so even
    the Python-side Arrow path is value-verified against ANSI SQL."""
    from bank_transaction_data_warehouse_spark.multimodal.pipeline import (
        attach_binary_payload,
        decode_image_features,
    )

    return decode_image_features(attach_binary_payload(_docs(spark, sf_dir)))


QUERIES["multimodal_features"] = multimodal_features

# hex-pair -> int via CAST('0x..' AS INTEGER); digest byte k is hex
# chars (2k+1, 2k+2)
_MM_B = "CAST(concat('0x', substr(md5(text), {p}, 2)) AS INTEGER)"
ORACLE["multimodal_features"] = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       md5(text) AS md5,
       CAST(16 + ({_MM_B.format(p=1)}) % 240 AS INTEGER) AS width,
       CAST(16 + ({_MM_B.format(p=3)}) % 240 AS INTEGER) AS height,
       CAST(1 + ({_MM_B.format(p=5)}) % 4 AS INTEGER) AS channels
FROM documents
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: label centroids act as the coarse
    quantizer (deterministic — no training run needed on the demo
    corpus), nprobe=3 of 10 lists probed per query.  Rows-only check;
    tests/test_ann.py measures recall vs brute force."""
    embs = _embs(spark, sf_dir)
    # Deliberate driver-side collect of exactly n_centroids (=10) rows:
    # an IVF coarse quantizer is by construction a tiny model (k lists,
    # k << corpus) that must ship to every task as plan literals so
    # assignment is a pure map — no shuffle, no join.  At 100 TB the
    # centroids would be precomputed once and persisted; the collect
    # never scales with the data.  Memoized per immutable input
    # (session.build_stat) — rebuilding the plan must not re-run the job.
    cents = _label_cents(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10)
    return ANN.ivf_topk(embs, queries, cents, k=5, nprobe=3)


def _label_cents(spark, sf_dir) -> list:
    return build_stat(
        spark,
        (sf_dir, "label_cents"),
        lambda: [
            (r.label, r.centroid)
            for r in label_centroids(spark, sf_dir).orderBy("label").collect()
        ],
    )


QUERIES["ann_ivf_topk"] = ann_ivf_topk

# the same 1e-6-rounded label centroids as label_centroids (whose
# oracle proves they match bitwise); also centroid_classifier_eval's
_LABEL_CENT_CTES = """z AS (
  SELECT label, unnest(list_zip(embedding, range(1, len(embedding)+1))) AS u
  FROM embeddings
),
per_dim AS (
  SELECT label, CAST(u[2] AS INTEGER) - 1 AS dim,
         round(sum(CAST(u[1] AS DOUBLE)) / count(*) * 1000000) / 1000000.0 AS mean_v
  FROM z GROUP BY 1, 2
),
cent AS (SELECT label, list(mean_v ORDER BY dim) AS centroid FROM per_dim GROUP BY label)"""


def _ivf_ctes(nprobe: int, materialized: bool = False) -> str:
    """Twin of ANN.ivf_assign / ivf_probe over a `cent` (label,
    centroid) CTE: `nz`, the dot scores, `assigned` (max dot, tie
    smallest label) and `qprobe` (each query's nprobe best, tie larger
    label first, as Spark's reverse(array_sort)).  Only ids travel
    through these n x K rows: the vectors stay in `nz`.  ``materialized``
    as in _km_ctes."""
    M = "MATERIALIZED " if materialized else ""
    return f"""nz AS {M}(SELECT * FROM embeddings WHERE {_nz_sql()}),
assign_scored AS {M}(
  SELECT e.vec_id, c.label,
         list_sum(list_transform(list_zip(e.embedding, c.centroid),
                                 p -> CAST(p[1] AS DOUBLE) * p[2])) AS s
  FROM nz e CROSS JOIN cent c
),
assigned AS {M}(
  SELECT vec_id, label AS centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY s DESC, label ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
qprobe AS {M}(
  SELECT vec_id AS query_id, label AS centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY s DESC, label DESC) AS rn
    FROM assign_scored WHERE vec_id < 10
  ) WHERE rn <= {nprobe}
)"""


_IVF_CAND = (
    "assigned a JOIN nz c USING (vec_id) JOIN qprobe p USING (centroid_id)\n"
    "  JOIN (SELECT vec_id AS query_id, embedding FROM nz) q USING (query_id)\n"
    "  WHERE q.query_id != c.vec_id"
)
ORACLE["ann_ivf_topk"] = _cosine_topk_sql(
    [_LABEL_CENT_CTES, _ivf_ctes(3)], _IVF_CAND
)


def pack_documents(spark: SparkSession, sf_dir: str, budget: int = 4096) -> DataFrame:
    """Token-budget shard packing: assign documents to training shards
    so each shard holds ~budget tokens, deterministic order (doc_id)
    within each language partition.  The pretraining-data op behind
    'pack sequences to 4k context'.  Exact integer cumulative sums →
    reproducible across engines; partitioned by lang so the window
    shards across executors (a global pack would use a per-partition
    budget pass + offset merge)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    with_tok = docs.select(
        "doc_id", "lang", T.token_count_ws(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col("n_tokens").cast("bigint")).over(w)
    return with_tok.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / budget).cast("int").alias("shard_id"),
    )


QUERIES["pack_documents"] = pack_documents
ORACLE["pack_documents"] = f"""
WITH t AS (
  SELECT doc_id, lang,
         {T.TOKEN_COUNT_WS_SQL.format(c='text')} AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(floor((sum(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens) / 4096.0) AS INTEGER) AS shard_id
FROM t
"""


# ------------------------------------------- contamination + repetition
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: training docs sharing any
    distinct 5-gram with the eval/benchmark split.  The eval split is
    a deterministic pseudo-benchmark (doc_id % 97 == 0) since the
    testdata ships no separate eval table; swapping in a real
    benchmark table changes one filter.

    Shape at 100 TB: grams join on xxhash64 bigints (injective — the
    string-keyed oracle still matches), shuffle keyed by gram hash;
    output rows are bounded by the train-side gram count (each train
    doc's grams are distinct), so there is no quadratic blow-up —
    unlike dedup self-joins, the eval side is a fixed small corpus.
    """
    docs = _docs_wide(spark, sf_dir)
    is_eval = F.col("doc_id") % 97 == 0
    eval_grams = (
        DD.shingle_sets(docs.where(is_eval), n=5)
        .select(
            F.explode(
                F.transform("sh_set", lambda s: F.xxhash64(s))
            ).alias("g")
        )
        .distinct()
    )
    train_grams = DD.shingle_sets(docs.where(~is_eval), n=5).select(
        "doc_id",
        F.explode(F.transform("sh_set", lambda s: F.xxhash64(s))).alias("g"),
    )
    return (
        train_grams.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_grams"))
    )


QUERIES["decontaminate"] = decontaminate

_GRAMS5_CTE = """
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, len(t) - 3),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          || ' ' || t[i+3] || ' ' || t[i+4]))
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
)
"""

ORACLE["decontaminate"] = f"""
WITH {_GRAMS5_CTE.strip()},
eg AS (SELECT DISTINCT unnest(g) AS sh FROM grams WHERE doc_id % 97 = 0),
tg AS (SELECT doc_id, unnest(g) AS sh FROM grams WHERE doc_id % 97 != 0)
SELECT doc_id, count(*) AS n_eval_grams
FROM tg JOIN eg USING (sh)
GROUP BY 1
"""


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signal: fraction of trigram OCCURRENCES that
    are repeats of an earlier trigram — the standard 'repetitive junk'
    quality filter for pretraining corpora.  Pure column expressions
    (no shuffle at all: one scan, one projection); ratio derives from
    two integer counts so the double is bit-identical cross-engine."""
    docs = _docs_wide(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = docs.select("doc_id", toks.alias("_toks"))
    t = F.col("_toks")
    grams = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", t)))
    out = base.select("doc_id", grams.alias("_g")).select(
        "doc_id",
        F.size("_g").cast("bigint").alias("n_grams"),
        F.size(F.array_distinct("_g")).cast("bigint").alias("n_distinct"),
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        (
            (F.col("n_grams") - F.col("n_distinct")).cast("double")
            / F.col("n_grams")
        ).alias("rep_ratio"),
    )


QUERIES["repetition_score"] = repetition_score

ORACLE["repetition_score"] = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
)
SELECT doc_id,
       CAST(len(g) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
       CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) AS rep_ratio
FROM grams
"""


# --------------------------------------------------- domain mixing
_MIX_WEIGHTS = {"en": 8, "zh": 3, "es": 3, "de": 3, "fr": 3}  # 40/15/15/15/15
_MIX_MOD = 2147483647
_MIX_MULT = 2654435761 % _MIX_MOD


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing sampler: select the LARGEST corpus subset whose
    language proportions hit the target mix exactly — the pretraining
    'data mixture' op.  Targets are integer weights (8:3:3:3:3 =
    40/15/15/15/15%), so the achievable size is u = min_l
    floor(n_l / w_l) mixture units and each language keeps k_l = w_l*u
    docs: pure integer math, bit-exact in any engine.  Selection is
    deterministic: rank docs per language by a portable hash of doc_id
    (pseudo-random but reproducible — no rand(), retries safe), keep
    the first k_l.

    Scale shape: one count aggregation (combiner-friendly), a
    broadcast scalar for u, and a per-language row_number window —
    shuffle keyed by lang; skew bounded by the largest language, which
    is exactly the thing the mixture caps."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    w = F.lit(None).cast("long")
    for lang, wt in _MIX_WEIGHTS.items():
        w = F.when(F.col("lang") == lang, F.lit(wt).cast("long")).otherwise(w)
    weighted = docs.select("doc_id", "lang", w.alias("_w")).where(
        F.col("_w").isNotNull()
    )
    units = (
        weighted.groupBy("lang", "_w")
        .agg(F.count("*").alias("_n"))
        .select(F.floor(F.col("_n") / F.col("_w")).alias("_u"))
        .agg(F.min("_u").alias("_units"))
    )
    from pyspark.sql import Window

    # reduce doc_id mod p BEFORE the multiply: (p-1)*MULT ≈ 4.6e18
    # stays inside int64, whereas doc_id*MULT overflows (ANSI runtime
    # error) for doc_id ≳ 1.8e10 — reachable at the 100 TB corpus
    # scale this sampler targets
    order_hash = ((F.col("doc_id") % _MIX_MOD) * _MIX_MULT) % F.lit(_MIX_MOD)
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(order_hash, "doc_id")
    )
    return (
        weighted.crossJoin(F.broadcast(units))
        .withColumn("smp_rank", rk.cast("int"))
        .where(F.col("smp_rank") <= F.col("_w") * F.col("_units"))
        .select("doc_id", "lang", "smp_rank")
    )


QUERIES["mixture_sample"] = mixture_sample

_MIX_CASE = " ".join(
    f"WHEN '{lang}' THEN {wt}" for lang, wt in _MIX_WEIGHTS.items()
)
ORACLE["mixture_sample"] = f"""
WITH weighted AS (
  SELECT doc_id, lang,
         CAST(CASE lang {_MIX_CASE} END AS BIGINT) AS w
  FROM documents
  WHERE lang IN ({", ".join(repr(k) for k in _MIX_WEIGHTS)})
),
units AS (
  SELECT min(u) AS units FROM (
    SELECT CAST(floor(count(*) * 1.0 / w) AS BIGINT) AS u
    FROM weighted GROUP BY lang, w
  )
),
ranked AS (
  SELECT doc_id, lang, w,
         row_number() OVER (PARTITION BY lang
                            ORDER BY ((doc_id % {_MIX_MOD}) * {_MIX_MULT}) % {_MIX_MOD},
                                     doc_id) AS rk
  FROM weighted
)
SELECT doc_id, lang, CAST(rk AS INTEGER) AS smp_rank
FROM ranked, units
WHERE rk <= w * units
"""


# --------------------------------------------- r12: chunking + rarity
# Shared plan/oracle constants: each parameter below appears in BOTH
# a PySpark plan (as the function default) and its DuckDB oracle
# f-string — one definition so changing a default cannot silently
# desync the twin (the _MIX_MULT/_MIX_MOD discipline applied to every
# parameterized query).  Non-default *calls* still desync by design:
# the oracle covers the published queries() surface, not every
# parameterization.
_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48
_RARE_MAX_DF = 2
_VG_NB = 10
_FS_EVERY_N = 10
_HF_DIM = 64
_KM_K = 8
_KM_ITERS = 2


def chunk_documents(
    spark: SparkSession, sf_dir: str,
    chunk: int = _CHUNK_SIZE, stride: int = _CHUNK_STRIDE,
) -> DataFrame:
    """Fixed-size token chunking with overlap (chunk=64, stride=48) —
    see operators/textstats.chunk_docs (property-tested vs a naive
    Python chunker in tests/test_properties.py)."""
    from bank_transaction_data_warehouse_spark.operators.textstats import chunk_docs

    return chunk_docs(_docs(spark, sf_dir), chunk=chunk, stride=stride)


QUERIES["chunk_documents"] = chunk_documents
ORACLE["chunk_documents"] = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE len(trim(text)) > 0
),
s AS (
  SELECT doc_id, toks,
         unnest(range(1, len(toks) + 1, {_CHUNK_STRIDE})) AS start FROM t
)
SELECT doc_id,
       CAST((start - 1) // {_CHUNK_STRIDE} + 1 AS INTEGER) AS chunk_idx,
       array_to_string(toks[start:least(start + {_CHUNK_SIZE - 1}, len(toks))], ' ') AS chunk_text,
       CAST(least({_CHUNK_SIZE}, len(toks) - start + 1) AS INTEGER) AS n_chunk_tokens
FROM s
"""


def rare_token_ratio(
    spark: SparkSession, sf_dir: str, max_df: int = _RARE_MAX_DF
) -> DataFrame:
    """Per-doc rare-token share (df <= max_df quality filter) — see
    operators/textstats.rare_token_stats."""
    from bank_transaction_data_warehouse_spark.operators.textstats import (
        rare_token_stats,
    )

    return rare_token_stats(_docs_wide(spark, sf_dir), max_df=max_df)


QUERIES["rare_token_ratio"] = rare_token_ratio
ORACLE["rare_token_ratio"] = rf"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents WHERE len(trim(text)) > 0
),
dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN df <= {_RARE_MAX_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       round(sum(CASE WHEN df <= {_RARE_MAX_DF} THEN 1 ELSE 0 END) * 10000.0 / count(*)) / 100.0 AS rare_pct
FROM t JOIN dfq USING (tok)
GROUP BY doc_id
"""


def dup_shingle_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate/duplication share — see
    operators/textstats.dup_shingle_stats."""
    from bank_transaction_data_warehouse_spark.operators.textstats import (
        dup_shingle_stats,
    )

    return dup_shingle_stats(_docs_wide(spark, sf_dir), n=3)


QUERIES["dup_shingle_ratio"] = dup_shingle_ratio
ORACLE["dup_shingle_ratio"] = f"""
WITH {_SHINGLES_CTE.strip()},
dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
SELECT s.doc_id,
       CAST(any_value(s.n_sh) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
       round(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 10000.0
             / any_value(s.n_sh)) / 100.0 AS dup_pct
FROM sh s JOIN dfq d USING (shingle)
GROUP BY 1
"""


# ------------------------------------------------- r12: clustering,
# histogram-guided selection, corpus growth statistics


def _km_shared(spark, sf_dir, assign_frame, k=_KM_K, iters=_KM_ITERS):
    """Train the shared kmeans model ONCE per (session, sf_dir, k,
    iters) on the canonical PLAIN scan, then assign the CALLER's frame.
    r14 coupled all five sharers of the model key to the spread frame
    purely so the memoized model could not depend on which consumer
    trained first — at the cost of a driver-measured 1.8x regression
    on kmeans_clusters (the spread exchange bought nothing there).
    Decoupling train-frame from assign-frame restores both properties:
    the model is a pure function of (sf_dir, k, iters) regardless of
    caller order, and each consumer picks its own scan shape
    (r15 verdict item 2).  Returns (assigned, cents); empty-input
    contract = kmeans_fit's (empty frame, empty codebook)."""
    from bank_transaction_data_warehouse_spark.operators import kmeans as KM

    cents = build_stat(
        spark, (sf_dir, "kmeans", k, iters),
        lambda: KM.kmeans_fit(
            _embs(spark, sf_dir).select("vec_id", "embedding"), k=k, iters=iters
        )[1],
    )
    if not cents:
        return assign_frame.withColumn("cid", F.lit(0)).where(F.lit(False)), {}
    return KM.assign_clusters(assign_frame, cents), cents


def kmeans_clusters(
    spark: SparkSession, sf_dir: str, k: int = _KM_K, iters: int = _KM_ITERS
) -> DataFrame:
    """Bounded-iteration distributed Lloyd k-means over the embeddings
    table — training the IVF coarse quantizer instead of assuming one
    (operators/kmeans.py holds the machinery + scale argument: k-row
    collects are model params; assignment is a literal-centroid
    projection; updates are one combiner-friendly (cid, dim) shuffle).
    Output: per-cluster size + micro-serialized centroid of the LAST
    assignment (driver canonicalizer cannot sort list cells — r11
    lesson, serialized at the boundary)."""
    embs = _embs_wide(spark, sf_dir).select("vec_id", "embedding")
    assigned, cents = _km_shared(spark, sf_dir, embs, k=k, iters=iters)
    if not cents:  # empty input: 0 rows with the query's exact schema
        return _empty(spark, "cid bigint, n_vectors bigint, centroid_micros string")
    # Per-dim sums as ONE groupBy(cid) with dim sum columns instead of
    # posexplode -> groupBy(cid, dim) -> regroup(cid): same values
    # (identical per-dim double sums, identical micro-rounding chain),
    # one exchange and no dim-fold row blow-up instead of two
    # exchanges over dim x rows exploded rows (r15; the training
    # updates keep operators/kmeans.mean_stats — the oracle replays
    # those, and their reduced side is k x dim rows regardless).
    # per-dim expressions rendered as SQL text (one F.expr each, not
    # ~5 py4j calls per dim x 3 chains — the same plan-build economy
    # as assign_clusters); the micro-rounding chain replicates the
    # old Column form exactly: mean_v = round(s/n * 1e6) / 1e6, then
    # round(mean_v * 1e6)::bigint
    dim = len(next(iter(cents.values())))
    sums = assigned.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        *[
            F.expr(
                f"sum(CAST(element_at(embedding, {d + 1}) AS DOUBLE)) AS _s{d}"
            )
            for d in range(dim)
        ],
    )
    micros = ", ".join(
        f"CAST(CAST(round(round(_s{d} / n_vectors * 1000000) / 1000000.0"
        f" * 1000000) AS BIGINT) AS STRING)"
        for d in range(dim)
    )
    return sums.selectExpr(
        "CAST(cid AS BIGINT) AS cid",
        "n_vectors",
        f"concat_ws(',', {micros}) AS centroid_micros",
    )


QUERIES["kmeans_clusters"] = kmeans_clusters

_KM_DIST = (
    "CAST(round(list_sum(list_transform(list_zip(e.embedding, c.emb),"
    " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT)"
)

def _km_ctes(
    k: int, iters: int, src: str = "embeddings", prefix: str = "",
    materialized: bool = False,
) -> str:
    """Generate the Lloyd-iteration CTE chain for the DuckDB twin from
    the SAME (k, iters) the PySpark plan defaults to, so the oracle
    cannot silently desync from the query parameters.  Mirrors
    operators/kmeans.kmeans_fit exactly: init = first k vec_ids,
    assignment tie -> smallest cid, means micro-rounded per iteration
    so cross-engine float drift cannot accumulate.

    ``src``/``prefix`` generalize the chain to any (vec_id, embedding)
    CTE with prefixed CTE names, so several chains coexist in one
    WITH — the per-subspace codebooks of product quantization
    (ann_pq_topk) train m chains side by side.  Defaults produce the
    historical single-chain text byte-for-byte.

    ``materialized``: emit ``AS MATERIALIZED (`` per CTE — set by the
    IVFADC oracle, whose inlined chains DuckDB otherwise re-plans
    per reference without stats (273 s at sf0.01 vs 0.3 s; r14).
    Emitted at the generation point, not regex-rewritten over the
    assembled SQL (r14 ADVICE: the blanket regex would corrupt any
    future literal `word AS (` inside a CTE body)."""
    p = prefix
    M = "MATERIALIZED " if materialized else ""
    parts = [
        f"{p}c0 AS {M}(\n"
        f"  SELECT vec_id AS cid, embedding AS emb FROM {src} "
        f"ORDER BY vec_id LIMIT {k}\n)"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"{p}d{i} AS {M}(\n"
            f"  SELECT e.vec_id, c.cid, {_KM_DIST} AS dm\n"
            f"  FROM {src} e CROSS JOIN {p}c{i - 1} c\n)"
        )
        parts.append(
            f"{p}a{i} AS {M}(\n"
            f"  SELECT vec_id, cid FROM {p}d{i}\n"
            "  QUALIFY row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dm, cid) = 1\n)"
        )
        parts.append(
            f"{p}z{i} AS {M}(\n"
            "  SELECT a.cid,\n"
            "         unnest(list_zip(e.embedding, "
            "range(1, len(e.embedding) + 1))) AS u\n"
            f"  FROM {p}a{i} a JOIN {src} e USING (vec_id)\n)"
        )
        if i < iters:
            parts.append(
                f"{p}pd{i} AS {M}(\n"
                "  SELECT cid, CAST(u[2] AS INTEGER) - 1 AS dim,\n"
                "         round(sum(CAST(u[1] AS DOUBLE)) / count(*) "
                "* 1000000) / 1000000.0 AS mean_v\n"
                f"  FROM {p}z{i} GROUP BY 1, 2\n)"
            )
            parts.append(
                f"{p}c{i} AS {M}(SELECT cid, list(mean_v ORDER BY dim) AS emb "
                f"FROM {p}pd{i} GROUP BY cid)"
            )
        else:
            parts.append(
                f"{p}fin AS {M}(\n"
                "  SELECT cid, CAST(u[2] AS INTEGER) - 1 AS dim,\n"
                "         round(sum(CAST(u[1] AS DOUBLE)) / count(*) "
                "* 1000000) / 1000000.0 AS mean_v,\n"
                "         count(*) AS n\n"
                f"  FROM {p}z{i} GROUP BY 1, 2\n)"
            )
    return ",\n".join(parts)


_KM_CTES = _km_ctes(_KM_K, _KM_ITERS)

ORACLE["kmeans_clusters"] = f"""
WITH {_KM_CTES.strip().strip(',')}
SELECT CAST(cid AS BIGINT) AS cid,
       CAST(max(n) AS BIGINT) AS n_vectors,
       string_agg(CAST(CAST(round(mean_v * 1000000) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY dim) AS centroid_micros
FROM fin GROUP BY 1
"""


def _q_flags_col() -> F.Column:
    return T.quality_flags(F.col("text"))


def quality_top_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the top 10% of documents by quality WITHOUT a global
    sort: histogram-guided selection.  The quality class histogram is
    collected eagerly (<= 4 rows — model-sized, like the IVF
    quantizer); classes that fit wholly under the quota pass through
    with a plain filter (no shuffle at all), and only the single
    BOUNDARY class pays a rank — computed with the distributed
    bucket-interpolated dense rank from operators/keys.py over doc_id
    (near-uniform key -> balanced buckets; no empty-partitionBy
    window anywhere).  At 100 TB this ranks ~one class (~n/4 docs) by
    an id instead of globally sorting the corpus by score."""
    from bank_transaction_data_warehouse_spark.operators.keys import (
        add_surrogate_key,
    )

    docs = _docs_wide(spark, sf_dir)
    scored = docs.select("doc_id", _q_flags_col().alias("q_flags"))
    # <=|score classes| rows; memoized per immutable input so a plan
    # rebuild does not re-run the histogram job (session.build_stat)
    hist = build_stat(
        spark,
        (sf_dir, "q_flags_hist"),
        lambda: sorted(
            (
                (r["q_flags"], r["n"])
                for r in scored.groupBy("q_flags")
                .agg(F.count("*").alias("n"))
                .collect()
            ),
            key=lambda t: -t[0],
        ),
    )
    total = sum(n for _, n in hist)
    keep = (total + 9) // 10
    full_flags: list[int] = []
    boundary: tuple[int, int] | None = None
    acc = 0
    for fl, n in hist:
        if acc + n <= keep:
            full_flags.append(fl)
            acc += n
        else:
            boundary = (fl, keep - acc)
            break
    parts = []
    if full_flags:
        parts.append(scored.where(F.col("q_flags").isin(full_flags)))
    if boundary is not None and boundary[1] > 0:
        bfl, quota = boundary
        ranked = add_surrogate_key(
            scored.where(F.col("q_flags") == bfl),
            ["doc_id"],
            "_r",
            strategy="rownum",
            # deterministic per sf_dir: bfl is a pure function of the
            # immutable testdata, so the rank stats can be memoized
            cache_key=f"{sf_dir}:quality_top_decile:{bfl}",
        )
        parts.append(ranked.where(F.col("_r") <= quota).drop("_r"))
    if not parts:
        return scored.where(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["quality_top_decile"] = quality_top_decile

_Q_FLAGS_SQL = (
    "CAST((CASE WHEN ({ntok}) BETWEEN 10 AND 5000 THEN 1 ELSE 0 END)"
    " + (CASE WHEN ({pr}) < 0.2 THEN 1 ELSE 0 END)"
    " + (CASE WHEN ({sw}) > 0.01 AND ({sw}) < 0.6 THEN 1 ELSE 0 END)"
    " AS INTEGER)"
).format(
    ntok=T.TOKEN_COUNT_WS_SQL.format(c="text"),
    pr=T.PUNCT_RATIO_SQL.format(c="text"),
    sw=T.STOPWORD_RATIO_SQL.format(c="text"),
)

ORACLE["quality_top_decile"] = f"""
WITH s AS (SELECT doc_id, {_Q_FLAGS_SQL} AS q_flags FROM documents),
r AS (
  SELECT *, row_number() OVER (ORDER BY q_flags DESC, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM s
)
SELECT doc_id, q_flags FROM r WHERE rnk <= (n + 9) // 10
"""


def vocab_growth(spark: SparkSession, sf_dir: str, nb: int = _VG_NB) -> DataFrame:
    """Heaps-law vocabulary growth: documents are bucketed into ``nb``
    id-ordered slices; per slice, the number of token instances, the
    number of NEW distinct tokens (first corpus occurrence falls in
    that slice), and the cumulative vocabulary size.  The standard
    'is more data still adding vocabulary?' curation curve.

    Scale shape: tokens hashed to longs inside the array before the
    explode; first-occurrence = one groupBy(token-hash) min — linear,
    uniform shuffle keys.  Slice width is computed WITHOUT multiplying
    doc_id (w = ceil((max_id+1)/nb), slice = id div w) so there is no
    int64 overflow at any id range (the mixture_sample ANSI lesson).
    The <= nb-row slice frame is persisted and the cumulative sum is a
    theta self-join over it — no empty-partitionBy window."""
    docs = _docs(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    def _n_ids() -> int:
        row = docs.agg(F.max("doc_id").alias("m")).first()
        return int(row["m"]) + 1 if row is not None and row["m"] is not None else 1

    # one max-id row; memoized per immutable input (session.build_stat)
    n_ids = build_stat(spark, (sf_dir, "vocab_growth_n_ids"), _n_ids)
    w = max(1, (n_ids + nb - 1) // nb)
    inst = docs.select(
        F.least(F.lit(nb - 1), F.expr(f"doc_id div {w}"))
        .cast("int")
        .alias("slice"),
        F.explode(
            F.transform(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda t: F.xxhash64(t),
            )
        ).alias("tok"),
    )
    per_slice = inst.groupBy("slice").agg(
        F.count("*").cast("bigint").alias("token_instances")
    )
    firsts = inst.groupBy("tok").agg(F.min("slice").alias("s0"))
    news = firsts.groupBy("s0").agg(
        F.count("*").cast("bigint").alias("new_tokens")
    )
    base = (
        per_slice.join(news.withColumnRenamed("s0", "slice"), "slice", "left")
        .withColumn(
            "new_tokens", F.coalesce("new_tokens", F.lit(0)).cast("bigint")
        )
        .persist()
    )
    r = base.select(F.col("slice").alias("s2"), F.col("new_tokens").alias("nt2"))
    cum = (
        base.select("slice")
        .join(r, F.col("s2") <= F.col("slice"))
        .groupBy("slice")
        .agg(F.sum("nt2").cast("bigint").alias("cum_new_tokens"))
    )
    return base.join(cum, "slice").select(
        "slice", "token_instances", "new_tokens", "cum_new_tokens"
    )


QUERIES["vocab_growth"] = vocab_growth

ORACLE["vocab_growth"] = rf"""
WITH d AS (
  SELECT doc_id, lower(trim(text)) AS lt FROM documents
  WHERE length(trim(text)) > 0
),
nn AS (SELECT greatest(1, (max(doc_id) + 1 + {_VG_NB - 1}) // {_VG_NB}) AS w FROM d),
i AS (
  SELECT CAST(least({_VG_NB - 1}, doc_id // (SELECT w FROM nn)) AS INTEGER) AS slice,
         unnest(regexp_split_to_array(lt, '\s+')) AS tok
  FROM d
),
per_slice AS (SELECT slice, count(*) AS token_instances FROM i GROUP BY 1),
firsts AS (SELECT tok, min(slice) AS s0 FROM i GROUP BY 1),
news AS (SELECT s0 AS slice, count(*) AS new_tokens FROM firsts GROUP BY 1)
SELECT p.slice,
       CAST(p.token_instances AS BIGINT) AS token_instances,
       CAST(coalesce(n.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(sum(coalesce(n.new_tokens, 0)) OVER (ORDER BY p.slice) AS BIGINT)
         AS cum_new_tokens
FROM per_slice p LEFT JOIN news n USING (slice)
"""


def ann_ivf_kmeans_topk(
    spark: SparkSession, sf_dir: str,
    k_clusters: int = _KM_K, iters: int = _KM_ITERS,
) -> DataFrame:
    """The composed retrieval pipeline: TRAIN the IVF coarse quantizer
    with distributed Lloyd (operators/kmeans.py, 2 bounded iterations)
    instead of borrowing label centroids, then run the same IVF probe
    search as ann_ivf_topk over the learned codebook.  Train -> index
    -> search, end-to-end oracle-replayed.

    Scale: identical to ann_ivf_topk (assignment is a literal-codebook
    projection; at 100 TB the corpus is written partitioned by
    centroid_id and a query touches nprobe partitions); training adds
    iters model-sized collects (k rows each)."""
    embs = _embs_wide(spark, sf_dir)
    cents = _km_update_cents(spark, sf_dir, k_clusters, iters)
    queries = embs.where(F.col("vec_id") < 10)
    return ANN.ivf_topk(embs, queries, cents, k=5, nprobe=3)


def _km_update_cents(spark, sf_dir, k, iters) -> list:
    """The post-fit Lloyd half-step codebook (collect_centroids over
    the final assignment) as a sorted (cid, centroid) list — memoized
    per immutable input: a model-sized collect, but it re-ran a full
    (cid, dim) aggregation job on every plan rebuild otherwise.
    The assignment is DERIVED HERE from the shared-model canonical
    frame (r14 ADVICE: taking `assigned` as a parameter let a caller
    pass a mismatched frame under a matching memo key)."""
    from bank_transaction_data_warehouse_spark.operators import kmeans as KM

    def _compute():
        assigned, _ = _km_shared(
            spark, sf_dir,
            _embs(spark, sf_dir).select("vec_id", "embedding"),
            k=k, iters=iters,
        )
        return sorted(KM.collect_centroids(KM.mean_stats(assigned)).items())

    return build_stat(spark, (sf_dir, "km_update_cents", k, iters), _compute)


QUERIES["ann_ivf_kmeans_topk"] = ann_ivf_kmeans_topk

# the kmeans CTE chain (shared with kmeans_clusters) produces `fin`,
# whose micro-rounded means ARE the trained codebook; the IVF CTEs and
# the cosine top-k are ann_ivf_topk's.
_FIN_CENT = (
    "cent AS {M}(SELECT cid AS label, list(mean_v ORDER BY dim) AS centroid"
    " FROM fin GROUP BY cid)"
)
ORACLE["ann_ivf_kmeans_topk"] = _cosine_topk_sql(
    [_KM_CTES.strip().strip(","), _FIN_CENT.format(M=""), _ivf_ctes(3)],
    _IVF_CAND,
)


def frame_sample(
    spark: SparkSession, sf_dir: str, every_n: int = _FS_EVERY_N
) -> DataFrame:
    """Video frame-sampling fan-out over the opaque binary payload
    (multimodal/pipeline.frame_sample_plan): one output row per
    sampled frame, JVM-side explode, no Python in the path.  The
    frame-count rule is a stub (payload_bytes / every_n — a real
    ingest swaps in an ffmpeg keyframe probe) but the fan-out schema,
    offsets, and explode shape are the real 100 TB plumbing."""
    from bank_transaction_data_warehouse_spark.multimodal.pipeline import (
        attach_binary_payload,
        frame_sample_plan,
    )

    return frame_sample_plan(
        attach_binary_payload(_docs(spark, sf_dir)), every_n=every_n
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("frame_offset_bytes").cast("int").alias("frame_offset_bytes"),
    )


QUERIES["frame_sample"] = frame_sample
ORACLE["frame_sample"] = f"""
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * {_FS_EVERY_N} AS INTEGER) AS frame_offset_bytes
FROM (
  SELECT doc_id,
         CAST(floor(octet_length(encode(text)) / {_FS_EVERY_N}) AS INTEGER) AS nf
  FROM documents
) t, LATERAL unnest(range(0, nf)) u(i)
"""


def centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier evaluation: assign every embedding
    to its max-dot-product LABEL centroid and score agreement with the
    true label — the standard 'are these clusters meaningful?' /
    embedding-quality eval.  The centroid argmax is inlined as plan
    literals (model, not data — same footprint as ann_ivf_topk's
    quantizer), so the whole eval is one scan + one groupBy(label):
    no join, no extra shuffle.  Tie rule: smallest label
    (functions/vectors.nearest_dot_sql, mirrored ORDER BY s DESC,
    pred ASC).
    Zero vectors score 0 against every centroid and deterministically
    take the smallest label on both engines — no nz filter needed (no
    division anywhere: ANSI-safe by construction; accuracy ratio is
    integer-exact)."""
    embs = _embs(spark, sf_dir)
    cents = _label_cents(spark, sf_dir)
    if not cents:  # empty corpus: empty eval (oracle yields 0 rows too)
        return _empty(spark, "label int, n_vectors bigint, n_correct bigint, accuracy_pct double")
    pred = F.expr(V.nearest_dot_sql("embedding", cents))
    scored = embs.select(F.col("label"), pred.alias("_pred"))
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("_pred") == F.col("label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_vectors",
            "n_correct",
            (F.round(F.col("n_correct") * 10000.0 / F.col("n_vectors")) / 100.0)
            .alias("accuracy_pct"),
        )
    )


QUERIES["centroid_classifier_eval"] = centroid_classifier_eval
ORACLE["centroid_classifier_eval"] = f"""
WITH {_LABEL_CENT_CTES},
scored AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS pred,
         list_sum(list_transform(list_zip(e.embedding, c.centroid),
                                 p -> CAST(p[1] AS DOUBLE) * p[2])) AS s
  FROM embeddings e CROSS JOIN cent c
),
best AS (
  SELECT vec_id, true_label, pred FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, pred ASC) = 1
)
SELECT true_label AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END) * 10000.0
             / count(*)) / 100.0 AS accuracy_pct
FROM best GROUP BY 1
"""


def hashed_features(
    spark: SparkSession, sf_dir: str, dim: int = _HF_DIM
) -> DataFrame:
    """Feature hashing (the 'hashing trick'): turn each document into
    a fixed-width token-count vector by bucketing token hashes mod
    ``dim`` — the classic scalable text-vectorizer (no vocabulary
    build, no second pass, memory O(dim)).  This is the GENERATION
    step between the `documents` and `embeddings` tables: swap the
    bucket-count vector for a model call and the pipeline shape is
    identical.

    Scale: one explode + one (doc_id, bucket) groupBy (combiner-
    friendly, uniform keys by construction) + one doc_id regroup to
    rebuild the vector.  Integer-exact end to end; the vector is
    serialized (comma-joined counts) at the query boundary — the
    driver canonicalizer cannot sort list cells (r11 lesson)."""
    docs = _docs_wide(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    inst = docs.select(
        "doc_id",
        F.explode(
            # portable poly hash (fuzz-tested unicode contract,
            # tests/test_portable_hash.py) so the DuckDB oracle
            # reproduces the buckets bit-exactly; % not pmod — the
            # fold is non-negative.  SQL text, one F.expr parse.
            F.expr(
                f"transform({DD._tokens_sql('text')},"
                f" t -> {DD._poly_sql('t')} % {int(dim)})"
            )
        ).alias("bucket"),
    )
    counts = inst.groupBy("doc_id", "bucket").agg(
        F.count("*").cast("bigint").alias("c")
    )
    vec = counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket").cast("int"), "c"))
        ).alias("_m"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    # dense vector: zero-fill the empty buckets, serialize
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.coalesce(F.element_at("_m", d.cast("int")), F.lit(0)).cast(
            "string"
        ),
    )
    return vec.select(
        "doc_id", "n_tokens", F.array_join(dense, ",").alias("features")
    )


QUERIES["hashed_features"] = hashed_features
ORACLE["hashed_features"] = rf"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
i AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, len(tok)+1), i -> CAST(ord(tok[i]) AS BIGINT))), (acc, x) -> (acc*131 + x) % 2147483647) % {_HF_DIM} AS bucket FROM t),
counts AS (SELECT doc_id, bucket, count(*) AS c FROM i GROUP BY 1, 2),
dims AS (SELECT unnest(range(0, {_HF_DIM})) AS bucket),
grid AS (
  SELECT d.doc_id, dims.bucket, coalesce(c.c, 0) AS c
  FROM (SELECT DISTINCT doc_id FROM counts) d
  CROSS JOIN dims
  LEFT JOIN counts c USING (doc_id, bucket)
)
SELECT doc_id,
       CAST((SELECT sum(c) FROM counts c2 WHERE c2.doc_id = grid.doc_id) AS BIGINT)
         AS n_tokens,
       string_agg(CAST(c AS VARCHAR), ',' ORDER BY bucket) AS features
FROM grid GROUP BY doc_id
"""


# ------------------------------------------------- r13: PII hygiene +
# semantic (cluster-bucketed) embedding dedup

# Redaction patterns restricted to syntax with IDENTICAL semantics in
# Java regex (Spark) and RE2 (DuckDB): ASCII classes, greedy
# quantifiers, \b word boundaries — no backrefs, no lookaround (RE2
# has neither).  Applied in this exact order on BOTH engines; counts
# are taken on the text as it stands BEFORE that pattern's own
# redaction, so an email's digits can never double-count as a phone.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# phone = 3-5 separator-delimited digit groups (optionally +CC / (area)).
# Contiguous digit runs deliberately DON'T match, so account-number-ish
# ids fall through to the _PII_ID stage instead of being eaten here.
_PII_PHONE = r"\+?\(?[0-9]{1,4}\)?([ -][0-9]{2,4}){2,4}"
_PII_ID = r"\b[0-9]{9,12}\b"


def pii_scrub_frame(docs: DataFrame) -> DataFrame:
    """Frame-level PII scrub body — STATELESS projection, so the exact
    same plan serves batch (pii_scrub below) and, applied to a
    read_doc_stream frame, the continuous ingest path: the Kappa
    guarantee the chunk/quality-gate ops already give."""
    t0 = F.col("text")
    n_emails = F.regexp_count(t0, F.lit(_PII_EMAIL))
    t1 = F.regexp_replace(t0, _PII_EMAIL, "<EMAIL>")
    n_phones = F.regexp_count(t1, F.lit(_PII_PHONE))
    t2 = F.regexp_replace(t1, _PII_PHONE, "<PHONE>")
    n_ids = F.regexp_count(t2, F.lit(_PII_ID))
    t3 = F.regexp_replace(t2, _PII_ID, "<ID>")
    return docs.select(
        "doc_id",
        n_emails.cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        n_ids.cast("bigint").alias("n_ids"),
        F.md5(t3).alias("redacted_md5"),
        F.length(t3).cast("bigint").alias("redacted_len"),
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass — the standard training-data hygiene stage:
    sequentially redact emails -> phone numbers -> long digit ids,
    reporting per-doc hit counts and the md5/length of the fully
    redacted text (the hash keeps the output row small while still
    value-checking every byte of the redaction).

    Scale: pure JVM regexp expressions in one whole-stage-codegen
    projection — no shuffle, no UDF, embarrassingly parallel at any
    corpus size.  The shipped synthetic corpus contains no PII (all
    counts 0, redacted == original — still value-checked); the regex
    semantics are exercised by the PII-laden adversarial docs in
    tests/test_adversarial_text.py."""
    return pii_scrub_frame(_docs_wide(spark, sf_dir))


QUERIES["pii_scrub"] = pii_scrub
# sentinel replacement, not f-string: the patterns contain {m,n}
# quantifier braces that f-strings would try to interpolate
ORACLE["pii_scrub"] = (
    """
WITH s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '@EMAIL@')) AS n_emails,
         regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g') AS t1
  FROM documents
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '@PHONE@')) AS n_phones,
         regexp_replace(t1, '@PHONE@', '<PHONE>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_emails, n_phones,
         len(regexp_extract_all(t2, '@ID@')) AS n_ids,
         regexp_replace(t2, '@ID@', '<ID>', 'g') AS t3
  FROM s2
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_phones AS BIGINT) AS n_phones,
       CAST(n_ids AS BIGINT) AS n_ids,
       md5(t3) AS redacted_md5,
       CAST(length(t3) AS BIGINT) AS redacted_len
FROM s3
"""
    .replace("@EMAIL@", _PII_EMAIL)
    .replace("@PHONE@", _PII_PHONE)
    .replace("@ID@", _PII_ID)
)


_SD_THRESHOLD = 0.45


def semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = _SD_THRESHOLD
) -> DataFrame:
    """SemDeDup-style semantic dedup: TRAIN the kmeans codebook
    (operators/kmeans.py, same k/iters as kmeans_clusters), assign
    every embedding to its cluster, and emit exact-cosine near-dup
    pairs WITHIN each cluster — the standard embedding-dedup recipe
    for clustered corpora, where cluster buckets replace sign-LSH
    buckets as the candidate generator.

    Scale: candidates are Σ cluster², never corpus², and the
    within-cluster pair set is decomposed with blocked_self_pairs
    (operators/ann.py) so one giant cluster spreads over
    shards*(shards+1)/2 independent join groups instead of one
    reducer — k is small by construction, so the bare cid equi-join
    would otherwise bottleneck on <= k reducers.  Vector payloads are
    CARRIED through the blocked join (payload_cols — the same
    carry-the-vectors shape as embedding_near_dups_lsh; measured
    2.1 s → 1.2 s vs fetch-after via two id joins); per-vector norms
    computed once, before the join; ids normalized AFTER the
    symmetric cosine (blocked payload output is orientation-free);
    the assignment itself is a literal-codebook codegen projection.
    The verify is vectors.cosine_verify, routed by the embeddings
    table's row count: the JVM fold at sf0.01 (500 vectors, so the
    query starts no Python worker), the Arrow kernel at sf0.1
    (2,000); both routes return the same rows."""
    embs = _embs_wide(spark, sf_dir).select("vec_id", "embedding")
    assigned, _ = _km_shared(spark, sf_dir, embs)
    nz = ANN._nonzero_norm(assigned, "embedding")
    coded = (
        nz.select(
            "vec_id",
            # carry the ORIGINAL float32 vectors (half the shuffle +
            # Arrow-transfer bytes of pre-cast doubles); both verify
            # routes widen float32 → float64 exactly
            F.col("embedding").alias("_vf"),
            F.col("cid").cast("int").alias("cid"),
        )
        .withColumn("_norm", V.l2_norm(ANN._as_double(F.col("_vf"))))
        # persisted: the blocked join consumes coded on BOTH sides, and
        # without it each side re-runs (and re-codegens) the whole
        # k×dim literal assignment tree.  This is the local analog of
        # the 100 TB recipe in ENGINEERING_NOTES — the assigned corpus
        # is MATERIALIZED (written partitioned by centroid_id) before
        # pair generation; assignment is never recomputed per consumer.
        .persist()
    )
    # partitions pinned: the join input is tiny (the corpus side) so
    # AQE would coalesce the pair blow-up AND the verify into one
    # task; the k*shards*(shards+1)/2 block groups spread
    # over a DATA-derived width instead (was a hardcoded 32 —
    # r15 width sweep: 0.96 s at width 4-8 vs 1.27 s at 32 on the
    # same 32 cores; at cluster scale this is the full conf width)
    pairs = ANN.blocked_self_pairs(
        coded, "cid", "vec_id", shards=4, payload_cols=("_vf", "_norm"),
        partitions=_embs_parts(spark, sf_dir),
    )
    scored = V.cosine_verify(
        pairs, "_vf_1", "_vf_2", "_norm_1", "_norm_2",
        ("id_1", "id_2", "cid"), table_rows(spark, sf_dir, "embeddings"),
    )
    return (
        scored.where(F.col("cosine") >= threshold)
        .select(
            F.least("id_1", "id_2").alias("vec_id_1"),
            F.greatest("id_1", "id_2").alias("vec_id_2"),
            F.col("cid").cast("int").alias("cid"),
            "cosine",
        )
    )


QUERIES["semantic_dedup"] = semantic_dedup

# replay the SAME trained codebook: the kmeans CTE chain's final
# assignment a{iters} (micro-rounded means each round => bit-identical
# centroid literals on both engines), then exact within-cluster cosine
_SD_CTES = f"""{_KM_CTES.strip().strip(',')},
nzv AS (
  SELECT a.vec_id, a.cid, e.embedding
  FROM a{_KM_ITERS} a JOIN embeddings e USING (vec_id)
  WHERE {_nz_sql("e.embedding")}
)"""
_SD_PAIRS = f"""FROM nzv a JOIN nzv b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE ({_COSAB}) >= {_SD_THRESHOLD}"""
ORACLE["semantic_dedup"] = f"""
WITH {_SD_CTES}
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       CAST(a.cid AS INTEGER) AS cid, {_COSAB} AS cosine
{_SD_PAIRS}
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion counts between the corpus's
    lang metadata (truth) and the n-gram heuristic's prediction — the
    aggregate consumer of lang_id and the standard 'how wrong is the
    router?' curation diagnostic.  One scan + one tiny-cardinality
    groupBy (|langs|² groups at most): scales with scan bandwidth."""
    docs = _docs_wide(spark, sf_dir)
    return (
        docs.select(
            F.col("lang").alias("lang_actual"),
            T.lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


QUERIES["lang_id_confusion"] = lang_id_confusion
ORACLE["lang_id_confusion"] = f"""
SELECT lang AS lang_actual, {T.lang_id_sql('text')} AS lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1, 2
"""


_MRR_SAMPLE = 500  # same bound as ann_recall_report's vec_id < 500


def minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH near-dup path vs exact all-pairs
    Jaccard on a bounded doc sample (doc_id < 500) — the TEXT twin of
    ann_recall_report, closing the 'measure your approximation
    continuously' loop for the document dedup family.  Verified-LSH
    pairs are a subset of exact pairs by construction, so the count
    ratio IS the recall.  The exact side is quadratic, hence the
    fixed-size sample regardless of corpus SF; one-row output the
    driver can hash.  NULL recall when the sample has no exact pairs
    (ANSI divide-by-zero guard, same class as ann_recall_report)."""
    # sample-aware widths: the doc_id filter pushes BELOW the spread
    # exchange, so only ~_MRR_SAMPLE rows ever shuffle — width must be
    # sized to the SAMPLE, not the table (r14 shipped 6 exchanges of
    # width 32 around 500 rows and the driver measured it 4.3x slower
    # at 32 cores than 8; width-sweep optimum here is 4-8)
    sample = spread_scan(
        spark, sf_dir, "documents", "doc_id",
        rows_per_task=64, rows_hint=_MRR_SAMPLE,
    ).where(F.col("doc_id") < _MRR_SAMPLE)
    sample_parts = parallelism_for(spark, _MRR_SAMPLE, 64)
    n_exact = DD.ngram_jaccard_pairs(
        sample, n=3, threshold=0.8, parts=sample_parts
    ).agg(F.count("*").alias("n_exact_pairs"))
    n_lsh = DD.minhash_lsh_pairs(
        sample, k=64, bands=16, threshold=0.8, parts=sample_parts,
    ).agg(F.count("*").alias("n_lsh_pairs"))
    return n_exact.crossJoin(n_lsh).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.col("n_lsh_pairs").cast("double") / F.col("n_exact_pairs"),
        ).alias("recall"),
    )


QUERIES["minhash_recall_report"] = minhash_recall_report

# sample restriction via the single "FROM documents" each oracle
# contains (everything downstream reads CTEs); WITH-inside-subquery is
# valid DuckDB
_MH_SAMPLE_SQL = _minhash_oracle_sql(64, 16, 0.8).replace(
    "FROM documents", f"FROM documents WHERE doc_id < {_MRR_SAMPLE}"
)
_EXACT_SAMPLE_SQL = ORACLE["dedup_ngram_jaccard"].replace(
    "FROM documents", f"FROM documents WHERE doc_id < {_MRR_SAMPLE}"
)
ORACLE["minhash_recall_report"] = f"""
WITH ex AS (SELECT count(*) AS n FROM ({_EXACT_SAMPLE_SQL}) t),
lsh AS (SELECT count(*) AS n FROM ({_MH_SAMPLE_SQL}) t)
SELECT CAST(ex.n AS BIGINT) AS n_exact_pairs,
       CAST(lsh.n AS BIGINT) AS n_lsh_pairs,
       CASE WHEN ex.n > 0 THEN lsh.n * 1.0 / ex.n END AS recall
FROM ex, lsh
"""


def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SemDeDup: semantic near-dup PAIRS (trained-codebook
    cluster buckets, semantic_dedup) → connected components → one
    keep-group per component — the groups a curation pipeline actually
    consumes (keep canonical, drop the rest).  Same components as the
    text-side dedup_clusters (operators/components.py: min-label
    propagation with hooking and pointer jumping, one Spark action per
    round, O(log n) rounds, raising past max_iter; no graph data on
    the driver).  The sf0.01 semantic pair graph is final after the
    initial min label, so it costs one action.  Members serialized at
    the query boundary (driver canonicalizer cannot sort list cells)."""
    from bank_transaction_data_warehouse_spark.operators.components import (
        connected_components,
    )

    pairs = semantic_dedup(spark, sf_dir)
    comp = connected_components(pairs, src="vec_id_1", dst="vec_id_2")
    return (
        comp.groupBy("comp")
        .agg(
            F.min("node").cast("bigint").alias("canonical_vec_id"),
            F.count("*").cast("bigint").alias("cluster_size"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")),
                    lambda m: m.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .select("canonical_vec_id", "cluster_size", "members")
    )


QUERIES["semantic_dedup_clusters"] = semantic_dedup_clusters
# the semantic pair CTEs (same trained codebook) + the recursive-CTE
# transitive closure the text-side dedup_clusters oracle uses
ORACLE["semantic_dedup_clusters"] = f"""
WITH RECURSIVE {_SD_CTES},
sp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  {_SD_PAIRS}
),
e2 AS (
  SELECT id_a AS a2, id_b AS b2 FROM sp
  UNION SELECT id_b, id_a FROM sp
),
reach(node, r) AS (
  SELECT a2, a2 FROM e2
  UNION
  SELECT reach.node, e2.b2 FROM reach JOIN e2 ON reach.r = e2.a2
),
comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY 1)
SELECT min(node) AS canonical_vec_id,
       count(*) AS cluster_size,
       array_to_string(list_sort(list(node)), ',') AS members
FROM comp GROUP BY comp.comp
"""


def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    number of DISTINCT word 5-grams they share — 'which feeds are
    copying which' / double-counting diagnostics before mixture
    weighting.  Decontaminate's gram machinery, all-pairs over
    sources instead of train x eval.

    Scale: grams hashed to bigints (injective — the string-keyed
    oracle still matches counts), ONE distinct (source, gram) frame,
    then NO self-join at all: each gram's distinct source SET is
    collected (bounded by |sources| — a few dozen feeds, never data-
    sized) and its ordered pairs are generated INSIDE the array with
    nested transforms, so the only shuffles are groupBy(g) and the
    final |sources|²-row pair count.  Measured 1.7 s -> 1.1 s at
    sf0.1 vs the gram-keyed self-join, and immune to hot boilerplate
    grams by construction (a gram in every source still emits at most
    |sources|² pairs)."""
    docs = _docs_wide(spark, sf_dir)
    sg = (
        DD.shingle_sets(docs, n=5)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            F.explode(
                F.transform("sh_set", lambda s: F.xxhash64(s))
            ).alias("g"),
        )
        .distinct()
    )
    per_gram = (
        sg.groupBy("g")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") >= 2)
    )
    n = F.size("ss")
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ss"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ss"), i + 2, n),
                        lambda y: F.struct(
                            x.alias("source_a"), y.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("shared_grams"))
    )


QUERIES["cross_source_overlap"] = cross_source_overlap
ORACLE["cross_source_overlap"] = f"""
WITH {_GRAMS5_CTE.strip()},
sg AS (
  SELECT DISTINCT d.source, u.sh
  FROM (SELECT doc_id, unnest(g) AS sh FROM grams) u
  JOIN documents d USING (doc_id)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM sg a JOIN sg b ON a.sh = b.sh AND a.source < b.source
GROUP BY 1, 2
"""


_AS_WINDOW = 32  # stub bytes-per-segment (real: sample_rate x seconds)
_AS_STRIDE = 24  # overlap = window - stride


def audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation fan-out over the opaque binary payload
    (multimodal/pipeline.audio_segment_plan): one row per overlapping
    fixed-size segment, JVM-side explode, no Python in the path — the
    audio twin of frame_sample."""
    from bank_transaction_data_warehouse_spark.multimodal.pipeline import (
        attach_binary_payload,
        audio_segment_plan,
    )

    return audio_segment_plan(
        attach_binary_payload(_docs(spark, sf_dir)),
        window_bytes=_AS_WINDOW,
        stride_bytes=_AS_STRIDE,
    ).select(
        "doc_id",
        F.col("seg_idx").cast("int").alias("seg_idx"),
        F.col("seg_offset_bytes").cast("int").alias("seg_offset_bytes"),
        F.col("seg_len_bytes").cast("int").alias("seg_len_bytes"),
    )


QUERIES["audio_segments"] = audio_segments
ORACLE["audio_segments"] = f"""
SELECT doc_id,
       CAST(i AS INTEGER) AS seg_idx,
       CAST(i * {_AS_STRIDE} AS INTEGER) AS seg_offset_bytes,
       CAST(least({_AS_WINDOW}, nb - i * {_AS_STRIDE}) AS INTEGER) AS seg_len_bytes
FROM (
  SELECT doc_id, octet_length(encode(text)) AS nb FROM documents
) t, LATERAL unnest(range(0,
       CASE WHEN nb >= {_AS_WINDOW} THEN (nb - {_AS_WINDOW}) // {_AS_STRIDE} + 1
            WHEN nb > 0 THEN 1 ELSE 0 END)) u(i)
"""


def quality_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED domain mixing: same exact-proportion unit math
    as mixture_sample (largest subset hitting the 8:3:3:3:3 language
    mix), but each language fills its quota HIGHEST-QUALITY-FIRST
    (quality_flags DESC, then the portable doc_id hash for
    deterministic tie-breaks) instead of hash-only — the standard
    'mix by domain, prefer quality within domain' curation sampler.

    Scale shape identical to mixture_sample: one combiner-friendly
    count, a broadcast scalar, one per-language window (shuffle keyed
    by lang; skew bounded by the largest language, which the mixture
    caps).  quality_flags is a pure projection fused into the scan."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", _q_flags_col().alias("q_flags")
    )
    w = F.lit(None).cast("long")
    for lang, wt in _MIX_WEIGHTS.items():
        w = F.when(F.col("lang") == lang, F.lit(wt).cast("long")).otherwise(w)
    # persisted: the units aggregate and the rank window both consume
    # the weighted frame, whose q_flags projection is three regex
    # passes per doc — the two-consumer invariant
    weighted = docs.select("doc_id", "lang", "q_flags", w.alias("_w")).where(
        F.col("_w").isNotNull()
    ).persist()
    units = (
        weighted.groupBy("lang", "_w")
        .agg(F.count("*").alias("_n"))
        .select(F.floor(F.col("_n") / F.col("_w")).alias("_u"))
        .agg(F.min("_u").alias("_units"))
    )
    order_hash = ((F.col("doc_id") % _MIX_MOD) * _MIX_MULT) % F.lit(_MIX_MOD)
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.col("q_flags").desc(), order_hash, "doc_id"
        )
    )
    return (
        weighted.crossJoin(F.broadcast(units))
        .withColumn("smp_rank", rk.cast("int"))
        .where(F.col("smp_rank") <= F.col("_w") * F.col("_units"))
        .select("doc_id", "lang", "q_flags", "smp_rank")
    )


QUERIES["quality_mixture_sample"] = quality_mixture_sample
ORACLE["quality_mixture_sample"] = f"""
WITH weighted AS (
  SELECT doc_id, lang, {_Q_FLAGS_SQL} AS q_flags,
         CAST(CASE lang {_MIX_CASE} END AS BIGINT) AS w
  FROM documents
  WHERE lang IN ({", ".join(repr(k) for k in _MIX_WEIGHTS)})
),
units AS (
  SELECT min(u) AS units FROM (
    SELECT CAST(floor(count(*) * 1.0 / w) AS BIGINT) AS u
    FROM weighted GROUP BY lang, w
  )
),
ranked AS (
  SELECT doc_id, lang, q_flags, w,
         row_number() OVER (PARTITION BY lang
                            ORDER BY q_flags DESC,
                                     ((doc_id % {_MIX_MOD}) * {_MIX_MULT}) % {_MIX_MOD},
                                     doc_id) AS rk
  FROM weighted
)
SELECT doc_id, lang, q_flags, CAST(rk AS INTEGER) AS smp_rank
FROM ranked, units
WHERE rk <= w * units
"""


def dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dedup impact report — 'what does deduplication buy me
    on this corpus': total docs, distinct texts (exact-dup redundancy
    = the rows exact dedup would drop), and verified near-dup pair
    count from the scale path (MinHash-LSH + exact verify).  The
    summary a curation run logs before/after each ingest.

    Scale: one count/count-distinct aggregation (combiner-friendly,
    md5 keys) + the LSH pipeline's candidate-bounded verify; both
    sides reduce to one row before the crossJoin, so nothing
    data-sized moves."""
    docs = _docs_wide(spark, sf_dir)
    tot = docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_unique_texts"),
    )
    near = DD.minhash_lsh_pairs(
        docs, k=64, bands=16, threshold=0.8,
        parts=_docs_parts(spark, sf_dir),
    ).agg(F.count("*").cast("bigint").alias("n_near_dup_pairs"))
    return tot.crossJoin(near).select(
        "n_docs",
        "n_unique_texts",
        (F.col("n_docs") - F.col("n_unique_texts")).alias("n_exact_redundant"),
        "n_near_dup_pairs",
    )


QUERIES["dedup_impact"] = dedup_impact
ORACLE["dedup_impact"] = f"""
WITH t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
  FROM documents
),
p AS (
  SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs
  FROM ({_minhash_oracle_sql(64, 16, 0.8)}) x
)
SELECT n_docs, n_unique_texts,
       n_docs - n_unique_texts AS n_exact_redundant,
       n_near_dup_pairs
FROM t, p
"""


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsample: assign every embedding to its
    TRAINED kmeans cluster and keep the same number (the smallest
    cluster's size) from each — the diversity-sampling recipe that
    stops dominant modes from swamping a training mix, i.e.
    mixture_sample with clusters as the domain axis.  Selection within
    a cluster is the deterministic portable-hash rank (reproducible,
    no rand()).

    Scale shape: assignment is a literal-codebook codegen projection;
    cluster sizes reduce to a one-row broadcast scalar; the only real
    shuffle is the per-cluster rank window keyed by cid — bounded by
    the largest cluster, which is what the balancing caps."""
    from pyspark.sql import Window

    embs = _embs_wide(spark, sf_dir).select("vec_id", "embedding")
    assigned, _ = _km_shared(spark, sf_dir, embs)
    # persisted: the min-cluster-size aggregate and the rank window
    # both consume the assignment, whose upstream is the k×dim
    # literal-codebook projection — the two-consumer invariant
    # (re-codegen alone costs ~0.5-1.5 s per execution)
    asg = assigned.select(
        "vec_id", F.col("cid").cast("int").alias("cid")
    ).persist()
    u = (
        asg.groupBy("cid")
        .agg(F.count("*").alias("_n"))
        .agg(F.min("_n").alias("_u"))
    )
    order_hash = ((F.col("vec_id") % _MIX_MOD) * _MIX_MULT) % F.lit(_MIX_MOD)
    rk = F.row_number().over(
        Window.partitionBy("cid").orderBy(order_hash, "vec_id")
    )
    return (
        asg.crossJoin(F.broadcast(u))
        .withColumn("smp_rank", rk.cast("int"))
        .where(F.col("smp_rank") <= F.col("_u"))
        .select("vec_id", "cid", "smp_rank")
    )


QUERIES["cluster_balanced_sample"] = cluster_balanced_sample
ORACLE["cluster_balanced_sample"] = f"""
WITH {_KM_CTES.strip().strip(',')},
asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS cid FROM a{_KM_ITERS}),
units AS (
  SELECT min(n) AS u FROM (SELECT count(*) AS n FROM asg GROUP BY cid)
),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY cid
                            ORDER BY ((vec_id % {_MIX_MOD}) * {_MIX_MULT}) % {_MIX_MOD},
                                     vec_id) AS rk
  FROM asg
)
SELECT vec_id, cid, CAST(rk AS INTEGER) AS smp_rank
FROM ranked, units WHERE rk <= u
"""


# -------------------------------------------------- media frame near-dup
# shared plan/oracle constants (parameterized-query invariant)
_MFD_FRAME_CHARS = 24
_MFD_THRESHOLD = 0.5
_MFD_MAX_DF = 16


def media_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload near-dup detection via frame fingerprints: hash
    fixed-size payload frames (multimodal/pipeline.frame_hash_sets —
    the same stub family as frame_sample; a real ingest hashes decoded
    keyframes), then reuse the text dedup family's set-Jaccard join
    (operators/dedup.set_jaccard_pairs, hot-frame df pruning included)
    — two media files sharing >= 50% of their frame set are re-encodes
    / trims of each other.  The LSH machinery composes the same way at
    100 TB (frames are just shingles over bytes); threshold is LOWER
    than text Jaccard because fixed-offset frames are brittle to
    insertions (one shifted byte re-keys every downstream frame)."""
    from bank_transaction_data_warehouse_spark.multimodal.pipeline import (
        frame_hash_sets,
    )

    return DD.set_jaccard_pairs(
        frame_hash_sets(_docs(spark, sf_dir), every_n=_MFD_FRAME_CHARS),
        threshold=_MFD_THRESHOLD,
        max_df=_MFD_MAX_DF,
        set_col="frame_set",
        # width sweep optimum 4-8 at sf0.1 (0.62-0.72 s vs 1.18 s at
        # conf width): frames explode ~docs x len/160 rows, so the
        # per-doc weight is heavier than shingles — fewer docs/task
        parts=_docs_parts(spark, sf_dir, rows_per_task=640),
    )


QUERIES["media_frame_dedup"] = media_frame_dedup

# frames CTE shared by the exact-Jaccard and LSH media-dedup oracles
_MFD_FRAMES_CTE = f"""fr AS (
  SELECT doc_id,
         CASE WHEN length(text) // {_MFD_FRAME_CHARS} > 0 THEN
           list_distinct(list_transform(
             range(0, CAST(length(text) // {_MFD_FRAME_CHARS} AS BIGINT)),
             i -> md5(substring(text, CAST(i * {_MFD_FRAME_CHARS} + 1 AS INTEGER), {_MFD_FRAME_CHARS}))))
         ELSE [md5(text)] END AS fs
  FROM documents
)"""

ORACLE["media_frame_dedup"] = f"""
WITH {_MFD_FRAMES_CTE},
f0 AS (SELECT doc_id, unnest(fs) AS frame FROM fr),
hot AS (SELECT frame FROM f0 GROUP BY 1 HAVING count(*) > {_MFD_MAX_DF}),
fp AS (
  SELECT doc_id, frame,
         count(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM f0 ANTI JOIN hot USING (frame)
)
{_exact_jaccard_sql("fp", "frame", _MFD_THRESHOLD)}
"""


# ----------------------------------------------- edit-distance verify
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup verification by character edit distance: the
    MinHash-LSH pair set (the scale-path candidate generator) rescored
    with levenshtein — the second-stage verifier curation pipelines
    use when shingle Jaccard is too coarse (small in-place edits keep
    most shingles; edit distance counts them exactly).

    Text payloads are FETCHED AFTER pair generation through two
    uniform id joins (fetch-after, not carry: texts are wide — the
    opposite call from semantic_dedup's 256 B vectors, see
    ENGINEERING_NOTES).  levenshtein is O(len²) per pair — safe ONLY
    because the pair set is LSH-bounded; production additionally caps
    compared length (banded DP).  Cross-engine contract: Spark's
    levenshtein counts CHARS, DuckDB's counts BYTES, so both sides
    compare the ASCII projection (non-ASCII codepoints folded to '?',
    where chars == bytes); the projection is RE2/Java-identical
    syntax per the regex invariant."""
    # FUSED verify + rescore (r15): the verify payload carries the
    # ASCII-folded text next to the shingle set, so candidates pay ONE
    # pair of id joins for both the Jaccard filter (dedup_minhash_lsh's
    # verify verbatim: same sets, same threshold) and levenshtein — at
    # scale one 1.8 KB/doc shuffle strictly beats two of 0.8 + 1.0 KB
    # (guide §8: move the payload once).
    docs = _docs_wide(spark, sf_dir)
    banded = DD.minhash_band_keys(docs, k=64, bands=16, n=3)
    cand = DD._lsh_candidates(banded, parts=_docs_parts(spark, sf_dir))
    fold = F.regexp_replace("text", r"[^\x00-\x7f]", "?").alias("_ft")
    pairs = DD._jaccard_verify(
        cand, DD.shingle_sets(docs, n=3, keep=(fold,)), 0.8, keep=("_ft",)
    )
    lev = F.levenshtein("_ft_1", "_ft_2")
    maxlen = F.greatest(F.length("_ft_1"), F.length("_ft_2"))
    return pairs.select(
        "doc_id_1",
        "doc_id_2",
        lev.cast("bigint").alias("lev"),
        # ANSI guard: two empty-text docs pair via the sentinel
        # shingle; 0/0 would raise at runtime
        F.when(maxlen == 0, F.lit(1.0))
        .otherwise(F.lit(1.0) - lev / maxlen)
        .alias("edit_sim"),
    )


QUERIES["dedup_edit_distance"] = dedup_edit_distance
ORACLE["dedup_edit_distance"] = f"""
WITH mh AS ({_minhash_oracle_sql(64, 16, 0.8)}),
ft AS (SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g') AS f
       FROM documents)
SELECT m.doc_id_1, m.doc_id_2,
       CAST(levenshtein(a.f, b.f) AS BIGINT) AS lev,
       CASE WHEN greatest(length(a.f), length(b.f)) = 0 THEN 1.0
            ELSE 1.0 - levenshtein(a.f, b.f) * 1.0
                     / greatest(length(a.f), length(b.f)) END AS edit_sim
FROM mh m JOIN ft a ON m.doc_id_1 = a.doc_id JOIN ft b ON m.doc_id_2 = b.doc_id
"""


# ----------------------------------------------- keep-best per cluster
def cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation decision layer over dedup: near-dup components keep
    the HIGHEST-QUALITY member (quality_flags DESC, min doc_id tie),
    not the min-id canonical — what a real pipeline ships (drop the
    truncated/OCR-damaged copies, keep the clean one).  The keeper is
    an argmax via max(struct(q, -id)) inside the component groupBy —
    never a window; dropped members serialized at the boundary."""
    from bank_transaction_data_warehouse_spark.operators.components import (
        connected_components,
    )

    docs = _docs_wide(spark, sf_dir)
    comp = connected_components(dedup_ngram_jaccard(spark, sf_dir))
    scored = docs.select(
        F.col("doc_id").alias("node"), _q_flags_col().alias("qf")
    )
    j = comp.join(scored, "node")
    best = j.groupBy("comp").agg(
        F.max(F.struct(F.col("qf"), (-F.col("node")).alias("negid"))).alias("_b"),
        F.count("*").cast("bigint").alias("cluster_size"),
        F.sort_array(F.collect_list("node")).alias("_members"),
    )
    keep = (-F.col("_b.negid")).cast("bigint")
    return best.select(
        keep.alias("keep_doc_id"),
        F.col("_b.qf").cast("int").alias("keep_quality"),
        "cluster_size",
        F.array_join(
            F.transform(
                F.filter("_members", lambda m: m != keep),
                lambda m: m.cast("string"),
            ),
            ",",
        ).alias("dropped"),
    )


QUERIES["cluster_keep_best"] = cluster_keep_best
ORACLE["cluster_keep_best"] = f"""
WITH RECURSIVE {_JACCARD_COMPONENTS_CTES},
q AS (SELECT doc_id, {_Q_FLAGS_SQL} AS qf FROM documents),
jq AS (SELECT c.comp, c.node, q.qf FROM comp c JOIN q ON c.node = q.doc_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY comp ORDER BY qf DESC, node) AS rn
  FROM jq
)
SELECT k.node AS keep_doc_id,
       CAST(k.qf AS INTEGER) AS keep_quality,
       CAST(cnt.n AS BIGINT) AS cluster_size,
       COALESCE(d.dropped, '') AS dropped
FROM (SELECT comp, node, qf FROM ranked WHERE rn = 1) k
JOIN (SELECT comp, count(*) AS n FROM jq GROUP BY 1) cnt USING (comp)
LEFT JOIN (
  SELECT jq.comp,
         string_agg(CAST(jq.node AS VARCHAR), ',' ORDER BY jq.node) AS dropped
  FROM jq JOIN (SELECT comp, node FROM ranked WHERE rn = 1) kk
    ON jq.comp = kk.comp AND jq.node <> kk.node
  GROUP BY 1
) d USING (comp)
"""


# ----------------------------------------------- LSH band skew telemetry
_BBS_HOT = 8  # bucket size above which a bucket counts as hot


def band_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket skew telemetry: per band, the bucket count,
    row count, max bucket size, the EXACT candidate-pair bound
    Σ c·(c−1)/2, and the number of hot buckets (> {_BBS_HOT} docs).
    This is the ops dashboard that decides the 100 TB knobs — when
    pair_bound grows superlinearly or hot_buckets climbs, raise bands
    (shorter rows per band) or route hot buckets through
    blocked_self_pairs.  Integer-exact throughout; two
    map-side-combined groupBys on uniform keys, no joins."""
    keys = DD.minhash_band_keys(_docs_wide(spark, sf_dir), k=64, bands=16, n=3)
    buckets = keys.groupBy("band", "band_hash").agg(F.count("*").alias("c"))
    return (
        buckets.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) div 2")).cast("bigint").alias("pair_bound"),
            F.sum(F.when(F.col("c") > _BBS_HOT, 1).otherwise(0))
            .cast("bigint")
            .alias("hot_buckets"),
        )
        .select(
            F.col("band").cast("int").alias("band"),
            "n_buckets",
            "n_rows",
            "max_bucket",
            "pair_bound",
            "hot_buckets",
        )
    )


QUERIES["band_bucket_stats"] = band_bucket_stats
ORACLE["band_bucket_stats"] = f"""
WITH {_minhash_banded_ctes(64, 16)},
bk AS (SELECT band, band_hash, count(*) AS c FROM banded GROUP BY 1, 2)
SELECT CAST(band AS INTEGER) AS band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(max(c) AS BIGINT) AS max_bucket,
       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pair_bound,
       CAST(sum(CASE WHEN c > {_BBS_HOT} THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets
FROM bk GROUP BY 1
"""


# ------------------------------------------- media frame LSH near-dup
# shared plan/oracle constants (parameterized-query invariant): the
# oracle's sig/band CTEs are GENERATED from the same (k, bands)
_MFL_THRESHOLD = 0.5
_MFL_K = 64
_MFL_BANDS = 16


def media_frame_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH for media near-dup: MinHash-LSH over frame
    fingerprints (operators/dedup.set_minhash_lsh_pairs — the same
    k-family/banding/candidate-join machinery as text, fed element
    sets instead of shingles), verified by exact frame-set Jaccard on
    the candidates only.  media_frame_dedup is this query's exact
    all-pairs twin; at 100 TB only this variant runs (the band join
    shuffles on uniform keys and exact work scales with candidates,
    not corpus²).  The element hash is the portable poly hash, so
    DuckDB replays the whole pipeline bit-for-bit; bands=16/rows=4
    puts the S-curve knee at ~0.5 — matched to the threshold, same
    trade as the text family."""
    from bank_transaction_data_warehouse_spark.multimodal.pipeline import (
        frame_hash_sets,
    )

    return DD.set_minhash_lsh_pairs(
        frame_hash_sets(_docs_wide(spark, sf_dir), every_n=_MFD_FRAME_CHARS),
        set_col="frame_set",
        k=_MFL_K,
        bands=_MFL_BANDS,
        threshold=_MFL_THRESHOLD,
        # frames are heavier per doc than shingles (len/160 elements):
        # width 8 at sf0.1 (sweep w8 1.18 vs w16 1.22; the 8-core run
        # confirms 8-wide end-to-end beats 16)
        parts=_docs_parts(spark, sf_dir, rows_per_task=640),
    )


QUERIES["media_frame_lsh_dedup"] = media_frame_lsh_dedup
_POLY_EL = POLY_HASH_SQL.format(s="el")
ORACLE["media_frame_lsh_dedup"] = f"""
WITH {_MFD_FRAMES_CTE},
hsx AS (SELECT doc_id, list_transform(fs, el -> {_POLY_EL}) AS hs FROM fr),
{_sig_band_ctes(_MFL_K, _MFL_BANDS, "hsx")},
{_lsh_cand_verify_sql("fr", "fs", _MFL_THRESHOLD)}
"""


# -------------------------------------------- product quantization ANN
# shared plan/oracle constants: m subspaces x sub_dim dims, kc
# centroids per subspace, bounded Lloyd iters — the oracle's chains
# and distance tables are GENERATED from the same values
_PQ_M = 4
_PQ_SUBDIM = 16
_PQ_KC = 8
_PQ_ITERS = 2
_PQ_TOPK = 5
_IVFPQ_NPROBE = 3


def _pq_models(spark: SparkSession, sf_dir: str) -> list:
    """Train the m per-subspace codebooks as sorted (cid, centroid)
    lists.  Model-sized: m x kc rows total; every PQ consumer in a
    session shares the same trained chains (session.build_stat)."""
    from bank_transaction_data_warehouse_spark.operators import kmeans as KM

    def _compute() -> list:
        embs = _embs(spark, sf_dir).select("vec_id", "embedding")
        models = []
        for s in range(_PQ_M):
            sub = embs.select(
                "vec_id",
                F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("embedding"),
            )
            cents = KM.kmeans_fit(sub, k=_PQ_KC, iters=_PQ_ITERS)[1]
            models.append(sorted(cents.items()))
        return models

    return build_stat(
        spark, (sf_dir, "pq", _PQ_M, _PQ_SUBDIM, _PQ_KC, _PQ_ITERS), _compute
    )


def _pq_sub_sql(s: int) -> str:
    """Subspace s of the embedding, as SQL text."""
    return f"slice(embedding, {s * _PQ_SUBDIM + 1}, {_PQ_SUBDIM})"


def _pq_codes(models: list) -> list:
    """The m PQ code columns _c0.._c{m-1}: each vector's nearest
    centroid per subspace, one parsed expression each
    (functions/vectors.nearest_l2_sql)."""
    return [
        F.expr(V.nearest_l2_sql(_pq_sub_sql(s), models[s])).alias(f"_c{s}")
        for s in range(_PQ_M)
    ]


def _pq_query_table(models: list, qv: DataFrame, s: int) -> DataFrame:
    """Per-query ADC distance table for subspace s: (qid{s}, cid{s},
    d{s}), n_queries x kc rows — broadcast-sized by construction."""
    entries = ", ".join(
        f"named_struct('cid{s}', {int(cid)},"
        f" 'd{s}', {V.sq_dist_micros_sql(_pq_sub_sql(s), V.lit_array_sql(c))})"
        for cid, c in models[s]
    )
    return qv.select(
        F.col("vec_id").alias(f"qid{s}"),
        F.explode(F.expr(f"array({entries})")).alias("e"),
    ).select(f"qid{s}", f"e.cid{s}", f"e.d{s}")


def _adc_topk(
    cands: DataFrame, models: list, qv: DataFrame, topk: int,
    qid: str | None = None,
) -> DataFrame:
    """The search skeleton with an ADC score: join the candidates'
    codes to the m broadcast per-query distance tables, sum the
    distances (adist), drop self matches, keep the per-query top-k.
    ``qid``: the candidates' query-id column — None when every corpus
    row is a candidate, and the first table's qid0 becomes it."""
    for s in range(_PQ_M):
        cond = F.col(f"_c{s}") == F.col(f"cid{s}")
        if qid:
            cond = cond & (F.col(qid) == F.col(f"qid{s}"))
        cands = cands.join(F.broadcast(_pq_query_table(models, qv, s)), cond)
        qid = qid or "qid0"
    adist = sum(F.col(f"d{s}") for s in range(1, _PQ_M)) + F.col("d0")
    scored = cands.where(F.col("vec_id") != F.col(qid)).select(
        F.col(qid).alias("query_id"),
        "vec_id",
        adist.cast("bigint").alias("approx_dist_micros"),
    )
    return ANN.per_query_topk(
        scored, topk, ["approx_dist_micros", "vec_id"]
    ).select("query_id", "vec_id", "approx_dist_micros", "rank")


def ann_pq_topk(spark: SparkSession, sf_dir: str, topk: int = _PQ_TOPK) -> DataFrame:
    """Product-quantization ANN (ADC flavor): train an independent
    kmeans codebook per SUBSPACE (m x sub_dim = the full dim), encode
    every corpus vector as m small codes, and answer queries by
    asymmetric distance — per-subspace query→centroid distance tables
    summed over the vector's codes.  The memory story that makes
    billion-vector ANN fit: m codes per vector instead of the vector.

    Integer-exact across engines: per-subspace distances reuse the
    kmeans micro-rounded int64 squared-L2 (functions/vectors.
    sq_dist_micros_sql ≙ the oracle's _KM_DIST), so the ADC total is an
    exact bigint sum, and ranks tie-break on (dist, vec_id).

    Scale: codebooks are model literals (m·kc rows); encoding is a
    zero-shuffle projection; the per-query distance tables are
    m·kc-row broadcasts; scoring is scan + m broadcast joins + a rank
    partitioned per query.  This is the brute-force-over-CODES
    baseline (the PQ payoff is bytes, not candidates); ann_ivf_pq_topk
    composes it with IVF partition pruning so only nprobe partitions
    scan."""
    embs = _embs_wide(spark, sf_dir).select("vec_id", "embedding")
    models = _pq_models(spark, sf_dir)
    if not all(models):
        # empty input: kmeans_fit returns an empty codebook (its
        # documented contract) and the code/distance-table literal
        # generators would emit array()[0] — ill-typed.  The oracle
        # yields 0 rows over empty embeddings; mirror it exactly.
        return _empty(spark, "query_id long, vec_id long, approx_dist_micros long, rank int")
    return _adc_topk(
        embs.select("vec_id", *_pq_codes(models)),
        models, embs.where(F.col("vec_id") < 10), topk,
    )


QUERIES["ann_pq_topk"] = ann_pq_topk

_PQ_EXACT_D = (
    "CAST(round(list_sum(list_transform(list_zip(q.embedding, c.embedding),"
    " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT)"
)


def _pq_chain_parts(
    m: int, sub_dim: int, kc: int, iters: int, materialized: bool = False
) -> list:
    """Shared oracle front half: qv + per-subspace kmeans chains +
    per-query ADC distance tables.  Final codes live in s{s}a{iters};
    distance tables in qd{s}."""
    dist_q = (
        "CAST(round(list_sum(list_transform(list_zip("
        "list_slice(q.embedding, {a}, {b}), c.emb),"
        " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT)"
    )
    M = "MATERIALIZED " if materialized else ""
    parts = [
        f"qv AS {M}(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10)"
    ]
    for s in range(m):
        parts.append(
            f"sub{s} AS {M}(SELECT vec_id, "
            f"list_slice(embedding, {s * sub_dim + 1}, {(s + 1) * sub_dim}) "
            "AS embedding FROM embeddings)"
        )
        parts.append(
            _km_ctes(kc, iters, src=f"sub{s}", prefix=f"s{s}",
                     materialized=materialized)
        )
        parts.append(
            f"qd{s} AS {M}(\n"
            f"  SELECT q.vec_id AS qid, c.cid, "
            f"{dist_q.format(a=s * sub_dim + 1, b=(s + 1) * sub_dim)} AS d\n"
            f"  FROM qv q CROSS JOIN s{s}c{iters - 1} c\n)"
        )
    return parts


def _pq_scored_cte(
    m: int, iters: int, topk: int,
    cands: str = (
        "SELECT e.vec_id, q.vec_id AS query_id"
        " FROM embeddings e JOIN qv q ON e.vec_id <> q.vec_id"
    ),
    materialized: bool = False,
) -> str:
    """Shared oracle back half, the twin of _adc_topk: the `cands`
    (vec_id, query_id) pairs — by default every corpus row for every
    query — joined to their m codes and the m distance tables, adist
    summed (`scored`), then the per-query top-k (`pqtop`)."""
    M = "MATERIALIZED " if materialized else ""
    joins = "".join(
        f"\n  JOIN s{s}a{iters} a{s} ON a{s}.vec_id = b.vec_id" for s in range(m)
    ) + "".join(
        f"\n  JOIN qd{s} q{s} ON q{s}.cid = a{s}.cid AND q{s}.qid = b.query_id"
        for s in range(m)
    )
    total = " + ".join(f"q{s}.d" for s in range(m))
    return f"""scored AS {M}(
  SELECT b.query_id, b.vec_id, {total} AS adist
  FROM ({cands}) b{joins}
),
pqtop AS (
{_topk_sql("query_id, vec_id, adist, rn", "scored", "adist, vec_id", topk)}
)"""


_ADC_COLS = (
    "query_id, vec_id, CAST(adist AS BIGINT) AS approx_dist_micros,"
    " CAST(rn AS INTEGER) AS rank"
)


def _pq_oracle_sql(m: int, sub_dim: int, kc: int, iters: int, topk: int) -> str:
    parts = _pq_chain_parts(m, sub_dim, kc, iters)
    parts.append(_pq_scored_cte(m, iters, topk))
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT {_ADC_COLS} FROM pqtop"
    )


ORACLE["ann_pq_topk"] = _pq_oracle_sql(_PQ_M, _PQ_SUBDIM, _PQ_KC, _PQ_ITERS, _PQ_TOPK)


def ann_pq_recall_report(
    spark: SparkSession, sf_dir: str, topk: int = _PQ_TOPK
) -> DataFrame:
    """Recall@k of the PQ ADC ranking vs EXACT squared-L2 top-k — the
    eval that tells you whether m/kc are adequate before you trust the
    codes at scale (the PQ analog of ann_recall_report /
    minhash_recall_report: every approximate family ships with a
    continuously-measured recall gauge).  One row per query:
    (query_id, n_hits, recall_at_k).

    Both sides share the tie rule (dist micros, then vec_id) and the
    micro-rounded integer distance domain, so the comparison is exact
    across engines.  Scale: the exact side is queries x corpus with
    the 10-query side broadcast — linear in the corpus, same shape as
    ann_cosine_topk (and like all recall gauges it runs on a bounded
    query sample regardless of corpus SF); the PQ side is the
    ann_pq_topk plan."""
    pq = ann_pq_topk(spark, sf_dir, topk).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    qv = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    exact = ANN.per_query_topk(
        embs.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            # the oracle's _PQ_EXACT_D: micro-rounded squared L2
            F.expr(V.sq_dist_micros_sql("embedding", "qemb")).alias("dm"),
        ),
        topk, ["dm", "vec_id"],
    )
    return (
        exact.join(pq, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / topk).alias("recall_at_k"),
        )
    )


QUERIES["ann_pq_recall_report"] = ann_pq_recall_report


def _pq_recall_oracle_sql(m: int, sub_dim: int, kc: int, iters: int, topk: int) -> str:
    parts = _pq_chain_parts(m, sub_dim, kc, iters)
    parts.append(_pq_scored_cte(m, iters, topk))
    parts.append(
        "ex AS (\n"
        f"  SELECT q.vec_id AS query_id, c.vec_id, {_PQ_EXACT_D} AS dm\n"
        "  FROM qv q JOIN embeddings c ON c.vec_id <> q.vec_id\n)"
    )
    parts.append(
        f"extop AS (\n{_topk_sql('query_id, vec_id', 'ex', 'dm, vec_id', topk)}\n)"
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT e.query_id,
       CAST(count(p.vec_id) AS BIGINT) AS n_hits,
       CAST(count(p.vec_id) AS DOUBLE) / {topk} AS recall_at_k
FROM extop e LEFT JOIN pqtop p
  ON p.query_id = e.query_id AND p.vec_id = e.vec_id
GROUP BY e.query_id"""
    )


ORACLE["ann_pq_recall_report"] = _pq_recall_oracle_sql(
    _PQ_M, _PQ_SUBDIM, _PQ_KC, _PQ_ITERS, _PQ_TOPK
)


def ann_ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    topk: int = _PQ_TOPK,
    nprobe: int = _IVFPQ_NPROBE,
) -> DataFrame:
    """The production ANN composition: IVF coarse quantizer for
    CANDIDATE PRUNING (a query touches nprobe of k_clusters inverted
    lists) x product quantization for SCORING (ADC over m codes
    instead of the vector) — the classic IVFADC layout.  Both models
    are trained in-engine (distributed Lloyd, memoized per session)
    and ship as plan literals.

    Candidate rules are ann_ivf_kmeans_topk's exactly (assign: max
    dot, tie smallest label; probe: top-nprobe dot, tie larger label
    first; zero-norm vectors excluded); scoring and the (adist,
    vec_id) tie rule are ann_pq_topk's exactly — so each half is
    pinned by an already-verified twin and the oracle replays both.

    Scale: at 100 TB the coded corpus (m bytes + a centroid id per
    vector — NOT the vectors) is written partitioned by centroid_id;
    a query reads nprobe partitions of codes and m broadcast distance
    tables.  Storage drops ~dim*4/m-fold vs raw vectors and the scan
    is partition-pruned: this is the variant that actually runs at
    billion-vector scale."""
    embs = _embs_wide(spark, sf_dir).select("vec_id", "embedding")
    models = _pq_models(spark, sf_dir)
    cents = _km_update_cents(spark, sf_dir, _KM_K, _KM_ITERS)
    nz = ANN._nonzero_norm(embs, "embedding")
    # one scan computes BOTH the inverted-list id and the m codes —
    # coarse assign and encode are independent literal projections
    coded = ANN.ivf_assign(nz, cents).select(
        "vec_id", "centroid_id", *_pq_codes(models)
    )
    probes = ANN.ivf_probe(
        nz.where(F.col("vec_id") < 10), cents, nprobe=nprobe
    ).select("query_id", "centroid_id")
    return _adc_topk(
        coded.join(F.broadcast(probes), "centroid_id"),
        models, embs.where(F.col("vec_id") < 10), topk, qid="query_id",
    )


QUERIES["ann_ivf_pq_topk"] = ann_ivf_pq_topk


def _ivfpq_oracle_sql(
    m: int, sub_dim: int, kc: int, iters: int, topk: int,
    km_k: int, km_iters: int, nprobe: int,
) -> str:
    # every CTE is generated AS MATERIALIZED: DuckDB inlines the
    # five kmeans chains per reference otherwise — see _km_ctes
    parts = _pq_chain_parts(m, sub_dim, kc, iters, materialized=True)
    # coarse chain: the same trained-codebook assign/probe CTEs as
    # ann_ivf_kmeans_topk's oracle; the probed lists are the candidates
    parts += [
        _km_ctes(km_k, km_iters, materialized=True),
        _FIN_CENT.format(M="MATERIALIZED "),
        _ivf_ctes(nprobe, materialized=True),
        _pq_scored_cte(
            m, iters, topk,
            "SELECT b.vec_id, p.query_id FROM assigned b JOIN qprobe p"
            " ON p.centroid_id = b.centroid_id AND p.query_id <> b.vec_id",
            materialized=True,
        ),
    ]
    return "WITH " + ",\n".join(parts) + f"\nSELECT {_ADC_COLS} FROM pqtop"


ORACLE["ann_ivf_pq_topk"] = _ivfpq_oracle_sql(
    _PQ_M, _PQ_SUBDIM, _PQ_KC, _PQ_ITERS, _PQ_TOPK,
    _KM_K, _KM_ITERS, _IVFPQ_NPROBE,
)
