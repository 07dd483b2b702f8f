"""Vector math over array<float> embedding columns: the one module that
renders a vector fold.  Every embedding dot product, norm, squared
distance and codebook arg-best in the package is built here, in one
of three forms:

- Column builders for folds between two array columns (`dot`,
  `sum_sq`, `l2_norm`): built-in zip_with / aggregate higher-order
  functions, fully JVM-side.
- SQL-text renderers for folds against literal model parameters (LSH
  planes, IVF / label centroids, kmeans / PQ codebooks): `lit_array_sql`,
  `dot_lit_sql`, `sq_dist_micros_sql`, `nearest_dot_sql`,
  `nearest_l2_sql`.  The caller parses the text with ONE F.expr: a
  k x dim literal tree through the Column API costs hundreds of py4j
  round trips per plan build (~0.5-1 s for k=8 x 64 dims, ~4 s for
  the PQ codebooks), one parse costs milliseconds.
- `cosine_verify`, the one pair verify (every candidate-pair cosine
  in the package: semantic_dedup and operators/ann._cosine_verify).
  It routes by the number of vectors entering the pair join, which
  the plan layer knows at build time (the memoized embeddings row
  count; a caller that passes none gets the fold): below
  `KERNEL_MIN_VECTORS` the JVM fold (`dot`), from it on the Arrow
  kernel `cosine_score_pairs`, which starts Python workers.  Measured
  crossover, warm exec seconds fold / kernel at 4 cores on row
  subsets of the sf0.1 embeddings (ENGINEERING_NOTES.md has the
  fresh-session runs, the second process of each cell and the larger
  sets):

      vectors   semantic_dedup   embedding_dedup
        500      0.40 / 0.67      0.56 / 0.50
      1,000      0.55 / 0.70      1.12 / 0.79
      2,000      1.47 / 1.05      3.57 / 1.64

  So sf0.01 (500 vectors) verifies on the fold and starts no Python
  worker, and sf0.1 (2,000) on the kernel.

Bit-exactness (the driver value-hashes against DuckDB at 12
significant digits): every fold is a sequential left fold in element
order, ``((0 + p0) + p1) + ...``, as the oracles' list_sum over
list_transform is; products are float64, after an exact float32
widening; double literals render via repr, which round-trips exactly
through Java's correctly-rounded parse.  So a Column fold, its text
rendering and the Arrow kernel agree bit-for-bit, and the two routes
of `cosine_verify` return identical rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MICROS = 1_000_000

# The pair verify's size rule: `cosine_verify` scores on the Arrow
# kernel when at least this many vectors enter the pair join, on the
# JVM fold below it (crossover table in the module docstring).
KERNEL_MIN_VECTORS = 1000


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric array columns, each element widened
    to double inside the fold (exact for float32; a no-op cast, which
    the optimizer drops, for array<double>), so no widened copy of
    either array is built per row."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sum_sq(a: Column) -> Column:
    """Sum of squares in float64; > 0 iff the l2 norm is > 0."""
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(sum_sq(a))


# NOTE (measured, sf0.1, 787k candidate pairs): statically unrolling
# the 64-dim dot into element_at chains is 4x SLOWER than the HOF fold
# (31.4s vs 7.4s) — the ~260-node expression tree trips codegen's
# method-size limits and falls back to interpreted evaluation.  Static
# unrolling only wins for SMALL arithmetic families (see the MinHash
# k-family).  The scaling lever for pair and search scoring is
# instead: compute l2 norms once per VECTOR before the candidate join
# (3 folds/pair -> 1), which is bit-identical and cut embedding_dedup
# 21.7s -> 7.4s.  The Arrow kernel below is not a general
# replacement: at sf0.1 on 4 cores it took embedding_dedup 3.5 -> 2.1 s
# but slowed every cosine search (ann_cosine_topk 0.55 -> 0.86 s), so
# searches stay on the fold and only the pair verify routes, by size
# (`cosine_verify`).


def lit_array_sql(vec) -> str:
    """A literal array<double>, each value rendered round-trip exact."""
    return "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vec) + ")"


def dot_lit_sql(vec_sql: str, cvec) -> str:
    """Dot product of a vector expression with a literal vector."""
    return (
        f"aggregate(zip_with({vec_sql}, {lit_array_sql(cvec)},"
        " (a, b) -> CAST(a AS DOUBLE) * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def sq_dist_micros_sql(vec_sql: str, other_sql: str) -> str:
    """Squared L2 distance between two vector expressions, rounded to
    an exact int64 count of millionths (the kmeans / PQ distance
    domain, so cross-engine sums and ties are integer-exact)."""
    return (
        f"CAST(round(aggregate(zip_with({vec_sql}, {other_sql},"
        " (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),"
        f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) * {MICROS}) AS BIGINT)"
    )


def _argmin_sql(scores) -> str:
    """The cid of the smallest score over (cid, score_sql) pairs, ties
    to the smallest cid: one array_sort over (score, cid) structs, so
    each score fold appears in the plan exactly once (a when/otherwise
    chain repeats earlier scores: exponential expression blow-up,
    ~12 s of analysis + codegen at k=10)."""
    structs = ", ".join(
        f"named_struct('dm', {s}, 'cid', {int(cid)})" for cid, s in scores
    )
    return f"array_sort(array({structs}))[0].cid"


def nearest_l2_sql(vec_sql: str, codebook) -> str:
    """The cid of the (cid, centroid) codeword at the smallest
    micro-rounded squared L2 distance, ties to the smallest cid."""
    return _argmin_sql(
        (cid, sq_dist_micros_sql(vec_sql, lit_array_sql(c))) for cid, c in codebook
    )


def nearest_dot_sql(vec_sql: str, codebook) -> str:
    """The cid of the (cid, centroid) codeword with the largest dot
    product, ties to the smallest cid."""
    return _argmin_sql(
        (cid, f"-({dot_lit_sql(vec_sql, c)})") for cid, c in codebook
    )


def cosine_score_pairs(
    df: "DataFrame",
    v1: str,
    v2: str,
    n1: str,
    n2: str,
    keep_cols: tuple[str, ...],
) -> "DataFrame":
    """Arrow-native cosine scoring of a candidate-pair frame (the
    kernel route of `cosine_verify`): ``mapInArrow`` over batches,
    reading each vector column's flat Arrow buffer directly —
    zero-copy reshape to (rows, dim), no per-row pandas object
    arrays.  Emits ``keep_cols + (cosine double,)``.

    Transfer discipline: callers pass the vectors as their ORIGINAL
    float32 arrays (half the bytes of pre-cast doubles); the kernel
    casts the flat buffer float32 → float64 — an EXACT widening, so
    the products match a JVM-side `cast("double")` bit-for-bit.

    BIT-EXACT contract: accumulation is column-by-column
    (``acc += a[:, j] * b[:, j]``) — sequential over dims, vectorized
    over pairs — reproducing the `dot` left fold in IEEE float64
    exactly.  ``np.dot`` / BLAS pairwise summation would drift the
    12th significant digit and flip threshold-boundary pairs.

    Every vector in a batch, on both sides, must be non-null and as
    long as the batch's first one; otherwise the kernel raises
    ValueError naming the lengths, since reshaping a ragged flat
    buffer would pair elements of different rows and return a wrong
    score.

    Scale: candidate GENERATION stays JVM-side (cluster buckets +
    blocked_self_pairs bound the pair count); only the bounded
    verify-kernel arithmetic crosses into Arrow, and it is
    memory-bandwidth-bound, not interpreter-bound.  Measured sf0.1
    (250k pairs x 64 dims): interpreted HOF fold ~1.45 s → pandas_udf
    (double payloads) ~0.95 s → this kernel, see ENGINEERING_NOTES.
    """
    import numpy as np
    import pyarrow as pa

    in_names = list(df.select(*keep_cols, v1, v2, n1, n2).columns)
    out_fields = [
        f"{name} {dtype}"
        for name, dtype in df.select(*keep_cols).dtypes
    ]
    out_schema = ", ".join(out_fields + ["cosine double"])

    def score(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            cols = [b.column(in_names.index(v)) for v in (v1, v2)]
            lens = [c.value_lengths().to_numpy(zero_copy_only=False) for c in cols]
            if any(c.null_count for c in cols) or any(
                (x != lens[0][0]).any() for x in lens
            ):
                seen = {x for c in cols for x in c.value_lengths().to_pylist()}
                raise ValueError(
                    f"cosine_score_pairs needs non-null vectors of one length"
                    f" per batch; {v1} / {v2} have lengths {sorted(seen, key=str)}"
                )
            a, c = (
                col.flatten().to_numpy(zero_copy_only=False)
                .astype(np.float64).reshape(n, int(lens[0][0]))
                for col in cols
            )
            acc = np.zeros(n, dtype=np.float64)
            for j in range(a.shape[1]):
                acc += a[:, j] * c[:, j]
            norm1 = b.column(in_names.index(n1)).to_numpy(zero_copy_only=False)
            norm2 = b.column(in_names.index(n2)).to_numpy(zero_copy_only=False)
            cos = acc / (norm1 * norm2)
            yield pa.RecordBatch.from_arrays(
                [b.column(in_names.index(k)) for k in keep_cols]
                + [pa.array(cos, type=pa.float64())],
                list(keep_cols) + ["cosine"],
            )

    return df.select(*keep_cols, v1, v2, n1, n2).mapInArrow(score, out_schema)


def cosine_verify(
    pairs: "DataFrame",
    va: str,
    vb: str,
    na: str,
    nb: str,
    keep_cols: tuple[str, ...],
    n_vectors: int,
) -> "DataFrame":
    """The one pair verify: exact cosine dot / (na * nb) of each
    candidate pair, whose norms ``na`` / ``nb`` were computed once per
    vector before the join.  The vectors ``va`` / ``vb`` arrive as
    float32 arrays (semantic_dedup: half the shuffle and Arrow bytes)
    or as float64 arrays widened once per vector (the ANN pair
    skeleton, whose small-sample fold then multiplies doubles).
    Emits ``keep_cols + (cosine double,)``.

    ``n_vectors`` is the number of vectors entering the pair join, as
    the plan layer knows it at build time; it picks the route, and no
    Spark job is run to learn it.  Below `KERNEL_MIN_VECTORS` the pairs
    score on the JVM fold (`dot`); from it on, on the Arrow kernel
    `cosine_score_pairs`.  Both widen float32 to float64 exactly (a
    no-op for float64) and sum in the same left-fold order, so they return the same rows bit
    for bit; only the plan shows the route (a MapInArrow node on the
    kernel route).  One difference is not a result: a pair of vectors
    of unequal length scores NULL on the fold (zip_with pads) and
    raises on the kernel."""
    if n_vectors >= KERNEL_MIN_VECTORS:
        return cosine_score_pairs(pairs, va, vb, na, nb, keep_cols)
    cosine = dot(F.col(va), F.col(vb)) / (F.col(na) * F.col(nb))
    return pairs.select(*keep_cols, cosine.alias("cosine"))
