"""Similarity search and near-duplicate pairs over embedding columns
(array<float>).  Every function here follows one of two skeletons,
and every fold it scores with (dot, norm, literal-codebook arg-best)
comes from functions/vectors.py.

Search: candidates -> score -> per-query top-k, the IVFADC shape of
Jegou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011).  The small query side is broadcast onto the
corpus and `per_query_topk` keeps the k best per query_id (Catalyst
turns its rank filter into a partial top-k).  `_cosine_topk` is the
one cosine body: each side's norms are computed once per vector,
before the join, and candidates score `_cosine`, dot / (na * nb).
The searchers differ only in the candidate join:
  - brute_force_topk: cross join.  Exact; the correctness baseline,
    fine up to ~10^7 corpus x small query batches.
  - lsh_topk: equi-join on the sign-LSH bucket.  At 100 TB the corpus
    is written partitioned by bucket, so a query reads one partition;
    fewer n_planes -> bigger buckets -> higher recall.
  - ivf_topk: equi-join on the probed IVF centroid (ivf_assign /
    ivf_probe).  At 100 TB the corpus is written partitioned by
    centroid_id, so a query reads nprobe partitions.
    Assignment and probing score literal centroids as SQL text
    (vectors.nearest_dot_sql / dot_lit_sql), one parse per build.
plans/corpus.ann_pq_topk and ann_ivf_pq_topk are the same skeleton
with an ADC score (product-quantized distance tables).

Pairs: one normed-vector frame -> candidates -> one cosine verify.
`_normed` drops zero-norm vectors and computes each norm ONCE, before
any join; `_cosine_verify` scores the candidates only, through the
package's one pair verify, functions/vectors.cosine_verify, which
picks the JVM fold or the Arrow kernel by the number of vectors
entering the pair join.  The candidate step has three shapes:
  - embedding_near_dups: cross join, id_1 < id_2.  O(n^2): the recall
    oracle, not a scale path.
  - embedding_near_dups_lsh: probe ⋈ code.  Each bucket code and its
    1-bit flips probe the code column; the 100 TB path.
  - blocked_self_pairs: block ⋈ block.  A same-key pair set split into
    shard-pair blocks so a hot key spreads over many tasks;
    plans/corpus.semantic_dedup verifies these pairs with the same
    vectors.cosine_verify.
Probes meet codes and blocks meet blocks, so neither join is the
same-key equi-join of operators/dedup._keyed_self_join.

Sign-LSH planes are deterministic (sin-based pseudo-noise), so codes
reproduce without a stored model.  `_lsh_code` is the one code step,
for both lsh_topk sides and embedding_near_dups_lsh, and it carries
the vector-length check.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.functions import vectors


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _nonzero_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude zero-norm vectors before any cosine: the direction is
    undefined, and under Spark 4's default ANSI mode the 0/0 division
    raises a runtime divideByZeroError — one junk vector would kill a
    100 TB job.  Found by the adversarial fuzz gate
    (tests/test_adversarial_text.py); every oracle mirrors the filter.
    sum-of-squares > 0 <=> l2 norm > 0, one fold per vector."""
    return df.where(vectors.sum_sq(F.col(vec_col)) > 0)


def _nz_vectors(df: DataFrame, vec_col: str, id_col: str, id_name: str,
             vec_name: str, *extra) -> DataFrame:
    """Non-zero vectors as (id_name, vec_name as array<double>, *extra)."""
    return _nonzero_norm(df, vec_col).select(
        F.col(id_col).alias(id_name), _as_double(F.col(vec_col)).alias(vec_name),
        *extra,
    )


def per_query_topk(scored: DataFrame, k: int, order: list) -> DataFrame:
    """The search skeleton's one top-k: `rank` (an int) is the
    row_number over query_id ordered by `order`, kept at <= k.  Callers
    end `order` with a neighbor id, so ties rank deterministically."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _cosine(va: str, vb: str, na: str, nb: str):
    """Exact cosine from precomputed norms: dot / (na * nb)."""
    return vectors.dot(F.col(va), F.col(vb)) / (F.col(na) * F.col(nb))


def _cosine_topk(
    c: DataFrame, q: DataFrame, k: int, on: str | None = None
) -> DataFrame:
    """The search skeleton's cosine body: broadcast the query side
    (query_id, qv) onto the corpus side (neighbor_id, cv) — a cross
    join, or an equi-join ``on`` a bucket / centroid column — drop
    self matches, score exact cosine, keep the per-query top-k.  Each
    side's norms are computed once per vector, before the join, as in
    `_normed`.  The cross join stays a crossJoin, so its join type
    stays Cross."""
    c = c.withColumn("nc", vectors.l2_norm(F.col("cv")))
    q = F.broadcast(q.withColumn("nq", vectors.l2_norm(F.col("qv"))))
    scored = (
        (c.crossJoin(q) if on is None else c.join(q, on))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine("qv", "cv", "nq", "nc"))
    )
    return per_query_topk(
        scored, k, [F.col("cosine").desc(), F.col("neighbor_id")]
    ).select("query_id", "neighbor_id", "cosine", "rank")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of `corpus` for each row in `queries`:
    every (query, corpus) pair is a candidate."""
    return _cosine_topk(
        _nz_vectors(corpus, vec_col, id_col, "neighbor_id", "cv"),
        _nz_vectors(queries, vec_col, id_col, "query_id", "qv"),
        k,
    )


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random planes: sin(p*dim + d) — fixed,
    seedless, reproducible anywhere (same trick as sinusoidal
    positional encodings)."""
    return [
        [math.sin(p * dim + d + 1.0) for d in range(dim)] for p in range(n_planes)
    ]


def lsh_bucket(vec_col: str, planes: list[list[float]]):
    """Sign-bucket code of the column ``vec_col``: bit p = 1 iff
    dot(v, plane_p) > 0, as one parsed expression."""
    bits = [
        f"CASE WHEN {vectors.dot_lit_sql(vec_col, plane)} > 0 THEN {1 << p} ELSE 0 END"
        for p, plane in enumerate(planes)
    ]
    return F.expr(" + ".join(["CAST(0 AS BIGINT)", *bits]))


def _lsh_code(vec_col: str, dim: int, n_planes: int):
    """The one sign-LSH code step: lsh_bucket over the ``dim``-wide
    planes, checked per row.  A vector of another length would make
    zip_with null-pad and hash to bucket 0 — every pair a candidate,
    garbage recall — so the expression raises at run time instead.
    Lazy: every row on every side is checked, at no extra job.  The
    coalesce keeps the code non-nullable, so joins on it infer no
    extra not-null filter."""
    v = F.col(vec_col)
    check = F.when(
        F.size(v) != dim,
        F.raise_error(
            F.concat(
                F.lit(f"dim={dim} does not match vector length "),
                F.size(v).cast("string"),
                F.lit(": zip_with would null-pad and silently hash every"
                      " vector to bucket 0"),
            )
        ),
    )
    return F.coalesce(check, lsh_bucket(vec_col, _hyperplanes(dim, n_planes)))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's
    hyperplane sign bucket.  A vector whose length is not ``dim``
    raises (see _lsh_code) when the frame is evaluated, not here."""
    code = _lsh_code(vec_col, dim, n_planes).alias("bucket")
    return _cosine_topk(
        _nz_vectors(corpus, vec_col, id_col, "neighbor_id", "cv", code),
        _nz_vectors(queries, vec_col, id_col, "query_id", "qv", code),
        k,
        on="bucket",
    )


def _normed(corpus: DataFrame, vec_col: str, id_col: str, *extra) -> DataFrame:
    """The pair skeleton's one vector frame: non-zero vectors as
    (_id, _v as array<double>, *extra, _norm).  Norms are computed
    once per VECTOR, not per pair: bit-identical cosine (same fold,
    same order) at a third of the per-pair work, measured 21.7 s ->
    7.4 s for embedding_dedup at sf0.1.  (Unrolling the dot statically
    is a regression here — see the NOTE in functions/vectors.py.)
    The vectors are widened once here, not per pair in the fold:
    carrying float32 and widening inside the fold read
    ann_recall_report 1.03 -> 1.11 s (median of 10 sf0.1 bench pairs,
    slower in 8), though it halves the kernel route's Arrow bytes."""
    return _nz_vectors(corpus, vec_col, id_col, "_id", "_v", *extra).withColumn(
        "_norm", vectors.l2_norm(F.col("_v"))
    )


def _pair_side(normed: DataFrame, i: int, *extra) -> DataFrame:
    """Side i (1 or 2) of a candidate pair: vec_id_i plus the vector
    and norm as va / na (side 1) or vb / nb (side 2)."""
    s = "ab"[i - 1]
    return normed.select(
        F.col("_id").alias(f"vec_id_{i}"),
        F.col("_v").alias(f"v{s}"),
        F.col("_norm").alias(f"n{s}"),
        *extra,
    )


def _cosine_verify(pairs: DataFrame, threshold: float, n_vectors: int = 0) -> DataFrame:
    """The pair skeleton's one verify: exact cosine dot / (na * nb) on
    the candidates only (vectors.cosine_verify, routed by the
    ``n_vectors`` entering the pair join; 0, unknown, is the fold),
    kept at >= threshold."""
    return vectors.cosine_verify(
        pairs, "va", "vb", "na", "nb", ("vec_id_1", "vec_id_2"), n_vectors
    ).where(F.col("cosine") >= threshold)


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vector near-duplicate pairs: cosine >= threshold, id1 < id2.
    Brute-force all-pairs — O(n^2): the correctness/recall oracle for
    `embedding_near_dups_lsh`, NOT a scale path, so it runs on small
    samples and verifies on the JVM fold.  The exposed
    `embedding_dedup` query uses the LSH-bucketed variant."""
    normed = _normed(corpus, vec_col, id_col)
    return _cosine_verify(
        _pair_side(normed, 1)
        .crossJoin(_pair_side(normed, 2))
        .where(F.col("vec_id_1") < F.col("vec_id_2")),
        threshold,
    )


def embedding_near_dups_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    dim: int = 64,
    multiprobe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_vectors: int = 0,
) -> DataFrame:
    """Vector near-dup pairs via sign-LSH bucketing — the 100 TB path.

    Each vector hashes to an ``n_planes``-bit sign bucket; candidates
    are pairs whose codes differ in <= ``multiprobe_bits`` bits
    (multiprobe: the left side explodes into its own code plus every
    1-bit flip, the join is a plain equi-join on probe == code, so no
    CartesianProduct ever appears in the plan).  Exact cosine is then
    verified on candidates only — compute scales with candidate count,
    not corpus².  Approximate: pairs whose codes differ in more than
    ``multiprobe_bits`` bits are missed; recall is asserted against
    the brute-force twin in tests/test_ann.py.

    Hot buckets (clustered corpora): decompose the skewed bucket's
    pair set with `blocked_self_pairs` — same pairs, parallelism
    ~shards²/2 per hot key.  A vector whose length is not ``dim``
    raises (see _lsh_code) when the frame is evaluated, not here.
    ``n_vectors``: the corpus's vector count as the caller knows it
    at build time (0 if unknown); it only picks the verify route
    (vectors.cosine_verify), never the result.
    """
    if multiprobe_bits not in (0, 1):
        raise ValueError("multiprobe_bits must be 0 or 1")
    normed = _normed(
        corpus, vec_col, id_col, _lsh_code(vec_col, dim, n_planes).alias("code")
    ).persist()
    # persisted: the probe side and the build side BOTH consume normed,
    # and their differing projections defeat ReuseExchange — without
    # this the plane-hash + norm pipeline runs twice (two-consumer
    # invariant; measured 0.93 s -> 0.73 s at sf0.1)
    flips = [0] + (
        [1 << p for p in range(n_planes)] if multiprobe_bits else []
    )
    # Pre-expansion repartition, for the reason dedup._keyed_self_join
    # gives: the corpus parquet is a handful of input splits and the
    # join is broadcast (no shuffle), so without this the quadratic
    # candidate scoring runs on the scan's partition count — one task
    # at test scale.  Spread the probe side across the shuffle width.
    nparts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    probes = _pair_side(
        normed.repartition(nparts, "_id"),
        1,
        F.explode(
            F.array(*[F.col("code").bitwiseXOR(F.lit(f)) for f in flips])
        ).alias("probe"),
    )
    right = _pair_side(normed, 2, "code")
    # Hamming-0 pairs match only via the ^0 probe, Hamming-1 pairs only
    # via the one flipped bit, and vec_id_1 < vec_id_2 keeps a single
    # orientation — each candidate pair appears exactly once.
    return _cosine_verify(
        probes.join(
            right,
            (probes.probe == right.code) & (probes.vec_id_1 < right.vec_id_2),
        ),
        threshold,
        n_vectors,
    )


def _nearest_centroid(vec_col: str, centroids: list):
    """IVF coarse quantization as one expression: the id of the
    highest-dot centroid, ties to the SMALLEST cid
    (functions/vectors.nearest_dot_sql)."""
    if not centroids:
        raise ValueError(
            "ivf_assign needs at least one centroid: an IVF index over "
            "an empty coarse quantizer is undefined (build centroids "
            "first, e.g. plans/corpus.label_centroids)"
        )
    return F.expr(vectors.nearest_dot_sql(vec_col, centroids))


def ivf_assign(vectors: DataFrame, centroids: list, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse
    quantization).  `centroids` is a small python list of (cid, vec) —
    it ships inside the plan as literals, so assignment is a pure map
    over the corpus: no shuffle, no join."""
    return vectors.select(
        F.col(id_col), F.col(vec_col),
        _nearest_centroid(vec_col, centroids).alias("centroid_id"),
    )


def ivf_probe(
    queries: DataFrame,
    centroids: list,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query probe list: the `nprobe` highest-dot centroids, one
    output row per (query, probed centroid).  The ranking is tiny
    (n_queries x n_centroids) and computed against literal centroids —
    no shuffle.  Tie rule: higher dot first, then LARGER cid
    (descending sort over (s, cid) structs) — kept identical to the
    historical inline ivf_topk block and its DuckDB twin
    (ORDER BY s DESC, label DESC).  Callers must pre-filter zero-norm
    queries if their semantics require it (ivf_topk does)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    # one parsed SQL expression, as in _nearest_centroid
    entries = ", ".join(
        f"named_struct('s', {vectors.dot_lit_sql('qv', cvec)},"
        f" 'cid', CAST({int(cid)} AS INT))"
        for cid, cvec in centroids
    )
    return q.withColumn(
        "probe_cids",
        F.expr(
            f"slice(reverse(array_sort(array({entries}))), 1, {int(nprobe)})"
        ),
    ).select("query_id", "qv", F.explode("probe_cids.cid").alias("centroid_id"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: corpus is bucketed by nearest centroid;
    each query scores only the vectors in its `nprobe` closest
    centroid buckets — the classic inverted-file layout expressed as
    partition pruning."""
    return _cosine_topk(
        _nz_vectors(
            corpus, vec_col, id_col, "neighbor_id", "cv",
            _nearest_centroid(vec_col, centroids).alias("centroid_id"),
        ),
        ivf_probe(
            _nonzero_norm(queries, vec_col), centroids, nprobe, vec_col, id_col
        ),
        k,
        on="centroid_id",
    )


def blocked_self_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    shards: int = 4,
    payload_cols: tuple[str, ...] = (),
    partitions: int | None = None,
) -> DataFrame:
    """Balanced quadratic decomposition of a same-key self-join — the
    hot-bucket mitigation the 100 TB capacity model calls for
    (ENGINEERING_NOTES: clustered embeddings make sign buckets inherit
    cluster sizes, so one bucket can hold a cluster's whole pair set).

    Each row gets a deterministic sub-shard a = hash(id) % shards; a
    pair whose rows land in shards (a, b) with a <= b is produced by
    exactly one block (a, b), so the `shards*(shards+1)/2` blocks
    partition the pair set and the key's quadratic work spreads over
    that many independent join groups instead of one reducer.  Total
    work is unchanged (it's the same n² pairs); parallelism for the
    hottest key improves ~shards²/2-fold.  Shuffle input inflates by
    ~shards/2 per side — worth it only for keys too hot for one task,
    which is why it's a separate operator, not the default path.

    Returns (id_1, id_2, <key_col>) with id_1 < id_2, exactly once per
    unordered same-key pair — equality vs the plain self-join is
    asserted in tests/test_ann.py.

    ``payload_cols``: columns carried THROUGH the blocked join, emitted
    as <c>_1 / <c>_2 — the same carry-the-vectors shape
    embedding_near_dups_lsh uses, so a consumer scoring the pairs
    avoids two extra id-joins (measured: semantic_dedup 2.1 s → 1.2 s
    at sf0.1).  Shuffle volume inflates ~(shards+3)/4 per side — the
    price of block parallelism either way.  With payloads the pair
    appears exactly once but in ARBITRARY orientation (id_1 < id_2 is
    NOT guaranteed — a conditional payload swap would double every
    expression); callers normalize ids AFTER any symmetric payload use
    (cosine is symmetric: same fold, same element order, commutative
    multiply — bit-identical either way).
    """
    if shards < 2:
        raise ValueError("shards must be >= 2; use a plain self-join otherwise")
    sub = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(shards))
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(key_col),
        sub.alias("_sub"),
        *payload_cols,
    )
    # left row (sub=a) serves blocks (a, b) for all b >= a;
    # right row (sub=b) serves blocks (a, b) for all a <= b
    left = base.select(
        F.col("_id").alias("id_1"),
        key_col,
        *[F.col(c).alias(f"{c}_1") for c in payload_cols],
        F.col("_sub").alias("_a"),
        F.explode(
            F.sequence(F.col("_sub"), F.lit(shards - 1))
        ).alias("_b"),
    )
    right = base.select(
        F.col("_id").alias("id_2"),
        F.col(key_col).alias("_key_r"),
        *[F.col(c).alias(f"{c}_2") for c in payload_cols],
        F.col("_sub").alias("_b"),
        F.explode(F.sequence(F.lit(0), F.col("_sub"))).alias("_a"),
    )
    # ``partitions``: the join's INPUT bytes are small (the pre-blowup
    # corpus side), so AQE sizes the reducer count from them and
    # coalesces the join — and everything downstream in its stage
    # (pair scoring!) — into one task, serializing the quadratic
    # expansion this operator exists to parallelize.  An EXPLICIT
    # numbered repartition on the join keys pins the reducer count
    # (AQE never coalesces user-specified repartitions), spreading the
    # block groups over `partitions` tasks.  Same class of fix as the
    # repartition(n, key) invariant for self-join expansions.
    if partitions:
        left = left.repartition(partitions, F.col(key_col), "_a", "_b")
        right = right.repartition(partitions, F.col("_key_r"), "_a", "_b")
    # orientation is by SHARD, not id: off-diagonal blocks (a < b) meet
    # each cross-shard pair exactly once with the shard-a row on the
    # left; only the diagonal block (a == b) sees both orientations and
    # needs the id filter.  Output ids are normalized afterwards.
    pairs = left.join(
        right,
        (left[key_col] == right["_key_r"])
        & (left["_a"] == right["_a"])
        & (left["_b"] == right["_b"])
        & ((left["_a"] < left["_b"]) | (left["id_1"] < right["id_2"])),
    )
    if payload_cols:
        return pairs.select(
            "id_1",
            "id_2",
            key_col,
            *[f"{c}_1" for c in payload_cols],
            *[f"{c}_2" for c in payload_cols],
        )
    return pairs.select(
        F.least("id_1", "id_2").alias("id_1"),
        F.greatest("id_1", "id_2").alias("id_2"),
        key_col,
    )
