"""Document deduplication family for training-data pipelines, all
DataFrame compositions (no Python in the row path).

exact_dedup is one md5 groupBy (keep the min id).  Every near-duplicate
generator has the same three-step shape:

  keys       a per-doc projection to join keys — shingle hashes
             (set_jaccard_pairs / ngram_jaccard_pairs), MinHash band
             keys (minhash_band_keys, shared with the streaming band
             index), SimHash chunks (simhash_pairs)
  candidates _keyed_self_join: every same-key pair once (id_a < id_b)
             over ONE pinned, AQE-exempt shuffle of the key frame
  verify     exact set Jaccard from integer counts (set_jaccard_pairs'
             pair aggregate), exact Jaccard of LSH candidates only
             (_jaccard_verify: minhash_lsh_pairs,
             set_minhash_lsh_pairs, plans/corpus.dedup_edit_distance),
             or Hamming distance of the carried fingerprints (simhash)

MinHash and SimHash have ONE base hash: the portable char-polynomial
fold (_poly_sql), which DuckDB reproduces bit-for-bit, so every
approximate path is oracle-checked (plans/corpus.py) and the streamed
band index (streaming/jobs.maintain_band_index) holds the same
band_hash values as the batch queries and their oracles.  An xxhash64
base hash was measured no faster (4 cores, warm: minhash_band_keys
0.26-0.33 s vs 0.23-0.28 s poly on 500 docs, 0.48-0.61 vs 0.43-0.62 s
at sf0.1; LSH pairs and simhash equal within noise) and the MinHash
family reduces every base hash mod 2^31-1 anyway.  xxhash64 remains
only as the 64-bit element key of EXACT set Jaccard (set_jaccard_pairs,
_jaccard_verify), where no hash value reaches the output.

Scale notes (100 TB):
- exact: a single hash-partitioned groupBy on a 16-byte key.
- exact n-gram Jaccard is quadratic in the worst case; it is viable
  only after distinct-ing shingles per doc and dropping ultra-frequent
  shingles (``max_df``), which otherwise create O(df^2) join blow-ups
  on boilerplate text.  At cluster scale MinHash-LSH generates the
  candidates and exact Jaccard verifies only those.
- the LSH band join shuffles on (band, band_hash) — uniformly
  distributed by construction, so no skew; the candidate count is
  tuned by (bands, rows_per_band), not data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.functions.text import WS_SPLIT


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: the canonical (min-id) doc
    and the group size.  At 100 TB: groupBy on md5 — one shuffle of
    (hash, id), combiner-friendly."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).cast("bigint").alias("canonical_doc_id"),
            F.count("*").cast("bigint").alias("group_size"),
        )
    )


def _tokens(text_col: str):
    return F.split(F.lower(F.trim(F.col(text_col))), WS_SPLIT)


def shingle_sets(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple = (),
) -> DataFrame:
    """(doc_id, sh_set array<string>): distinct word n-grams per doc.
    Documents shorter than n tokens contribute a single sentinel
    shingle of their full text so they can still exact-match.

    The token array is materialized in its own projection first —
    referencing the split expression inside the n-gram lambda would
    re-run the regex split once per element_at (quadratic per doc).

    ``keep``: extra Columns (or column names) carried through — lets
    a consumer that needs the shingle set AND another per-doc payload
    (dedup_edit_distance: the ASCII-folded text) build ONE frame
    instead of joining two derivations of the same scan.
    """
    keep_cols = [F.col(c) if isinstance(c, str) else c for c in keep]
    with_toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("_toks"), *keep_cols
    )
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return with_toks.select(
        "doc_id",
        F.array_distinct(grams).alias("sh_set"),
        *[c for c in with_toks.columns if c not in ("doc_id", "_toks")],
    )


# ------------------------------------------------- candidate generation
def _conf_width(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _keyed_self_join(
    frame: DataFrame,
    keys: list[str],
    carry: tuple = (),
    parts: int | None = None,
) -> DataFrame:
    """Every same-key pair of a (doc_id, *keys, *carry) frame, once:
    (*keys, id_a, <c>_a..., id_b, <c>_b...) with id_a < id_b — the
    candidate join of every near-dup generator here.

    The frame is repartitioned on the keys BEFORE aliasing, so both
    join sides share one exchange subtree and the key pipeline runs
    once (ENGINEERING_NOTES 6d).  The repartition is explicit because
    AQE sizes reducers from MAP output bytes, which wildly
    underestimate a self-join's quadratic expansion: left alone it
    coalesces the key shuffle into one task and serializes the pair
    blow-up, while a user-specified (count, key) repartition is exempt
    from coalescing.  ``parts``: callers that know the input size pass
    a data-derived width (plans/corpus._docs_parts); the conf fallback
    over-parallelizes small inputs (r15 width sweep: ~2x faster pinned
    at 8-16 than at 32 on 5,000 docs)."""
    frame = frame.repartition(parts or _conf_width(frame), *keys)

    def side(s: str) -> DataFrame:
        return frame.select(
            F.col("doc_id").alias(f"id_{s}"),
            *keys,
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return side("a").join(side("b"), keys).where(
        F.col("id_a") < F.col("id_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    parts: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram-set Jaccard >= threshold.
    Shingle-set construction composed over the generic set-Jaccard
    join (set_jaccard_pairs)."""
    return set_jaccard_pairs(
        shingle_sets(docs, n=n),
        threshold=threshold,
        max_df=max_shingle_df,
        parts=parts,
    )


def set_jaccard_pairs(
    sets: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = None,
    set_col: str = "sh_set",
    parts: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact set Jaccard >= threshold over any
    (doc_id, <set_col> array<string>) frame — the join core shared by
    text shingle dedup (ngram_jaccard_pairs) and binary frame-hash
    dedup (plans/corpus.media_frame_dedup).

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) computed from integer counts, so
    the double is bit-identical across engines and partition orders.

    The self-join runs on xxhash64(element) bigint keys, not the
    element strings: the join key only has to be injective (64-bit
    collisions over shingle vocabularies are negligible), and integer
    keys cut shuffle bytes and sort-merge comparisons ~8x (10s -> 1.3s
    at sf0.1).  The OUTPUT (pairs + jaccard) is unchanged, so the
    string-keyed ANSI oracle still matches exactly.
    """
    sets = sets.select("doc_id", F.col(set_col).alias("sh_set"))
    if max_df is not None:
        # frequency pruning: shingles appearing in > max_df
        # docs are boilerplate — they can't certify a near-dup but they
        # quadratically inflate the self-join.
        # Hash INSIDE the array, then explode longs: exploding the
        # string array and hashing after is ~20x slower (measured 8.0s
        # vs 0.38s at sf0.1) — the generator's string outputs defeat
        # codegen's primitive fast path.
        sh0 = sets.select(
            "doc_id",
            F.explode(
                F.transform("sh_set", lambda s: F.xxhash64(s))
            ).alias("shingle"),
        ).persist()
        # persisted: df-stats pruning is inherently TWO passes over the
        # exploded shingles (the `hot` aggregate, then the anti-join's
        # probe side), and without the persist each pass re-runs the
        # full tokenize+shingle+hash pipeline — the two-consumer
        # invariant again (measured 2.2 s -> 0.94 s at sf0.1).  The
        # frame is (long, long) pairs — the compact representation is
        # exactly why shingles are hashed inside the array first.
        hot = (
            sh0.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        sh0 = sh0.join(F.broadcast(hot), "shingle", "left_anti")
        sh = sh0.withColumn(
            "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
        )
    else:
        # carry the set size through the explode — no extra join
        sh = sets.select(
            "doc_id",
            F.size("sh_set").alias("n_sh"),
            F.explode(
                F.transform("sh_set", lambda s: F.xxhash64(s))
            ).alias("shingle"),
        )
    joined = _keyed_self_join(sh, ["shingle"], carry=("n_sh",), parts=parts)
    if parts and parts < _conf_width(sh):
        # Small-data regime (data-derived width below the conf): pin
        # the pair-aggregation width too.  The pair count agg's reduce
        # is AQE-sized from partial-agg BYTES, which underestimate the
        # per-row agg work — with advisory coalescing it collapsed the
        # ~1.3M-row final agg into one task (measured 0.74 -> 1.63 s
        # at sf0.1; pinned: 0.81 s).  At cluster scale parts equals
        # the conf width, this branch is skipped, and the
        # combiner-friendly partial agg + AQE sizing is unchanged.
        joined = joined.repartition(parts, "id_a", "id_b")
    return (
        joined
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("common"),
            F.first("n_sh_a").alias("n_a"),
            F.first("n_sh_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("doc_id_1"),
            F.col("id_b").alias("doc_id_2"),
            "jaccard",
        )
    )


# ----------------------------------------------------------- MinHash LSH
_MINHASH_MOD = 2147483647  # 2^31-1: keeps a*h+b inside int64

# Literal-heavy expression trees in this family (k=64 hash families,
# per-band folds, per-char polynomial folds) are generated as SQL TEXT
# and parsed with ONE F.expr each: composing the same trees through
# the Column API costs thousands of py4j round trips (~1.2-1.6 s of
# pure plan-build per minhash query; ENGINEERING_NOTES r14).  The
# integer math is identical either way, so outputs are bit-exact.
def _poly_sql(s: str, mult: int = 131) -> str:
    """SQL text of the portable base hash: char polynomial
    (acc*mult + ord) mod 2^31-1 over a string expression snippet.
    Bit-exact in any engine with integer folds (the DuckDB twin is
    POLY_HASH_SQL in plans/corpus.py), unlike xxhash64 which only
    Spark implements.  ~31-bit range: rare collisions perturb the
    minhash estimate identically in both engines, so oracle parity is
    unaffected.  Plain % (one mod), not pmod — operands are
    non-negative so the result is identical, and this fold runs once
    per CHAR."""
    return (
        f"aggregate(transform(split({s}, ''), c -> CAST(ascii(c) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * {mult} + x) % {_MINHASH_MOD})"
    )


_SHINGLE_MULT = 1000003


def _tokens_sql(text_col: str) -> str:
    return f"split(lower(trim({text_col})), '\\\\s+')"


def _token_hash_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, _hs array<long>): distinct shingle hashes composed from
    per-TOKEN poly hashes — each token's chars are folded once, then a
    shingle hash is n integer mul-adds, instead of re-folding ~n*6
    chars per shingle (~16x less char work than _poly_sql over the
    joined shingle string; cut the poly-minhash query 5.8s -> 4.4s).
    Shingle hash = fold(acc*M + h_tok) % p starting acc=0 over the
    window of n token hashes; docs shorter than n tokens fold over all
    their tokens (the sentinel-shingle analog).  Bit-exact DuckDB twin
    in plans/corpus._minhash_oracle_sql.  Both projections are SQL
    text parsed by one F.expr each (see _poly_sql)."""
    with_ht = docs.select(
        F.col(id_col).alias("doc_id"),
        # materialize the token-hash array first: referencing it inside
        # the shingle lambda would re-run the char fold per element_at
        F.expr(
            f"transform({_tokens_sql(text_col)}, t -> {_poly_sql('t')})"
        ).alias("_ht"),
    )

    def window_hash(i_var: str) -> str:
        expr = "CAST(0 AS BIGINT)"
        for j in range(n):
            expr = (
                f"({expr} * {_SHINGLE_MULT} + element_at(_ht, {i_var} + {j}))"
                f" % {_MINHASH_MOD}"
            )
        return expr

    short = (
        f"aggregate(_ht, CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {_SHINGLE_MULT} + x) % {_MINHASH_MOD})"
    )
    grams = (
        f"CASE WHEN size(_ht) >= {n} THEN "
        f"transform(sequence(1, size(_ht) - {n - 1}), i -> {window_hash('i')}) "
        f"ELSE array({short}) END"
    )
    return with_ht.select(
        "doc_id", F.array_distinct(F.expr(grams)).alias("_hs")
    )


def minhash_signatures(
    docs: DataFrame,
    k: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: each shingle is hashed ONCE with the
    portable token-composed poly hash (_token_hash_shingles), then the
    k-family is derived arithmetically (sig[i] = min over shingles of
    (a_i*h + b_i) mod 2^31-1) — k mul-adds per shingle instead of k
    string hashes.  All JVM-side; a_i/b_i are fixed Knuth-style
    constants, so the signature is bit-identical in the DuckDB twin
    (plans/corpus._minhash_banded_ctes).

    The k families are STATICALLY UNROLLED in Python (k array_min
    expressions with literal constants) rather than one nested
    transform over sequence(0,k-1): measured 8x faster (2.3s vs 19s at
    sf0.1) — literal constants let codegen specialize the inner loop,
    while lambda-derived constants are re-evaluated per element."""
    return _token_hash_shingles(docs, n=n, id_col=id_col).select(
        "doc_id", _kfamily_signature(k).alias("signature")
    )


def _kfamily_signature(k: int):
    """The statically-unrolled k-family MinHash signature over a
    hashed-element column `_hs` (see minhash_signatures' docstring for
    why unrolled literals beat a nested transform 8x).  Rendered as
    one SQL text expression: 64 Column-API array_min/transform trees
    cost ~1 s of py4j plan-build per query (ENGINEERING_NOTES r14)."""
    mins = []
    for i in range(k):
        a = (i * 2654435761 + 1) % _MINHASH_MOD
        b = (i * 40503 + 12345) % _MINHASH_MOD
        mins.append(
            f"array_min(transform(_hs, h -> pmod(h * {a} + {b}, {_MINHASH_MOD})))"
        )
    return F.expr("array(" + ", ".join(mins) + ")")


def _band_entries_sql(k: int, bands: int) -> str:
    """SQL text of the per-band polynomial folds over a `signature`
    column — array<struct<band,band_hash>>, the banding projection
    shared by the shingle and element-set paths."""
    rows = k // bands
    entries = []
    for b in range(bands):
        h = "CAST(0 AS BIGINT)"
        for r in range(rows):
            h = (
                f"pmod({h} * 1000003 + element_at(signature, {b * rows + r + 1}),"
                f" {_MINHASH_MOD})"
            )
        entries.append(f"named_struct('band', {b}, 'band_hash', {h})")
    return "array(" + ", ".join(entries) + ")"


def _band_keys(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band, band_hash) from a (doc_id, signature) frame —
    the banding tail shared by the shingle and element-set paths."""
    if bands <= 0 or k % bands != 0:
        raise ValueError(
            f"k={k} must be a positive multiple of bands={bands}; "
            "otherwise band slices are empty/truncated and LSH degenerates"
        )
    return sigs.select(
        "doc_id", F.explode(F.expr(_band_entries_sql(k, bands))).alias("bh")
    ).select("doc_id", "bh.band", "bh.band_hash")


def minhash_band_keys(
    docs: DataFrame,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """(doc_id, band, band_hash): the LSH banding projection — a pure
    per-row pipeline (shingle -> minhash signature -> per-band
    polynomial fold), so it is STATELESS and runs unchanged on a
    stream (streaming/jobs.dedup_vs_corpus_stream routes arriving docs
    against a static corpus index with exactly this projection).
    Band hash is a statically-unrolled integer fold — no per-band
    string building."""
    sigs = minhash_signatures(docs, k=k, n=n)
    return _band_keys(sigs, k, bands)


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    parts: int | None = None,
) -> DataFrame:
    """Near-dup pairs via LSH banding over MinHash signatures,
    verified with exact shingle Jaccard.

    bands=16, rows=4 → S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5: pairs
    above ~0.5 estimated Jaccard almost surely collide in some band.
    """
    banded = minhash_band_keys(docs, k=k, bands=bands, n=n)
    cand = _lsh_candidates(banded, parts=parts)
    return _jaccard_verify(cand, shingle_sets(docs, n=n), threshold)


def set_minhash_lsh_pairs(
    sets: DataFrame,
    set_col: str = "sh_set",
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    parts: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over ARBITRARY element sets
    ((doc_id, <set_col> array<string>)) — the scale path shared by
    text shingles and binary frame fingerprints (media LSH dedup):
    elements are hashed once, the k-family signature + banding run
    exactly as in the shingle path, the band self-join generates
    candidates on uniform (band, band_hash) keys, and exact set
    Jaccard verifies ONLY the candidates.  Elements are hashed
    DIRECTLY with the portable char-polynomial hash (unlike the text
    path there is no token composition), so the DuckDB twin
    (plans/corpus.media_frame_lsh_dedup) replays it.  Empty sets are
    excluded (array_min over an empty signature family is undefined);
    callers' set builders emit sentinel elements instead
    (shingle_sets, frame_hash_sets)."""
    # array_distinct defends the 'arbitrary sets' contract (see
    # _jaccard_verify)
    base = sets.select(
        "doc_id",
        F.array_distinct(
            F.expr(f"transform({set_col}, s -> {_poly_sql('s')})")
        ).alias("_hs"),
    ).where(F.size("_hs") > 0)
    sigs = base.select("doc_id", _kfamily_signature(k).alias("signature"))
    cand = _lsh_candidates(_band_keys(sigs, k, bands), parts=parts)
    return _jaccard_verify(cand, sets, threshold, set_col=set_col)


def _lsh_candidates(banded: DataFrame, parts: int | None = None) -> DataFrame:
    """Distinct candidate pairs (doc_id_1, doc_id_2) from a
    (doc_id, band, band_hash) frame: pairs colliding in several bands
    are emitted once."""
    return (
        _keyed_self_join(banded, ["band", "band_hash"], parts=parts)
        .select(F.col("id_a").alias("doc_id_1"), F.col("id_b").alias("doc_id_2"))
        .distinct()
    )


def _jaccard_verify(
    cand: DataFrame,
    sets: DataFrame,
    threshold: float,
    set_col: str = "sh_set",
    keep: tuple = (),
) -> DataFrame:
    """Exact set-Jaccard verification of candidate (doc_id_1, doc_id_2)
    pairs against a raw (doc_id, <set_col> array<string>, *keep) frame
    — computed ONLY for the candidates (the LSH payoff: exact work
    scales with candidates, not corpus²).  Returns (doc_id_1,
    doc_id_2, jaccard) plus each ``keep`` payload column of both
    sides as <c>_1 / <c>_2 (dedup_edit_distance carries its folded
    text this way, so a rescoring verifier pays one pair of id joins).

    Elements are xxhash64-ed and array_distinct-ed: duplicate elements
    would inflate F.size while array_intersect dedups, deflating the
    Jaccard below truth (silent missed dups).  The hashed frame is
    persisted: both candidate-join sides consume it, and their
    differing projections defeat ReuseExchange — without the persist
    the whole set pipeline runs twice (two-consumer invariant;
    measured 2.57 s -> 2.27 s at sf0.1)."""
    hashed = sets.select(
        "doc_id",
        F.array_distinct(
            F.transform(F.col(set_col), lambda s: F.xxhash64(s))
        ).alias("_es"),
        *keep,
    ).persist()

    def side(i: int) -> DataFrame:
        return hashed.select(
            F.col("doc_id").alias(f"doc_id_{i}"),
            F.col("_es").alias(f"_es_{i}"),
            *[F.col(c).alias(f"{c}_{i}") for c in keep],
        )

    common = F.size(F.array_intersect(F.col("_es_1"), F.col("_es_2")))
    union = F.size(F.col("_es_1")) + F.size(F.col("_es_2")) - common
    return (
        cand.join(side(1), "doc_id_1")
        .join(side(2), "doc_id_2")
        .withColumn("jaccard", common / union)
        .where(F.col("jaccard") >= threshold)
        .select(
            "doc_id_1", "doc_id_2", "jaccard",
            *[f"{c}_{i}" for i in (1, 2) for c in keep],
        )
    )


# --------------------------------------------------------------- SimHash
def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """62-bit SimHash per doc from distinct tokens: sign-sum of per-token
    hash bits, all in built-in higher-order functions.  The token hash
    packs two portable 31-bit char-polynomial hashes (multipliers
    131/137) into one 62-bit long, so DuckDB reproduces the whole
    fingerprint bit-for-bit (plans/corpus._simhash_oracle_sql); 62
    bits keep the fingerprint sum positive in an int64.  Both heavy
    projections (the 62-way unrolled bit-count fold and the
    fingerprint sum) are SQL text parsed by one F.expr each — the
    Column-API trees cost ~2 s of py4j plan-build per run."""
    bits = 62  # two packed 31-bit poly hashes
    toks = f"array_distinct({_tokens_sql('text')})"
    # hash each token ONCE (the char fold is the expensive part), then
    # read bits off the packed long
    hs = (
        f"transform({toks}, t -> {_poly_sql('t', 131)}"
        f" + shiftleft({_poly_sql('t', 137)}, 31))"
    )
    # per-bit expressions unroll statically (literal shift amounts)
    bitvec = "array(" + ", ".join(
        f"CAST((shiftright(h, {j}) & 1) * 2 - 1 AS BIGINT)" for j in range(bits)
    ) + ")"
    counts = (
        f"aggregate({hs}, array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> zip_with(acc, {bitvec}, (a, b) -> a + b))"
    )
    with_counts = docs.select(
        F.col(id_col).alias("doc_id"), F.expr(counts).alias("_counts")
    )
    fingerprint = " + ".join(
        f"CASE WHEN element_at(_counts, {j + 1}) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return with_counts.select("doc_id", F.expr(fingerprint).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    parts: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.  Pigeonhole
    banding: with 4 chunks and <=3 differing bits, at least one 16-bit
    chunk matches exactly — join on (chunk_idx, chunk_value), then
    verify with bit_count(xor)."""
    if max_hamming >= chunks:
        raise ValueError(
            f"pigeonhole banding needs max_hamming < chunks "
            f"(got {max_hamming} >= {chunks}): pairs differing in every "
            "chunk would be silently missed"
        )
    sh = simhash(docs)
    width = 64 // chunks
    chunked = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_idx", "ch.chunk_val")
    return (
        _keyed_self_join(
            chunked, ["chunk_idx", "chunk_val"], carry=("simhash",), parts=parts
        )
        .select(
            F.col("id_a").alias("doc_id_1"),
            F.col("id_b").alias("doc_id_2"),
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
