"""r15 focused tests: data-derived exchange widths (spread_scan v2 /
parallelism_for), the SQL-text renderings of the kmeans/IVF literal
trees (must be value-identical to the Column-API forms they replaced),
and the fused dedup_edit_distance payload frame."""

import math
import re

import pytest
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.operators import ann as ANN
from bank_transaction_data_warehouse_spark.operators import dedup as DD
from bank_transaction_data_warehouse_spark.operators import kmeans as KM
from bank_transaction_data_warehouse_spark.sources import tables as T


def test_parallelism_for_clamps(spark):
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert T.parallelism_for(spark, 0, 320) == 1
    assert T.parallelism_for(spark, 1, 320) == 1
    assert T.parallelism_for(spark, 320 * nparts, 320) == nparts
    # cluster regime: rows >> nparts * rows_per_task caps at the conf
    assert T.parallelism_for(spark, 10**12, 320) == nparts
    mid = T.parallelism_for(spark, 900, 320)
    assert mid == min(nparts, math.ceil(900 / 320))


def test_spread_width_derived_from_rows_not_conf(spark, sf_dir):
    """The spread width is ceil(rows/rows_per_task), NOT the session's
    shuffle parallelism (r14 regression class: 156-row tasks)."""
    rows = T.table_rows(spark, sf_dir, "documents")
    df = T.spread_scan(spark, sf_dir, "documents", "doc_id", rows_per_task=100)
    want = max(1, min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        math.ceil(rows / 100),
    ))
    if want > T.scan_partitions(spark, sf_dir, "documents"):
        assert df.rdd.getNumPartitions() == want
    # a hint bounds the estimate (sampled consumers)
    df2 = T.spread_scan(
        spark, sf_dir, "documents", "doc_id", rows_per_task=100, rows_hint=150
    )
    assert df2.rdd.getNumPartitions() <= max(
        2, T.scan_partitions(spark, sf_dir, "documents")
    )


def test_spread_noop_for_non_degenerate_scans(spark, sf_dir, tmp_path):
    """A scan with more than _DEGENERATE_SPLITS real splits is never
    reshuffled (the r14 at-scale full-shuffle hazard): spread_scan
    must return the memoized plain frame itself."""
    import shutil

    d = tmp_path / "many"
    d.mkdir()
    docs = T.load_table(spark, sf_dir, "documents")
    docs.repartition(8).write.parquet(str(d / "documents.parquet"))
    plain = T.load_table(spark, str(d), "documents")
    if T.scan_partitions(spark, str(d), "documents") > T._DEGENERATE_SPLITS:
        got = T.spread_scan(spark, str(d), "documents", "doc_id", rows_per_task=1)
        assert got is plain
    shutil.rmtree(str(d))


def _old_assign_reference(embs, centroids, vec_col="embedding"):
    """The pre-r15 Column-API assignment, kept as the equivalence
    reference for the SQL-text rendering."""
    arr = lambda c: F.array(*[F.lit(float(v)) for v in c])  # noqa: E731

    def dist(c):
        d = F.aggregate(
            F.zip_with(
                F.col(vec_col), arr(c),
                lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(d * KM.MICROS).cast("bigint")

    cands = F.array(
        *[
            F.struct(dist(c).alias("dm"), F.lit(int(cid)).alias("cid"))
            for cid, c in sorted(centroids.items())
        ]
    )
    return embs.withColumn("cid", F.array_sort(cands)[0]["cid"])


def test_assign_clusters_sql_text_matches_column_api(spark):
    import math as m

    vecs = [
        (0, [0.0] * 8), (1, [1.0] * 8), (2, [0.1 * i for i in range(8)]),
        (3, [m.sin(i) for i in range(8)]), (4, [-1.0] * 8),
        (5, [1e-30] * 8), (6, [123.456789] * 8),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = {
        0: [0.05] * 8,
        7: [m.cos(i) for i in range(8)],
        3: [0.1 * i for i in range(8)],
    }
    new = KM.assign_clusters(df, cents)
    old = _old_assign_reference(df, cents)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_ivf_assign_probe_sql_text_matches_column_api(spark):
    import math as m

    vecs = [(i, [m.sin(i * 8 + d) for d in range(8)]) for i in range(12)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = [(0, [0.1] * 8), (1, [m.cos(d) for d in range(8)]), (2, [-0.2] * 8)]

    got = {
        (r.vec_id, r.centroid_id)
        for r in ANN.ivf_assign(df, cents).collect()
    }

    # independent reference: exact argmax dot via a brute-force join
    def dot(v, c):
        return sum(float(a) * b for a, b in zip(v, c))

    want = set()
    for vid, v in vecs:
        scores = sorted(((-dot(v, c), cid) for cid, c in cents))
        want.add((vid, scores[0][1]))
    assert got == want

    probes = ANN.ivf_probe(df, cents, nprobe=2).collect()
    by_q = {}
    for r in probes:
        by_q.setdefault(r.query_id, []).append(r.centroid_id)
    for vid, v in vecs:
        ranked = sorted(((dot(v, c), cid) for cid, c in cents), reverse=True)
        assert by_q[vid] == [cid for _s, cid in ranked[:2]]


def test_shingle_sets_keep_carries_columns(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d", "x"), (2, "q", "y")],
        "doc_id long, text string, source string",
    )
    out = DD.shingle_sets(
        docs, n=3, keep=("source", F.length("text").alias("_len"))
    )
    assert out.columns == ["doc_id", "sh_set", "source", "_len"]
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].source == "x" and rows[1]._len == 7
    # default call shape unchanged
    assert DD.shingle_sets(docs).columns == ["doc_id", "sh_set"]


def test_dedup_edit_distance_matches_unfused_composition(spark, sf_dir):
    """The r15 fused verify+rescore must emit exactly the old
    composition's rows: dedup_minhash_lsh pairs joined to folded
    texts."""
    import __spark_entry__ as E

    fused = E.queries()["dedup_edit_distance"](spark, sf_dir)
    pairs = E.queries()["dedup_minhash_lsh"](spark, sf_dir).select(
        "doc_id_1", "doc_id_2"
    )
    folded = T.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", r"[^\x00-\x7f]", "?").alias("_ft")
    )
    a = folded.select(F.col("doc_id").alias("doc_id_1"), F.col("_ft").alias("_fa"))
    b = folded.select(F.col("doc_id").alias("doc_id_2"), F.col("_ft").alias("_fb"))
    lev = F.levenshtein("_fa", "_fb")
    maxlen = F.greatest(F.length("_fa"), F.length("_fb"))
    old = (
        pairs.join(a, "doc_id_1").join(b, "doc_id_2").select(
            "doc_id_1", "doc_id_2", lev.cast("bigint").alias("lev"),
            F.when(maxlen == 0, F.lit(1.0))
            .otherwise(F.lit(1.0) - lev / maxlen).alias("edit_sim"),
        )
    )
    assert fused.exceptAll(old).count() == 0
    assert old.exceptAll(fused).count() == 0


_PIN_PARTS = 3  # distinct from the fixture's shuffle width (8) and 1


def _pinned(df):
    """Run ``df`` and return the user-specified (REPARTITION_BY_NUM)
    hash exchanges of its EXECUTED plan as ([key columns], width)
    pairs, expression ids stripped, plus the plan text."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    pins = re.findall(
        r"hashpartitioning\(([^()]*), (\d+)\), REPARTITION_BY_NUM", plan
    )
    return [
        (re.sub(r"#\d+L?", "", cols).split(", "), int(n)) for cols, n in pins
    ], plan


@pytest.mark.parametrize(
    "generator, keys",
    [
        ("set_jaccard_pairs", ["shingle"]),
        ("minhash_lsh_pairs", ["band", "band_hash"]),
        ("set_minhash_lsh_pairs", ["band", "band_hash"]),
        ("simhash_pairs", ["chunk_idx", "chunk_val"]),
    ],
)
def test_self_join_expansion_pinned_to_parts(spark, sf_dir, generator, keys):
    """Self-join expansions need an explicit repartition(n, key): the
    EXECUTED plan (after AQE re-optimization) must still hold a
    user-specified hash exchange of width ``parts`` on the join keys —
    AQE coalesces any other exchange from map-output bytes and would
    serialize the quadratic pair blow-up into one task."""
    docs = T.load_table(spark, sf_dir, "documents")
    if generator == "set_jaccard_pairs":
        df = DD.set_jaccard_pairs(DD.shingle_sets(docs), parts=_PIN_PARTS)
    elif generator == "set_minhash_lsh_pairs":
        df = DD.set_minhash_lsh_pairs(DD.shingle_sets(docs), parts=_PIN_PARTS)
    else:
        df = getattr(DD, generator)(docs, parts=_PIN_PARTS)
    pinned, plan = _pinned(df)
    assert (keys, _PIN_PARTS) in pinned, plan


@pytest.mark.parametrize("generator", ["blocked_self_pairs", "embedding_near_dups_lsh"])
def test_ann_pair_expansion_keeps_width_pins(spark, sf_dir, generator):
    """The ANN pair generators are not same-key self-joins, but their
    expansions are pinned the same way: the EXECUTED plan must still
    hold user-specified hash exchanges — blocked_self_pairs at
    ``partitions`` on each side's (key, block) columns, the LSH probe
    side on _id at the conf width."""
    embs = T.load_table(spark, sf_dir, "embeddings")
    if generator == "blocked_self_pairs":
        df = ANN.blocked_self_pairs(
            embs, "label", "vec_id", shards=4, partitions=_PIN_PARTS
        )
        want = [(["label", "_a", "_b"], _PIN_PARTS), (["_key_r", "_a", "_b"], _PIN_PARTS)]
    else:
        df = ANN.embedding_near_dups_lsh(embs, threshold=0.45)
        want = [(["_id"], int(spark.conf.get("spark.sql.shuffle.partitions")))]
    pinned, plan = _pinned(df)
    for pin in want:
        assert pin in pinned, plan
