"""ANN semantics: exactness of brute force, LSH ⊆ brute-force scores,
near-dup symmetry."""

import math

import pytest
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.operators import ann as ANN
from bank_transaction_data_warehouse_spark.sources.tables import load_table


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_brute_force_topk_is_exact(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") == 0)
    out = ANN.brute_force_topk(embs, queries, k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    # verify against a NumPy-free python recompute
    vecs = {r.vec_id: r.embedding for r in embs.collect()}
    q = vecs[0]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    best = sorted(
        ((cos(q, v), vid) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    assert [vid for _, vid in best] == [r.neighbor_id for r in out]
    for (c, _), r in zip(best, out):
        assert abs(c - r.cosine) < 1e-9


def test_topk_excludes_self(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5)
    out = ANN.brute_force_topk(embs, queries, k=5).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    assert len(out) == 25


def test_lsh_topk_scores_match_brute_force(spark, sf_dir):
    """Every LSH result's cosine must equal the brute-force cosine for
    that (query, neighbor) — LSH may miss neighbors, never misscore."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5)
    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in ANN.brute_force_topk(embs, queries, k=500).collect()
    }
    for r in ANN.lsh_topk(embs, queries, k=5, n_planes=4).collect():
        assert abs(bf[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12


def test_near_dups_ordered_pairs(spark, sf_dir):
    out = ANN.embedding_near_dups(_embs(spark, sf_dir), threshold=0.45).collect()
    for r in out:
        assert r.vec_id_1 < r.vec_id_2
        assert r.cosine >= 0.45


def test_near_dups_lsh_subset_and_recall(spark, sf_dir):
    """LSH-bucketed near-dups ⊆ brute-force pairs with identical
    cosines (candidates never misscore), and Hamming<=1 multiprobe
    keeps recall usable at the demo threshold."""
    embs = _embs(spark, sf_dir)
    exact = {
        (r.vec_id_1, r.vec_id_2): r.cosine
        for r in ANN.embedding_near_dups(embs, threshold=0.45).collect()
    }
    lsh = {
        (r.vec_id_1, r.vec_id_2): r.cosine
        for r in ANN.embedding_near_dups_lsh(
            embs, threshold=0.45, n_planes=4, dim=64
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, c in lsh.items():
        assert abs(exact[pair] - c) < 1e-12
    assert exact, "demo corpus should produce pairs at 0.45"
    assert len(lsh) / len(exact) >= 0.5, (len(lsh), len(exact))


def test_near_dups_lsh_no_cartesian_plan(spark, sf_dir):
    """The exposed scale path must never plan a CartesianProduct."""
    plan = (
        ANN.embedding_near_dups_lsh(_embs(spark, sf_dir), threshold=0.45)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_score_pairs_rejects_ragged_vectors(spark):
    """The Arrow verify kernel reshapes each batch's flat buffer to
    (rows, dim): a ragged batch would pair elements of different rows
    ([1,2,3] and [4..8] scored against themselves gave 30.0 and 174.0,
    not the fold's 14.0 and 190.0).  It must raise, naming the
    lengths; a batch of one length scores as the fold does."""
    from bank_transaction_data_warehouse_spark.functions.vectors import (
        cosine_score_pairs,
    )

    def score(vecs):
        pairs = spark.createDataFrame(
            [(i, v, v, 1.0, 1.0) for i, v in enumerate(vecs)],
            "id long, va array<float>, vb array<float>, na double, nb double",
        ).coalesce(1)
        out = cosine_score_pairs(pairs, "va", "vb", "na", "nb", keep_cols=("id",))
        return sorted(tuple(r) for r in out.collect())

    assert score([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]) == [(0, 14.0), (1, 77.0)]
    with pytest.raises(Exception, match=r"have lengths \[3, 5\]"):
        score([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]])


# the queries whose pair verify routes by a vector count (the kernel
# route is reachable), and ann_recall_report, whose fixed 500-vector
# sample always verifies on the fold
KERNEL_KEYS = ["semantic_dedup", "embedding_dedup"]
FOLD_KEYS = KERNEL_KEYS + ["ann_recall_report"]


def _crosscheck():
    import importlib.util
    import pathlib

    import __spark_entry__ as E

    path = pathlib.Path(E.__file__).resolve().parent / "scripts" / "crosscheck.py"
    spec = importlib.util.spec_from_file_location("crosscheck", path)
    crosscheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(crosscheck)
    return crosscheck


def test_verify_route_pin_and_equivalence(spark, sf_dir, monkeypatch):
    """vectors.cosine_verify routes by the vector count: at sf0.01
    (500 vectors) no verify key plans a Python eval node; with the
    crossover at 0 the counted keys plan one.  Both routes give the
    same crosscheck value hash."""
    import os

    import __spark_entry__ as E
    from bank_transaction_data_warehouse_spark.functions import vectors

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    queries, table_sig = E.queries(), _crosscheck().table_sig

    def run(name):
        df = queries[name](spark, sf001)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        sig = table_sig(df.columns, [tuple(r) for r in df.collect()])
        spark.catalog.clearCache()
        return "MapInArrow" in plan, sig

    fold = {k: run(k) for k in FOLD_KEYS}
    monkeypatch.setattr(vectors, "KERNEL_MIN_VECTORS", 0)
    kernel = {k: run(k) for k in KERNEL_KEYS}
    assert {k: p for k, (p, _) in fold.items()} == {k: False for k in FOLD_KEYS}
    assert {k: p for k, (p, _) in kernel.items()} == {k: True for k in KERNEL_KEYS}
    assert {k: s for k, (_, s) in kernel.items()} == {k: fold[k][1] for k in KERNEL_KEYS}


@pytest.mark.parametrize("fn", ["lsh_topk", "embedding_near_dups_lsh"])
def test_lsh_dim_mismatch_raises(spark, fn):
    """32-dim vectors under dim=64 would null-pad in zip_with and hash
    every vector to bucket 0 (all pairs become candidates): every LSH
    path must raise instead of returning that output.  The check is a
    lazy raise_error, so it surfaces when the frame is evaluated, as a
    SparkRuntimeException or, when several stages fail at once, wrapped
    in a stage-materialization error: match the message, not the type."""
    vecs = [(i, [math.sin(i * 32 + d) for d in range(32)]) for i in range(40)]
    embs = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    args = {
        "lsh_topk": (embs, embs.where(F.col("vec_id") < 5)),
        "embedding_near_dups_lsh": (embs,),
    }[fn]
    with pytest.raises(Exception, match="dim=64 does not match vector length 32"):
        getattr(ANN, fn)(*args, dim=64).collect()


def test_ivf_topk_recall(spark, sf_dir):
    """IVF with nprobe=3/10 lists must agree with brute force on most
    of the top-5 (scores exact, recall bounded by probe coverage)."""
    from bank_transaction_data_warehouse_spark.plans.corpus import (
        ann_ivf_topk,
        ann_cosine_topk,
    )

    ivf = {(r.query_id, r.neighbor_id) for r in ann_ivf_topk(spark, sf_dir).collect()}
    bf = {(r.query_id, r.neighbor_id) for r in ann_cosine_topk(spark, sf_dir).collect()}
    assert len(ivf) == len(bf) == 50
    recall = len(ivf & bf) / len(bf)
    assert recall >= 0.5, recall


def test_ivf_scores_match_brute_force(spark, sf_dir):
    from bank_transaction_data_warehouse_spark.operators.ann import (
        brute_force_topk,
        ivf_topk,
    )
    from bank_transaction_data_warehouse_spark.plans.corpus import label_centroids
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    embs = load_table(spark, sf_dir, "embeddings")
    cents = [(r.label, r.centroid)
             for r in label_centroids(spark, sf_dir).orderBy("label").collect()]
    queries = embs.where(F.col("vec_id") < 3)
    bf = {(r.query_id, r.neighbor_id): r.cosine
          for r in brute_force_topk(embs, queries, k=500).collect()}
    for r in ivf_topk(embs, queries, cents, k=5, nprobe=3).collect():
        assert abs(bf[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12


def test_ivf_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """The 100 TB IVF story made concrete: write the corpus
    partitioned by centroid_id, read with a probe-list filter, and
    assert the scan plans PartitionFilters (only nprobe inverted
    lists are touched — the parquet layout IS the ANN index)."""
    from bank_transaction_data_warehouse_spark.plans.corpus import label_centroids

    embs = _embs(spark, sf_dir)
    cents = [(r.label, r.centroid)
             for r in label_centroids(spark, sf_dir).orderBy("label").collect()]
    out = str(tmp_path / "ivf_layout")
    ANN.ivf_assign(embs, cents).write.partitionBy("centroid_id").parquet(out)

    probed = spark.read.parquet(out).where(F.col("centroid_id").isin(1, 3))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # only the probed lists' rows come back
    assigned = ANN.ivf_assign(embs, cents)
    expect = assigned.where(F.col("centroid_id").isin(1, 3)).count()
    assert probed.count() == expect > 0


def test_blocked_self_pairs_equals_plain_join(spark):
    """The blocked decomposition must produce exactly the plain
    same-key pair set — each unordered pair exactly once — while
    spreading a pathological hot key over shard-pair blocks."""
    from pyspark.sql import functions as F2

    # one hot key (200 rows) + two normal keys
    df = spark.range(0, 260).select(
        F2.col("id").alias("vid"),
        F2.when(F2.col("id") < 200, 7)
        .when(F2.col("id") < 230, 8)
        .otherwise(9)
        .alias("bucket"),
    )
    plain = (
        df.alias("a")
        .join(df.alias("b"), F2.expr("a.bucket = b.bucket AND a.vid < b.vid"))
        .select(F2.col("a.vid").alias("id_1"), F2.col("b.vid").alias("id_2"))
    )
    blocked = ANN.blocked_self_pairs(df, "bucket", "vid", shards=4)
    p = {(r.id_1, r.id_2) for r in plain.collect()}
    b = [(r.id_1, r.id_2) for r in blocked.collect()]
    assert len(b) == len(set(b)), "a pair was produced by more than one block"
    assert set(b) == p


def test_ivf_kmeans_topk_recall(spark, sf_dir):
    """IVF over the kmeans-TRAINED codebook (train -> index -> search
    composition) must reach the same recall bar as the label-centroid
    quantizer against brute force."""
    from bank_transaction_data_warehouse_spark.plans.corpus import (
        ann_cosine_topk,
        ann_ivf_kmeans_topk,
    )

    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_kmeans_topk(spark, sf_dir).collect()
    }
    bf = {
        (r.query_id, r.neighbor_id) for r in ann_cosine_topk(spark, sf_dir).collect()
    }
    assert len(ivf) == len(bf) == 50
    recall = len(ivf & bf) / len(bf)
    assert recall >= 0.5, recall


def test_blocked_self_pairs_payload_carry(spark):
    """payload_cols output: same unordered pair set as the id-only
    path (after normalization), with each pair's payloads matching its
    ids — in whichever orientation the block emitted."""
    from pyspark.sql import functions as F

    from bank_transaction_data_warehouse_spark.operators.ann import (
        blocked_self_pairs,
    )

    df = spark.createDataFrame(
        [(i, i % 3, float(i) * 10) for i in range(40)], "id long, k int, p double"
    )
    plain = {
        (r.id_1, r.id_2)
        for r in blocked_self_pairs(df, "k", "id", shards=4).collect()
    }
    rows = blocked_self_pairs(
        df, "k", "id", shards=4, payload_cols=("p",)
    ).collect()
    carried = {(min(r.id_1, r.id_2), max(r.id_1, r.id_2)) for r in rows}
    assert carried == plain and len(rows) == len(plain)  # exactly once
    for r in rows:
        assert r.p_1 == r.id_1 * 10.0 and r.p_2 == r.id_2 * 10.0


def test_ann_pq_topk_structure_and_adc_exactness(spark, sf_dir):
    """PQ/ADC contract: every query gets exactly topk ranked
    neighbors, ranks are 1..topk with non-decreasing approx distance,
    self is excluded, and the ADC total is integer-exact (bigint)."""
    from bank_transaction_data_warehouse_spark.plans.corpus import (
        _PQ_TOPK,
        ann_pq_topk,
    )

    rows = ann_pq_topk(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 10
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, _PQ_TOPK + 1))
        dists = [r["approx_dist_micros"] for r in rs]
        assert dists == sorted(dists)
        assert all(isinstance(d, int) and d >= 0 for d in dists)
        assert all(r["vec_id"] != qid for r in rs)


def test_ann_ivf_pq_scores_match_full_pq(spark, sf_dir):
    """IVFADC contract: pruning changes the CANDIDATE SET only, never
    the score — every returned pair's ADC distance equals the full-PQ
    scan's distance for that pair; ranks are contiguous from 1 with
    non-decreasing distance; self excluded."""
    from bank_transaction_data_warehouse_spark.plans.corpus import (
        _PQ_TOPK,
        ann_ivf_pq_topk,
        ann_pq_topk,
    )

    full = {
        (r["query_id"], r["vec_id"]): r["approx_dist_micros"]
        for r in ann_pq_topk(spark, sf_dir, topk=10**6).collect()
    }
    rows = ann_ivf_pq_topk(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["vec_id"] != r["query_id"]
        assert full[(r["query_id"], r["vec_id"])] == r["approx_dist_micros"]
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _PQ_TOPK
        dists = [r["approx_dist_micros"] for r in rs]
        assert dists == sorted(dists)


def test_ann_pq_recall_report_consistent_with_topk(spark, sf_dir):
    """The recall gauge must agree with its own inputs: n_hits equals
    the actual overlap between the PQ top-k and an exact L2 top-k
    recomputed here, and recall_at_k == n_hits / k."""
    from bank_transaction_data_warehouse_spark.plans.corpus import (
        _PQ_TOPK,
        ann_pq_recall_report,
        ann_pq_topk,
    )

    rows = ann_pq_recall_report(spark, sf_dir).collect()
    assert len(rows) == 10
    pq = {}
    for r in ann_pq_topk(spark, sf_dir).collect():
        pq.setdefault(r["query_id"], set()).add(r["vec_id"])

    embs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    }
    for r in rows:
        qid = r["query_id"]
        q = embs[qid]
        dm = sorted(
            (
                round(sum((a - b) * (a - b) for a, b in zip(q, v)) * 1e6),
                vid,
            )
            for vid, v in embs.items()
            if vid != qid
        )
        exact = {vid for _, vid in dm[:_PQ_TOPK]}
        assert r["n_hits"] == len(exact & pq[qid])
        assert r["recall_at_k"] == r["n_hits"] / _PQ_TOPK
        assert 0 <= r["n_hits"] <= _PQ_TOPK
