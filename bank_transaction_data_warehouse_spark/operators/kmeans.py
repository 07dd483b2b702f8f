"""Distributed Lloyd k-means over an embedding column.

The missing piece between ``label_centroids`` (supervised centroids)
and ``ann_ivf_topk`` (a fixed coarse quantizer): actually TRAINING the
quantizer, the way IVF codebooks are built for billion-vector ANN.

Scale design (the reference has nothing like this; the shape follows
standard distributed k-means as in Spark MLlib's public API, rebuilt
here on plain DataFrame ops so the driver oracle can replay it):

- Centroids are MODEL PARAMETERS, not data: each iteration collects at
  most ``k`` rows (k x dim doubles) — the same footprint argument as
  the IVF coarse quantizer in plans/corpus.py.  Everything data-sized
  stays distributed.
- Assignment is a pure projection: the k centroids are baked in as
  plan literals, so there is no join, no broadcast round-trip, and the
  argmin runs inside whole-stage codegen.  Cost per row: k * dim fused
  multiply-adds.
- The update step is one combiner-friendly shuffle keyed by
  (cid, dim) — partial sums combine map-side, reduced rows number
  k * dim regardless of corpus size.
- Per-dim means are micro-rounded (round(mean * 1e6) / 1e6) before the
  next iteration, so a DuckDB oracle replaying the same schedule sees
  bit-identical centroid literals each round and the whole bounded-
  iteration run is cross-engine deterministic (same containment trick
  as plans/corpus.label_centroids).

Determinism contract: init = the k vectors with the smallest ids;
distance = squared L2 micro-rounded to int64
(functions/vectors.sq_dist_micros_sql); ties broken by smallest cid.
All three rules are cheap to mirror in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.functions.vectors import (
    MICROS,
    nearest_l2_sql,
)


def assign_clusters(
    embs: DataFrame, centroids: dict[int, list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Append ``cid``: argmin of squared L2 over literal centroids,
    ties to the smallest cid — one parsed SQL expression
    (functions/vectors.nearest_l2_sql).  A stateless zero-shuffle
    projection, so it routes a live embedding stream unchanged (train
    offline, serve online)."""
    if not centroids:
        raise ValueError("assign_clusters needs at least one centroid")
    return embs.withColumn(
        "cid", F.expr(nearest_l2_sql(vec_col, sorted(centroids.items())))
    )


def mean_stats(assigned: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(cid, dim, mean_v, n): micro-rounded per-dimension means of each
    cluster.  posexplode -> (cid, dim) partial sums; one shuffle whose
    reduced side is k * dim rows at any corpus size."""
    return (
        assigned.select("cid", F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(
            F.sum(F.col("v").cast("double")).alias("s"),
            F.count("*").alias("n"),
        )
        .withColumn(
            "mean_v", F.round(F.col("s") / F.col("n") * MICROS) / float(MICROS)
        )
    )


def collect_centroids(stats: DataFrame) -> dict[int, list[float]]:
    """k-row collect of the updated codebook (model, not data)."""
    rows = (
        stats.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("dim").cast("int").alias("dim"), "mean_v")
                    )
                ),
                lambda x: x["mean_v"],
            ).alias("c")
        )
        .collect()
    )
    return {int(r["cid"]): [float(x) for x in r["c"]] for r in rows}


def kmeans_fit(
    embs: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Bounded-iteration Lloyd: returns (last assignment DataFrame,
    centroids that produced it).  Clusters emptied by an update simply
    drop out of the codebook (standard Lloyd behavior; the oracle's
    group-by mirrors it).  Init: the k smallest-id vectors
    (TakeOrdered — no global sort materialization), cid = seed id.
    The training collects (seed + one per update round) run at
    PLAN-BUILD time; callers over immutable inputs memoize the
    centroids with ``session.build_stat``."""
    if k <= 0 or iters <= 0:
        raise ValueError(f"k={k} and iters={iters} must be positive")
    seed_rows = embs.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    cents = {int(r[id_col]): [float(x) for x in r[vec_col]] for r in seed_rows}
    if not cents:  # empty input: empty assignment, empty codebook
        return embs.withColumn("cid", F.lit(0)).where(F.lit(False)), {}
    assigned = None
    for it in range(iters):
        assigned = assign_clusters(embs, cents, vec_col=vec_col)
        if it < iters - 1:
            cents = collect_centroids(mean_stats(assigned, vec_col=vec_col))
    return assigned, cents
