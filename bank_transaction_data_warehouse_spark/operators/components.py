"""Connected components over near-duplicate pair edges → dedup
clusters.  Pairwise dedup (ngram_jaccard / minhash_lsh / simhash)
yields EDGES; a training pipeline needs GROUPS (keep one doc per
component).

Algorithm: iterative min-label propagation — one-hop undirected label
diffusion.  Each round is one groupBy-shuffle on node id, and a label
travels one hop per round, so rounds needed = O(diameter): dedup
graphs are near-cliques (2-3 rounds in practice), but a 60-node path
exceeds the default max_iter=50 and raises.  Alternating
large-star/small-star contraction (Kiveris et al., SoCC 2014) needs
O(log^2 n) rounds, about log n in practice, and is the open fix.  The driver loop only checks a
convergence count per round — no graph data ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "doc_id_1",
    dst: str = "doc_id_2",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    min node id reachable.  One-hop diffusion needs O(diameter)
    rounds; dedup graphs are near-cliques (2-3 rounds), but a long
    revision chain can exceed the cap — in that case this RAISES
    instead of silently returning partial labels."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # persisted: edges is consumed by the initial label build AND
        # once per propagation round — without this every round
        # re-executes the ENTIRE upstream pair pipeline (for semantic
        # dedup: kmeans assignment + blocked join + cosine kernel),
        # multiplying the pair cost by the round count.  Measured at
        # sf0.1 (semantic_dedup_clusters): build 6.9 s → see
        # ENGINEERING_NOTES.  The 100 TB shape is the same: materialize
        # the edge list once, iterate over the materialization.
        .persist()
    )
    # label(node) starts as min(node, min neighbor)
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("_mn"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("_mn")).alias("comp"),
        )
    )
    converged = False
    for _ in range(max_iter):
        # propagate: new label = min over neighbors' labels and own.
        # localCheckpoint truncates lineage — labels is referenced 3x
        # per round, so without it round N re-executes all prior
        # rounds repeatedly (exponential plan growth).
        neigh = (
            edges.join(labels, edges.b == labels.node)
            .select(F.col("a").alias("node"), "comp")
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (diameter of the near-dup graph exceeds it)"
        )
    return labels


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster summary: canonical (min) doc per component + size."""
    comp = connected_components(pairs)
    return comp.groupBy("comp").agg(
        F.min("node").cast("bigint").alias("canonical_doc_id"),
        F.count("*").cast("bigint").alias("cluster_size"),
        F.sort_array(F.collect_list("node")).alias("members"),
    ).select("canonical_doc_id", "cluster_size", "members")
