"""Connected components over near-duplicate pair edges → dedup
clusters.  Pairwise dedup (ngram_jaccard / minhash_lsh / simhash)
yields EDGES; a training pipeline needs GROUPS (keep one doc per
component).

Algorithm: min-label propagation with Shiloach–Vishkin style hooking
and pointer jumping, one Spark action per round.  Every node starts
with the min id of its closed neighbourhood.  Round 1 diffuses labels
one hop.  Each later round (there is one only if the previous round
changed a label) also hooks (the node a label names takes the min
label its pointers heard) and jumps (a node takes its label's label),
so a long path converges in O(log n) rounds: 14 for a shuffled
1,000-node path, 19-21 at 10,000 in a Python model of the rounds.

The round's count of changed labels is a ``pyspark.sql.Observation``
on the frame ``localCheckpoint(eager=True)`` materializes, so a round
is that one action; the old label rides along the round's
``groupBy("node")``.  A graph whose labels are final after the initial
min (near-cliques, disjoint pairs: every graph corpus_curation builds)
costs exactly one action.  Alternating large-star/small-star
contraction (Kiveris et al., SoCC 2014) needs at least 4 actions for
such graphs, so it is not used.  No graph data ever reaches the
driver; lineage is cut every round; past ``max_iter`` it raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "doc_id_1",
    dst: str = "doc_id_2",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    min node id reachable.  Converges in O(log n) rounds; a graph that
    does not within ``max_iter`` rounds RAISES instead of silently
    returning partial labels."""
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
        # the edge list once, iterate over the materialization.  Kept
        # after the call: a rebuild of the same plan in the session
        # reuses it (bench.py's warm builds).
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
    for rnd in range(max_iter):
        labels, changed = _round(edges, labels, hook=rnd > 0)
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (diameter of the near-dup graph exceeds it)"
    )


def _round(edges: DataFrame, labels: DataFrame, hook: bool):
    """One round in one action: the new (node, comp) frame,
    checkpointed (truncating lineage, else every round re-plans all
    earlier ones), and its observed count of changed labels.  ``prev``
    is the node's old label: only its own row carries it, so
    min("prev") passes it through.  Spark plans the label lookups."""

    def label(key: str, alias: str):
        return labels.alias(alias), F.col(key) == F.col(f"{alias}.node")

    own = labels.select("node", "comp", F.col("comp").alias("prev"))
    heard = edges.join(*label("b", "lb"))  # edge (a, b) with label(b)
    cands = [own, heard.select(F.col("a").alias("node"), F.col("lb.comp").alias("comp"))]
    if hook:
        # hook: the node label(a) names takes label(b); jump: a node
        # takes its label's label
        cands += [
            heard.join(*label("a", "la")).select(
                F.col("la.comp").alias("node"), F.col("lb.comp").alias("comp")
            ),
            labels.alias("l").join(*label("l.comp", "up")).select(
                F.col("l.node").alias("node"), F.col("up.comp").alias("comp")
            ),
        ]
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c, allowMissingColumns=True)
    obs = Observation()
    new = (
        cand.groupBy("node")
        .agg(F.min("comp").alias("comp"), F.min("prev").alias("prev"))
        .observe(
            obs,
            F.count_if(F.col("comp") != F.col("prev")).alias("changed"),
        )
        .select("node", "comp")
        .localCheckpoint(eager=True)
    )
    return new, obs.get["changed"]


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster summary: canonical (min) doc per component + size."""
    comp = connected_components(pairs)
    return comp.groupBy("comp").agg(
        F.min("node").cast("bigint").alias("canonical_doc_id"),
        F.count("*").cast("bigint").alias("cluster_size"),
        F.sort_array(F.collect_list("node")).alias("members"),
    ).select("canonical_doc_id", "cluster_size", "members")
