"""Connected components over a pair graph: duplicate-cluster assignment.

The near-dup operators (jaccard / MinHash-LSH / SimHash / embedding LSH)
emit PAIRS; a curation pipeline needs CLUSTERS — every document labeled
with a canonical representative so that "keep one per cluster" is a single
filter. This is the transitive-closure step the reference's dedup stories
stop short of (reference analog: none — the dbt models dedup by exact key
only, e.g. `dbt_nhl/models/silver/dim_team.sql:21`).

Algorithm: iterative min-label propagation (the hash-to-min scheme of
Rastogi et al., "Finding Connected Components in Map-Reduce in Logarithmic
Rounds" / the simpler variant used by GraphFrames' Pregel CC). Every node
starts labeled with its own id; each round every node takes the min of its
label and its neighbors' labels; converged when no label changes. Rounds
needed = graph diameter — near-dup clusters are dense and shallow (a dup
cluster's diameter is almost always ≤ 3), so 3-5 rounds in practice.

Scale posture (100 TB):
- each round is one shuffle-join (edges ⋈ labels on node) + one min-agg —
  both partition on the node id, so AQE reuses the exchange where it can;
- state per round is (node, label) longs — 16 bytes/node, never the docs;
- lineage is truncated with localCheckpoint every round, otherwise the
  iterative plan re-grows (and re-codegens) linearly in rounds.

Topology limit: rounds grow with diameter, so long chains (web graphs,
citation chains) need one round per hop and hit ``max_rounds``. Near-dup
pair graphs are hub-shaped and shallow, the regime where label
propagation wins, and a 100K-degree hub does not hurt it (the min-agg
combines map-side; no hot reducer). Measured on a 50%-of-200K-nodes hub
(1 round) and on chains of diameter 32 (32 rounds) and 4096 (no
convergence inside a 12-round cap): BENCH_probes.json::cc_skew_probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    the minimum node id reachable from it. Deterministic for any input.

    Driver-side convergence loop — legitimate here: each round is a fully
    distributed join+agg and only a single changed-row COUNT comes back to
    the driver. Raises if ``max_rounds`` is hit without convergence (a
    silent partial closure would mislabel clusters).
    """
    # Symmetrize once; self-loops are harmless but add work — drop them.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col(src) != F.col(dst)
    )
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.distinct().localCheckpoint(eager=True)

    # Round 0: label(n) = min(n, min neighbor) — one agg, no join.
    labels = (
        e.groupBy("a")
        .agg(F.min("b").alias("nbr_min"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("nbr_min")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )

    for _ in range(max_rounds):
        # label'(n) = min(label(n), min over neighbors m of label(m))
        nbr = (
            e.join(labels, e.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "raise max_rounds for this graph's diameter"
    )


def duplicate_clusters(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_keeper) for every doc in a
    near-dup pair: cluster_id = min doc id in its component (the canonical
    keeper), is_keeper marks the one row per cluster to retain.

    Compose after any pair-producing dedup operator; "drop all non-keepers"
    is then ``filter(~is_keeper)`` semi-joined against the corpus.
    """
    cc = connected_components(pairs, src=id_a, dst=id_b)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    # No broadcast hint: at scale the sizes side is one row per CLUSTER and
    # can be arbitrarily large; both sides are already keyed on component,
    # so AQE picks broadcast only when sizes is actually small.
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_keeper"),
        )
    )

