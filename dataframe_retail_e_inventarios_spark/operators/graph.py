"""Connected components over near-duplicate pair graphs
[SURVEY §2.11 N1/N2 extension — "which doc do we keep"].

Pair lists (from MinHash-LSH / SimHash / embedding near-dup) are only
half of corpus dedup: the pipeline must then group pairs into clusters
and keep one representative per cluster. That grouping is connected
components, computed here as iterative min-label propagation expressed
in DataFrame joins.

Scale posture: each iteration is one shuffle (labels join edges,
min-aggregate) over data the size of the EDGE LIST — tiny relative to
the corpus, because near-dup edges are sparse after LSH. Iterations
needed = graph diameter; near-dup clusters are dense blobs (diameter
2-3 in practice), and a hard cap guards against adversarial chains. A
trillion-edge deployment would switch to the large-star/small-star
contraction algorithm (O(log n) rounds); the per-round dataflow —
join, min, compare — is identical to this one.

The per-round convergence probe (`isEmpty` on the changed-label set)
is a deliberate exception to the no-driver-actions rule: iterative
fixpoints are the one operator class where the driver must observe a
scalar per round (same structure as GraphX/Pregel halting).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    stats: dict | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """(node, cluster_id) with cluster_id = min node id reachable in the
    undirected graph given by the ``(id_a, id_b)`` rows of ``pairs``.
    Nodes not in any pair are not emitted (singletons are their own
    cluster by definition).

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iterations`` — a silent cap exit would hand back wrong
    cluster ids. Pass ``stats={}`` to observe ``stats["iterations"]``
    (propagation rounds actually run ≈ graph min-label diameter).

    ``assume_distinct=True`` skips the edge-dedup shuffle: correct for
    any caller whose pair generator emits each undirected pair once
    (blocked levenshtein: one block per record; LSH first-match-band:
    one band per pair) — min-aggregation is idempotent under
    duplicate edges, so even a violated promise costs join volume,
    never correctness. On a 3M-edge graph the skipped distinct() is a
    full 2x-edge-list shuffle (measured on entity_clusters_fuzzy).

    The symmetrized edge union reads ``pairs`` twice, so the pair
    generator's subtree runs twice before the edge checkpoint. A caller
    whose pair list is small next to its generator checkpoints
    ``pairs`` itself (queries_curation._neardup_components); one whose
    pair list is large does not (entity_clusters_fuzzy)."""
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).union(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    if not assume_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    # label(v) starts at min(v, min neighbor) and contracts monotonically.
    labels = edges.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("label"))
    labels = labels.select(F.col("u").alias("node"), "label").localCheckpoint(eager=True)

    converged = False
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # Propagate: candidate label for v = min over neighbors u of
        # label(u); new label = min(current, candidate).
        cand = (
            edges.join(labels, edges["u"] == labels["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("label").alias("cand"))
        )
        new_labels = (
            labels.join(cand, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("cand", F.col("label"))).alias(
                    "label"
                ),
                (F.col("cand") < F.col("label")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_changed")).limit(1)
        labels = new_labels.drop("_changed")
        if changed.isEmpty():
            converged = True
            break
    if stats is not None:
        stats["iterations"] = rounds
        stats["converged"] = converged
    if not converged:
        # A component whose min-label distance exceeds the cap would
        # otherwise return silently-wrong cluster ids. Fail loudly: the
        # caller either raises max_iterations (diameter is a data
        # property) or switches to large-star/small-star contraction.
        raise RuntimeError(
            "connected_components: min-label propagation did not reach "
            f"fixpoint within max_iterations={max_iterations}; graph "
            "diameter exceeds the cap — raise max_iterations or use "
            "star-contraction for long-chain graphs"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_keep_first(docs: DataFrame, components: DataFrame) -> DataFrame:
    """Corpus minus near-duplicates: every doc keeps its row unless it
    belongs to a cluster and is not the cluster's min-id representative."""
    drop = components.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti")
