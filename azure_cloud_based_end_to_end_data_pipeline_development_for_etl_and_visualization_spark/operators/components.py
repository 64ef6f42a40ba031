"""Connected components via label propagation — dedup clustering.

Near-dup detection (MinHash/LSH, embedding thresholds) emits PAIRS; a
curation pipeline needs CLUSTERS (keep one representative per group of
mutual near-duplicates). Pairs→clusters is connected components — the
canonical "iterative algorithm" the catalog's one non-SQL-expressible
batch entry exercises.

Algorithm: every node starts labeled with its own id; each iteration
every node takes the MIN label over itself and its neighbors; stop when
no label changes (or ``max_iter``). Converges in O(diameter) iterations —
near-dup graphs are unions of small cliques, so 2–4 iterations in
practice.

Scale shape per iteration: one join (labels ⋈ edges, shuffle on node id)
+ one min-aggregate. Labels are ``(node, long)`` pairs — the iterated
state is narrow no matter how wide the documents are. Each iteration's
result is cached and the previous uncached to keep the lineage bounded
(iterative DataFrame loops otherwise grow an unexecutable plan tree).
Driver sees only the one-row convergence check per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Return ``(node, component)`` where ``component`` is the minimum
    node id reachable from ``node`` over the undirected edge set."""
    # cache the symmetric edge set: it is re-joined EVERY iteration, and
    # upstream `edges` is typically an expensive near-dup pair pipeline
    # (MinHash->LSH->Jaccard) that must not be recomputed per iteration.
    # Both directions come from ONE explode over a single scan — the
    # union-of-two-selects form re-ran the whole pair pipeline once per
    # branch while the cache filled (no exchange sits at the pipeline
    # top, so nothing is reused across the union's branches; measured
    # 3.74 s -> 3.09 s on the cluster-size query at sf0.1)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("__e")
        )
        .select("__e.u", "__e.v")
        .cache()
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("component")).cache()
    labels.count()  # materialize (also materializes sym)

    # typed NULL for the neighbor rows' __old slot (node ids may be any
    # numeric type; when(false, col) yields a NULL of component's type)
    null_component = F.when(F.lit(False), F.col("component"))
    cached = labels  # the frame currently holding the cache entry
    for _ in range(max_iter):
        # candidate labels: own component + every neighbor's component.
        # The own row also carries its CURRENT component in __old, so
        # convergence detection rides the same aggregation — the
        # per-iteration "join new labels back to old labels" shuffle
        # the original formulation paid for the changed-check is gone
        # (exactly one own row per node, so max(__old) is the old label;
        # min labels only decrease, so changed == new < old).
        neighbor_labels = (
            sym.join(labels, sym.v == labels.node)
            .select(
                F.col("u").alias("node"),
                "component",
                null_component.alias("__old"),
            )
        )
        merged = (
            labels.select(
                "node", "component", F.col("component").alias("__old")
            )
            .unionByName(neighbor_labels)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("__old").alias("__old"),
            )
            .cache()
        )
        changed = (
            merged.filter(F.col("component") != F.col("__old"))
            .limit(1)
            .count()
        )
        cached.unpersist()
        cached = merged
        labels = merged.select("node", "component")
        if changed == 0:
            break
    sym.unpersist()
    # hand the caller a localCheckpoint instead of the live cache entry
    # (r15, ADVICE): the final merged frame used to stay persisted for
    # the session lifetime — one leaked InMemoryRelation per call. The
    # checkpoint copies the (node, component) pairs out of the cache in
    # one narrow job (the frame is already materialized by the last
    # convergence count), truncates the iterative lineage, and lets the
    # cache entry drop here. A local checkpoint lives in executor block
    # storage with no lineage behind it: losing an executor loses the
    # labels it held, and a later read of them fails instead of
    # recomputing.
    labels = labels.localCheckpoint(eager=True)
    cached.unpersist()
    return labels


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Cluster near-dup ``pairs`` and assign every document its cluster
    representative (min id; singletons represent themselves). Keeping
    ``cluster_rep == id`` rows implements cluster-level dedup."""
    comps = connected_components(pairs, src, dst)
    return (
        all_ids.select(F.col(id_col))
        .join(comps, all_ids[id_col] == comps.node, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_rep"),
        )
    )
