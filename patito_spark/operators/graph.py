"""Graph utilities for dedup pipelines: connected components.

Near-dup pair lists (MinHash/SimHash/embedding verifiers) must be grouped
into clusters before choosing a canonical representative. This is min-label
propagation — the standard distributed connected-components loop (cf.
"large-star/small-star", Kiveris et al. 2014): every node repeatedly adopts
the smallest label among itself and its neighbors until fixpoint, which
takes O(graph diameter) rounds. Each round is one join + one hash aggregate;
lineage is cut with localCheckpoint so plans don't grow unboundedly.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F


def _driver_union_find(rows) -> tuple[list, list]:
    """Exact min-label components of a small edge list, driver-side.

    Path-compressed union-find; the component label is the minimum node
    id of each set (identical semantics to the distributed loop,
    independent of union order).

    Returns two parallel column lists ``(nodes, components)`` rather
    than row tuples — the caller hands them to Arrow as two columns, so
    no per-row tuple objects are ever built (at the 1M-edge probe
    default that avoids up to ~2M 64-byte tuples on top of the dicts).
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in rows:
        for v in (src, dst):
            if v not in parent:
                parent[v] = v
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    nodes = list(parent)
    return nodes, [comp_min[find(v)] for v in nodes]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Assign each node the minimum id reachable from it.

    Adaptive strategy: near-dup edge lists are tiny relative to the
    corpus that produced them (LSH already pruned the n² space), so when
    the edge count is ≤ ``driver_threshold`` the components are solved
    exactly with driver-side union-find in one pass instead of O(log d)
    distributed join rounds (~3 jobs per round). Larger graphs take the
    distributed min-label + pointer-jumping loop. Both paths produce
    identical labels. Set ``driver_threshold=0`` to force the
    distributed loop.

    The probe is count-gated: the edge list is persisted, COUNTED
    (cheap on the cached two-int64-column frame — no data leaves the
    executors), and only then collected via Arrow when the count fits.
    An oversized graph therefore pays zero row transfer before the
    distributed fallback — previously it shipped ``driver_threshold + 1``
    rows just to discover it must fall back. When collected, the edges
    arrive as a pandas frame (two int64 columns — ~16 MB at the 1M
    default), NOT as Python ``Row`` objects. The union-find itself is
    the driver-memory ceiling: its parent/label dicts hold one Python
    int per distinct node — up to ~2M entries at the 1M-edge default,
    realistically low hundreds of MB transiently with dict + boxed-int
    overhead — and the result goes back to Spark as two column lists
    through Arrow (no per-row tuples). Size ``driver_threshold``
    against driver memory accordingly: the configured 16 GiB driver has
    ~50× headroom at the default; a 4 GiB driver should drop it to
    ~250k.

    Args:
        pairs: undirected edge list (one row per pair).
        max_iterations: safety bound; propagation stops early at fixpoint.
        driver_threshold: max edges solved driver-side.

    Returns:
        ``node, component`` — component is the min node id of the cluster.
    """
    # The edge list unions with its own swap — persist the input so the
    # (possibly expensive) pair-producing pipeline runs once, not twice,
    # inside the checkpoint materialization.
    base = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).persist()

    if driver_threshold > 0:
        # Count first (no row transfer), collect only when it fits.
        # Arrow path: ~10× lighter on the driver than collect() (two
        # int64 numpy columns vs a list of Python Row objects).
        if base.count() <= driver_threshold:
            import pandas as pd

            head = base.toPandas()
            nodes, comps = _driver_union_find(
                zip(head["src"].tolist(), head["dst"].tolist())
            )
            spark = pairs.sparkSession
            schema = (
                "node "
                + pairs.schema[id_a].dataType.simpleString()
                + ", component "
                + pairs.schema[id_b].dataType.simpleString()
            )
            base.unpersist()
            # pandas + Arrow path: two columns, zero row tuples.
            return spark.createDataFrame(
                pd.DataFrame({"node": nodes, "component": comps}), schema
            )
        # over threshold: fall through to the distributed loop (the
        # persisted base is reused below, so the probe isn't wasted work)

    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    base.unpersist()  # checkpoint materialized; the base is no longer needed

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    changed: int | None = None  # None = loop never ran (max_iterations <= 0)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                F.col("node"),
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
        )
        # Pointer jumping: additionally adopt the label of the current label
        # (labels are node ids, so self-join on component == node). Halves the
        # remaining distance to the cluster minimum each round, so chains
        # converge in O(log diameter) rounds instead of O(diameter).
        # Checkpointed first: it feeds both sides of the self-join below and
        # would otherwise be recomputed (join + agg) twice per iteration.
        stepped = stepped.localCheckpoint(eager=True)
        parents = stepped.select(
            F.col("node").alias("__p_node"), F.col("component").alias("__p_comp")
        )
        jumped = (
            stepped.join(parents, stepped.component == parents.__p_node, "left")
            .select(
                F.col("node"),
                F.col("__old"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__p_comp"), F.col("component")),
                ).alias("component"),
            )
        )
        updated = jumped.localCheckpoint(eager=True)
        changed = updated.agg(
            F.count(F.when(F.col("component") < F.col("__old"), 1)).alias("n")
        ).first()["n"]
        labels = updated.drop("__old")
        if changed == 0:
            break
    else:
        still_changing = (
            "loop never ran" if changed is None else f"{changed} labels still changing"
        )
        warnings.warn(
            f"connected_components did not converge within {max_iterations} "
            f"iterations ({still_changing}); returned "
            "components may be split. Increase max_iterations.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels

