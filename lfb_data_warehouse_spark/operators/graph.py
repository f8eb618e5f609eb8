"""Connected components — dedup-cluster assignment over near-dup pairs.

A dedup pipeline's pair finders (MinHash/SimHash/embedding LSH) emit
EDGES (doc_a, doc_b); keeping one survivor per *cluster* needs the
transitive closure — the classic union-find step, here as iterative
min-label propagation expressed in DataFrame joins:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until fixpoint. Each round is one join + one aggregate (both
plain shuffles on the node key); the number of rounds is bounded by the
graph diameter — for near-dup clusters that is tiny (dup clusters are
dense, diameters of 2-4), and the loop exits as soon as a round changes
nothing. The driver-side loop only inspects a scalar per round (the
changed-count), never the data.

At 100 TB scale: this is the standard "hash-to-min" formulation
(Rastogi et al., "Finding Connected Components in Map-Reduce in
Logarithmic Rounds") restricted to min-propagation; checkpoint labels
every few rounds to truncate lineage (``checkpoint_every``).

Size gate: every shuffle round costs a few sequential Spark jobs
whatever the graph's size, and near-dup graphs are often tiny (the
registry's dedup rows label 1 edge at sf0.01 and 7 at sf0.1). So
:func:`connected_components_star` picks its execution path from the
edge count it takes anyway: at most ``_DRIVER_EDGES`` distinct edges
are collected once and labeled by a union-find on the driver; larger
graphs run the star rounds, so the driver never holds more than the
cap (about 360 MB of Python objects for 10^6 edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# connected_components_star labels graphs of at most this many distinct
# edges on the driver (_driver_components) instead of in star rounds
_DRIVER_EDGES = 1 << 20


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Assign each node the minimum node id reachable from it.

    ``edges`` is an undirected edge list (each pair once is enough).
    Returns ``(node, component)`` — component = min id in the cluster;
    singleton nodes that never appear in an edge are absent (callers
    left-join and coalesce to the node's own id).
    """
    sym = edges.selectExpr(f"{src} AS a", f"{dst} AS b").union(
        edges.selectExpr(f"{dst} AS a", f"{src} AS b")
    )
    sym = sym.filter(F.col("a") != F.col("b")).distinct().persist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    pinned = labels  # the persisted frame backing `labels`, for unpersist
    for i in range(max_iter):
        # candidate labels from neighbors: neighbor's current component
        neighbor_min = (
            sym.join(labels.withColumnRenamed("node", "b"), on="b")
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
            .withColumnRenamed("a", "node")
        )
        # the frame computing the new label already holds the OLD label,
        # so the changed-count reads it off the same persisted frame —
        # re-joining new_labels against labels to recover a column this
        # join just dropped was one whole extra shuffle join per round
        stepped = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__changed"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # truncate the join-loop lineage (executor-side, no driver
            # collect). eager=False (r15): the changed-count below is
            # the materializing action either way, so the dedicated
            # checkpoint job was one whole extra pass per checkpoint
            # round; lazy blocks land during the count and the next
            # round reads them identically.
            stepped = stepped.localCheckpoint(eager=False)
        else:
            stepped = stepped.persist()
        changed = stepped.filter(F.col("__changed")).count()
        pinned.unpersist()
        pinned = stepped
        labels = stepped.select("node", "component")
        if changed == 0:
            break
    else:
        sym.unpersist()
        pinned.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter) — labels would be silently "
            "wrong; raise max_iter"
        )
    sym.unpersist()
    # hand back a lineage-truncated frame and release the loop's pinned
    # cache: localCheckpoint blocks are GC-managed (ContextCleaner),
    # persist() blocks would stay pinned until the caller unpersists
    out = labels.localCheckpoint(eager=True)
    pinned.unpersist()
    return out


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Fold a NEW batch of near-dup edges into an existing component
    labeling without re-deriving pairs over the full corpus — the
    incremental-dedup step a daily 100 TB ingest needs (pair finders
    run new×new and new×old only; this merges their edges with
    yesterday's labels).

    The old ``(node, component)`` labeling IS an edge set (each node —
    its component representative), so the union of labels-as-edges and
    the new edges fed to :func:`connected_components_star` yields the
    labeling of the merged graph over |new edges| + |old nodes| rows
    (on the driver below its size cap, in O(log n) rounds above it) —
    never the original pair graph. Representatives
    stay stable unless a new edge actually bridges clusters (min id
    wins, as in the full recompute — equality with the from-scratch
    labeling is the unit-test contract)."""
    as_edges = labels.selectExpr(f"node AS {src}", f"component AS {dst}")
    merged = as_edges.unionByName(
        new_edges.selectExpr(f"{src} AS {src}", f"{dst} AS {dst}")
    )
    return connected_components_star(merged, src=src, dst=dst, max_iter=max_iter)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-LARGER
    neighbors to the minimum of its closed neighborhood."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    # NO distinct here (r14): the only consumer is _small_star, whose
    # per-u min is duplicate-insensitive and whose own output IS
    # distinct'd — so deduping large-star's output paid a full (u, v)
    # shuffle per round for a set the next operator re-derives anyway.
    # The join cannot expand rows (one output row per sym row with
    # v > u), so the multiset stays bounded by |sym|.
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small, then every node
    connects its (all-smaller) neighbors — and itself — to the
    neighborhood minimum."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _driver_components(e: DataFrame) -> DataFrame:
    """Label a small distinct ``(u, v)`` edge set on the driver: ONE
    collect, union-find linking the larger root under the smaller (so
    every root IS its component's min id) with path compression, and
    the labels handed back through ``createDataFrame`` in the schema
    the star rounds return (so the id type is preserved)."""
    edges = e.collect()
    parent: dict = {}

    def find(x):
        root = x
        while (up := parent.setdefault(root, root)) != root:
            root = up
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    del edges  # free the collected rows before the label list is built
    schema = e.select(F.col("u").alias("node"), F.col("v").alias("component")).schema
    out = e.sparkSession.createDataFrame([(n, find(n)) for n in parent], schema)
    e.unpersist()
    return out


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — converges
    in O(log n) rounds regardless of component DIAMETER, unlike
    :func:`connected_components`'s min-label propagation (O(diameter)
    rounds: fine for dense dup clusters, pathological on a 100 TB
    chain-shaped cluster).

    Same contract as :func:`connected_components`: returns
    ``(node, component)`` with component = min id in the cluster;
    edge-less singletons absent. Fixpoint = the edge set is a star per
    component (every node points at its component min), detected by
    exact set comparison (count + one-sided subtract, two scalar jobs
    per round — never the data).

    Size gate: a graph of at most ``_DRIVER_EDGES`` distinct edges
    skips the rounds and is labeled by :func:`_driver_components`
    (the edge count plus one collect, instead of 2-3 jobs per round).
    The cap bounds what the driver holds; above it the star rounds
    run and nothing is collected."""
    e = (
        edges.selectExpr(f"{src} AS u", f"{dst} AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # eager=False (r15): the count below materializes the blocks in
        # the same job — the eager form paid a dedicated checkpoint job
        # before the count read it back
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()  # one job: doubles as the empty check
    if n_edges == 0:
        return e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    if n_edges <= _DRIVER_EDGES:
        return _driver_components(e)
    for i in range(max_iter):
        e2 = _small_star(_large_star(e))
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # lazy for the same reason as the seed checkpoint: n2's
            # count is the materializing action, saving one job per
            # checkpoint round (every 2nd round here)
            e2 = e2.localCheckpoint(eager=False)
        else:
            e2 = e2.persist()
        n2 = e2.count()
        # e2 == e  ⇔  |e2| == |e| and e2 \ e == ∅ (both are distinct sets)
        if n2 == n_edges and e2.subtract(e).take(1) == []:
            e.unpersist()
            e = e2
            break
        e.unpersist()
        e, n_edges = e2, n2
    else:
        e.unpersist()
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # the converged set is a star per component: (leaf, min) edges.
    # labels = leaves → their root, plus each root → itself.
    leaves = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = leaves.union(roots).distinct().localCheckpoint(eager=True)
    e.unpersist()
    return out
