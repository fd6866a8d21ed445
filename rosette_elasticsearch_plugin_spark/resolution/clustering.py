"""R9/R10 — transitive clustering: iterative hash-min connected
components over the match-edge graph, then stable min-id cluster labels.

Algorithm (label = lexicographic min node reachable so far):
  labels_0(v) = v
  step(v)     = min(labels_t(v), min over neighbors u of labels_t(u))
  labels_{t+1}(v) = step(v)                       (early rounds)
  labels_{t+1}(v) = min(step(v), labels_t(step(v)))   (pointer halving)
until no label changes.  The label-of-label jump (one extra
vocabulary-scale join per round) turns plain O(diameter) propagation
into O(log diameter) — but it costs a second shuffle + checkpoint per
round, and the dominant workload (name-variant clusters, diameter
2-4) converges in ~3 plain rounds, never needing it.  So halving is
ADAPTIVE: rounds 0.._HALVING_AFTER-1 run plain propagation; if the
loop is still changing after that, the jump join switches on, and
the remaining budget covers any chain a real corpus can produce
(e.g. versioned near-duplicate documents A~B~C~…, which
dedup_canonical clusters over: 3 plain + 22 halving rounds handles
diameters beyond 2^20).  The jump preserves the invariant
that a node's label is always a member of its own component, so the
fixed point (component min) is unchanged.

Scale handling (SURVEY.md §4):
* ``localCheckpoint`` each round cuts the growing lineage (mandatory —
  an un-checkpointed loop re-executes the whole history every round).
* every round is one shuffle on ``node``; AQE handles residual skew.
* convergence check is the changed-label count, observed on the
  round's checkpoint (no job of its own).

The matching DuckDB oracle is a recursive CTE computing min reachable
node (see plans/er_pipeline.py), so the driver can verify clusters
value-for-value.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, functions as F

# plain min-propagation rounds before the pointer-halving jump join
# switches on; small-diameter graphs converge before it and never pay
# for the extra join
_HALVING_AFTER = 3


def _checkpoint_count(
    df: DataFrame, where: Column | None = None
) -> tuple[DataFrame, int]:
    """Eager ``localCheckpoint`` of ``df`` and its row count (of rows
    where ``where`` holds, if given).  The count is a metric observed
    by the checkpoint job itself, so it costs no Spark job.  It is read
    off the checkpoint's own query execution once the job has finished,
    not through ``Observation``: that waits without limit for a
    listener-bus event, so a late or dropped event would hang the
    caller."""
    name = f"__checkpoint_count_{uuid.uuid4().hex}"
    n = F.count(F.lit(1)) if where is None else F.count_if(where)
    observed = df.observe(name, n.alias("n"))
    df = observed.localCheckpoint(eager=True)
    metrics = observed._jdf.queryExecution().observedMetrics()
    return df, metrics.apply(name).getLong(0)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "node_a",
    dst: str = "node_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Return (node, cluster) — cluster = min node in the component.

    edges: undirected edge list (each pair once is fine).
    nodes: optional node universe (isolated nodes become singletons);
           defaults to nodes appearing in edges.
    stats: optional dict populated with convergence telemetry —
           ``rounds`` (total executed), ``changed_per_round`` (exact
           changed-label count per round) and ``halving_from_round``
           (round index where halving engaged, or None).  It only
           records counts the convergence check reads anyway, so
           passing it does not change what Spark runs.
    """
    # Materialize the edge list BEFORE symmetrizing: the union below
    # references ``edges`` twice, and an unmaterialized edges plan (the
    # full blocking+scoring pipeline) would (a) execute twice and
    # (b) inline its whole expression tree into both union branches of
    # ONE generated stage — measured to blow janino's 64 KB method
    # limit and drop the stage to interpreted evaluation.  The edge
    # list is tiny (matched name pairs), so an eager checkpoint is
    # cheap at any corpus scale.
    edges = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    if nodes is None:
        node_df = sym.select(F.col("u").alias("node")).distinct()
    else:
        node_df = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()

    labels = node_df.select("node", F.col("node").alias("cluster"))
    labels = labels.localCheckpoint(eager=True)
    sym, n_sym = _checkpoint_count(sym)
    if stats is not None:
        stats["changed_per_round"] = []
        stats["halving_from_round"] = None
        stats["rounds"] = 0
    if n_sym == 0:  # no edges → all singletons, skip loop
        return labels

    n_changed = 1
    for rnd in range(max_iter):
        halve = rnd >= _HALVING_AFTER
        # min label among neighbors
        nbr = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("cluster").alias("nbr_min"))
        )
        stepped = labels.join(nbr, labels["node"] == nbr["u"], "left").select(
            "node",
            F.col("cluster").alias("__old"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("nbr_min"), F.col("cluster"))
            ).alias("__mid"),
        )
        if halve:
            # pointer halving: jump to the current label OF the label —
            # labels are component members, so this shortcuts chains
            # without ever leaving the component.  Only engaged once
            # plain propagation has failed to converge within
            # _HALVING_AFTER rounds (chain-shaped components).
            jump = labels.select(
                F.col("node").alias("__mid"), F.col("cluster").alias("__jump")
            )
            new = stepped.join(jump, "__mid", "left").select(
                "node",
                F.least(
                    F.col("__mid"), F.coalesce(F.col("__jump"), F.col("__mid"))
                ).alias("cluster"),
                F.col("__old"),
            )
        else:
            new = stepped.select(
                "node", F.col("__mid").alias("cluster"), F.col("__old")
            )
        new = new.withColumn(
            "changed", F.col("cluster") < F.col("__old")
        ).drop("__old")
        new, n_changed = _checkpoint_count(new, F.col("changed"))
        if stats is not None:
            stats["changed_per_round"].append(n_changed)
            stats["rounds"] = rnd + 1
            if halve and stats["halving_from_round"] is None:
                stats["halving_from_round"] = rnd
        labels = new.drop("changed")
        if n_changed == 0:
            break
    if n_changed != 0:
        # silent non-convergence would split one true component into
        # several clusters with no signal that the cause is the
        # iteration budget rather than scoring — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(component diameter exceeds the budget); raise max_iter"
        )
    return labels


def best_match_edges(
    scored: DataFrame,
    threshold: float,
    mutual: bool = False,
) -> DataFrame:
    """Chaining-resistant edge restriction over scored candidate pairs
    (the star / mutual-best decision layers of the classic clustering
    taxonomy — cf. Hassanzadeh et al., "Framework for Evaluating
    Clustering Algorithms in Duplicate Detection", VLDB 2009).

    Transitive closure over ALL supra-threshold edges lets a hub node
    with many barely-matching neighbors glue unrelated entities into
    one component.  Here each node contributes exactly ONE edge — to
    its best-scoring neighbor at or above ``threshold`` (ties broken
    by smallest neighbor id, so the restriction is deterministic and
    engine-independent given bit-identical scores):

    * star (``mutual=False``): keep the union of per-node best edges.
      A hub's fan-out collapses to one edge; components become
      star/path shaped.
    * mutual (``mutual=True``): keep an edge only when each endpoint
      is the other's best match (reciprocal best hit).  This provably
      cuts score-descending chains: in A−B−C with score(AB)>score(BC),
      B's best is A, so BC drops and C separates.

    Input: (node_a, node_b, score) with node_a < node_b.  Output: the
    restricted undirected edge list (node_a, node_b) — feed it to
    ``connected_components``.

    Scale shape: one symmetrizing union (narrow), one window over the
    node key (single shuffle, vocabulary-scale — same key as every
    other per-node stage), and for mutual one self-semi-join on the
    (u, v) pair key.  No corpus access, no driver collection.
    """
    m = scored.where(F.col("score") >= F.lit(threshold)).select(
        "node_a", "node_b", "score"
    )
    directed = m.select(
        F.col("node_a").alias("u"), F.col("node_b").alias("v"), "score"
    ).unionByName(
        m.select(F.col("node_b").alias("u"), F.col("node_a").alias("v"), "score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("v"))
    best = (
        directed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("u", "v")
    )
    if mutual:
        # materialize: the reciprocity semi-join reads best from BOTH
        # sides — unmaterialized, the window subtree executes twice
        best = best.localCheckpoint(eager=False)
        flipped = best.select(F.col("v").alias("u"), F.col("u").alias("v"))
        return (
            best.join(flipped, ["u", "v"], "left_semi")
            .where(F.col("u") < F.col("v"))
            .select(F.col("u").alias("node_a"), F.col("v").alias("node_b"))
        )
    return best.select(
        F.least("u", "v").alias("node_a"),
        F.greatest("u", "v").alias("node_b"),
    ).distinct()


def assign_cluster_ids(
    mentions: DataFrame, name_clusters: DataFrame, name_col: str = "normalized"
) -> DataFrame:
    """R10: propagate name-level clusters back to mention rows.

    Names not present in the cluster table (unblocked singletons)
    cluster as themselves.
    """
    joined = mentions.join(
        name_clusters.withColumnRenamed("node", name_col), name_col, "left"
    )
    return joined.withColumn("cluster", F.coalesce("cluster", F.col(name_col)))


def cluster_repair(
    names: DataFrame,
    edges: DataFrame,
    tau_repair: float,
    max_iter: int = 25,
) -> DataFrame:
    """Weak-link cluster repair: re-cluster after dropping nodes whose
    strongest incident edge is below ``tau_repair``.

    Transitive closure merges everything a chain of barely-over-
    threshold edges connects; one noisy bridge absorbs a whole entity.
    The standard post-processing is to audit each node's attachment
    strength (max incident match score) and split out nodes that never
    scored a confident match — they keep their own singleton cluster,
    and the remaining subgraph is re-clustered so components severed by
    the removal genuinely separate.

    Returns (node, cluster_before, cluster_after, moved).

    Scale shape: strength is one map-side-combinable aggregate over the
    edge list (union of both endpoints); the re-clustering runs the
    same hash-min CC on the filtered edges — strictly fewer edges than
    the first pass.  Nothing touches the corpus.
    """
    edges = edges.select("node_a", "node_b", "score").localCheckpoint(
        eager=False
    )
    before = connected_components(edges, nodes=names, max_iter=max_iter)
    strength = (
        edges.select(F.col("node_a").alias("node"), "score")
        .unionByName(edges.select(F.col("node_b").alias("node"), "score"))
        .groupBy("node")
        .agg(F.max("score").alias("s"))
    )
    strong = strength.where(F.col("s") >= tau_repair).select("node")
    sedges = edges.join(
        strong.withColumnRenamed("node", "node_a"), "node_a", "left_semi"
    ).join(strong.withColumnRenamed("node", "node_b"), "node_b", "left_semi")
    after = connected_components(
        sedges, nodes=names, max_iter=max_iter
    ).withColumnRenamed("cluster", "cluster_after")
    return (
        before.withColumnRenamed("cluster", "cluster_before")
        .join(after, "node")
        .select(
            "node",
            "cluster_before",
            "cluster_after",
            (F.col("cluster_before") != F.col("cluster_after")).alias(
                "moved"
            ),
        )
    )


def bfs_depths(
    edges: DataFrame,
    roots: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """Per-node shortest hop count from its component root — the
    convergence CERTIFICATE for hash-min clustering: a component whose
    max depth is d needs d plain min-propagation rounds (and is the
    quantity the adaptive _HALVING_AFTER threshold in
    ``connected_components`` keys on).

    ``edges`` (node_a, node_b) undirected; ``roots`` one column of
    root nodes (cluster labels — the component min under hash-min, so
    depth-from-root = the propagation distance of the label).  Level-
    synchronous frontier expansion: each round joins ONLY the frontier
    against the adjacency (one shuffle), first visit pins the depth,
    ``localCheckpoint`` cuts the loop lineage exactly like the CC
    loop.  Raises after ``max_rounds`` (matching the recursive-CTE
    oracle's depth cap) rather than silently truncating."""
    a, b = edges.columns[0], edges.columns[1]
    sym = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(
            edges.select(F.col(b).alias("u"), F.col(a).alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = roots.select(
        F.col(roots.columns[0]).alias("node"), F.lit(0).cast("long").alias("depth")
    ).distinct().localCheckpoint(eager=True)
    frontier = dist.select("node")
    # one extra iteration beyond max_rounds: depths themselves are
    # capped at max_rounds (matching the recursive-CTE mirror's
    # w.depth < cap), but a BFS that COMPLETES at exactly depth ==
    # max_rounds must return, not raise — only a frontier still
    # expanding past the cap is an error
    for r in range(1, max_rounds + 2):
        nxt, n_nxt = _checkpoint_count(
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(r).cast("long").alias("depth"))
        )
        if n_nxt == 0:
            return dist
        if r > max_rounds:
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    raise RuntimeError(
        f"bfs_depths: frontier still expanding after {max_rounds} rounds"
    )
