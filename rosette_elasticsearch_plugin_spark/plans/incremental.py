"""Incremental entity resolution — fold a NEW batch of names into an
existing resolved state without re-scoring the old world.

The daily production shape at 10^12 documents: yesterday's corpus is
resolved; today's delta arrives.  Re-running the full pipeline re-pays
pair scoring over the whole vocabulary; incremental resolution pays
only for pairs that involve a new name:

  1. delta      = new names not in the prior state (anti-join);
  2. blocking   keys only the delta (``extend_name_index`` appends it
     to the persisted name index);
  3. candidates come from the blocks the delta touches and are
     filtered to pairs with ≥1 NEW side before the Arrow-batched
     scoring hop — old×old pairs, the quadratic bulk, are never
     re-scored;
  4. the prior clustering enters the graph as star edges
     (node → its cluster id), and hash-min connected components runs
     over star ∪ new-edges.

Fold and retract share the index builder, the touched-block pair grid
(``_touched_pairs``) and the batch plan's key join-back → score →
threshold edge builder (``er_pipeline._pair_edges``).  They pair only
inside index blocks, so the batch-only ``ERConfig.snm_window`` and
``ERConfig.meta_tau`` raise ``ValueError`` instead of silently
diverging from the batch result.

Equivalence to a full recompute (tested in tests/test_incremental.py,
oracle-checked in the driver): components depend only on connectivity,
and components(star(prior)) = components(old edges) by construction,
so components(new_edges ∪ star(prior)) = components(all edges) — the
incremental result IS the batch result whenever blocking is stable.
The one divergence case: a block whose size crosses ``max_block_size``
only once the delta arrives — the full recompute drops its old pairs,
the incremental keeps the edges it already found (strictly better
recall; the cap is a meta-blocking cost heuristic, not a semantic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..resolution.blocking import all_blocks
from ..resolution.clustering import _checkpoint_count, connected_components
from ..resolution.pairs import candidate_pairs
# not called here (er_pipeline._pair_edges scores); kept as module
# globals because erbench's tracer patches layer functions per module
from ..resolution.scoring import match_edges, score_pairs  # noqa: F401
from .er_pipeline import ERConfig, _pair_edges, er_key_col


def extend_name_index(
    prior_index: DataFrame | None,
    new_names: DataFrame,
    cfg: ERConfig = ERConfig(),
) -> DataFrame:
    """(node, key, block_key) over prior ∪ new names — the UNCAPPED
    resolution block index, extended so the blocking kernels (the
    Double Metaphone pandas UDF and the MinHash/shingle chain) run over
    the DELTA names only.

    This is the piece that makes per-batch cost truly
    delta-proportional: without it, every increment re-keys the whole
    accumulated vocabulary even though old names' keys never change
    (blocking is a pure per-name function).  Commit the returned index
    to a SnapshotTable beside the clusters table and feed it back as
    ``prior_index`` on the next batch (streaming/resolve.py does this).
    ``prior_index=None`` builds the index from scratch."""
    n = new_names.select(F.col(new_names.columns[0]).alias("node")).distinct()
    if prior_index is not None:
        n = n.join(
            prior_index.select("node").distinct(), "node", "left_anti"
        )
    keyed = n.select(
        "node", er_key_col(F.col("node"), cfg.alias_names).alias("key")
    )
    # LEFT join from keyed: a name that produces zero block keys (not
    # reachable under exact blocking — one key per name — but possible
    # under a custom BlockingConfig) must still be carried in the index
    # with a NULL block_key, or it would (a) violate the contract that
    # the index node set equals prior ∪ new and (b) be re-keyed on
    # every later batch.  NULL block_key rows never match a block join
    # downstream, so they add no pairs — exactly like the full
    # recompute, where a keyless name simply has no blocks.
    delta_index = keyed.join(
        all_blocks(keyed, cfg.blocking), "node", "left"
    ).select("node", "key", "block_key")
    out = (
        delta_index
        if prior_index is None
        else prior_index.select("node", "key", "block_key").unionByName(
            delta_index
        )
    )
    # materialized once: consumers read it for the pair grid, the
    # per-node key join-back, and (in streaming) the index commit
    return out.localCheckpoint(eager=False)


def _reject_batch_only(cfg: ERConfig) -> None:
    """Fold and retract pair only inside name-index blocks, so they
    cannot reproduce the batch-only candidate families: fail loudly
    rather than diverge from the batch result."""
    if cfg.snm_window or cfg.meta_tau is not None:
        opt = "snm_window" if cfg.snm_window else "meta_tau"
        raise ValueError(
            f"ERConfig.{opt} is batch-only; fold and retract reject it"
        )


def _touched_pairs(
    index: DataFrame, seed: DataFrame, cfg: ERConfig
) -> tuple[DataFrame, DataFrame]:
    """(pairs, keyed) over the blocks of ``index`` (node, key,
    block_key) that a ``seed`` node touches — the pair grid fold and
    retract share.  Touched blocks keep ALL their index members, so
    every cap/salt size decision matches the full recompute for each
    block that can produce a pair involving a seed node.  The slice is
    materialized ONCE — candidate_pairs references its input several
    times, and the per-pair key join-backs read the same slice, so
    nothing downstream scans the vocabulary-scale index again
    (measured numbers: BENCH.md §3)."""
    touched_keys = (
        index.join(seed, "node", "left_semi").select("block_key").distinct()
    )
    touched = index.join(touched_keys, "block_key", "left_semi").localCheckpoint(
        eager=False
    )
    pairs = candidate_pairs(
        touched.select("node", "block_key"),
        cfg.max_block_size,
        cfg.n_salt,
        cfg.salt_threshold,
    )
    # every pair node is a touched-block member, so the key dim of the
    # join-back is the touched slice, not the vocabulary
    return pairs, touched.select("node", "key").dropDuplicates(["node"])


def incremental_resolve(
    prior_clusters: DataFrame,
    new_names: DataFrame,
    cfg: ERConfig = ERConfig(),
    name_index: DataFrame | None = None,
) -> DataFrame:
    """(node, cluster) over old ∪ new names; old×old pairs never
    re-scored.

    prior_clusters: (node, cluster) — output of resolve_names (or a
    previous incremental_resolve) read back from its snapshot table.
    new_names: (node) — distinct normalized names of the new batch.
    name_index: optional (node, key, block_key) index over old ∪ new
    names (from :func:`extend_name_index`) — its node set must equal
    prior ∪ new.  With it, blocking keys are READ, not recomputed, so
    the per-batch blocking cost is the delta's, not the vocabulary's.
    Without it, the combined vocabulary is re-keyed in place (exact
    same result — blocking is a pure per-name function).
    """
    _reject_batch_only(cfg)
    old_nodes = prior_clusters.select("node")
    delta = (
        new_names.select(F.col(new_names.columns[0]).alias("node"))
        .distinct()
        .join(old_nodes, "node", "left_anti")
    )
    all_names = old_nodes.unionByName(delta).localCheckpoint(eager=True)

    index = (
        name_index.select("node", "key", "block_key")
        if name_index is not None
        else extend_name_index(None, all_names, cfg)
    )
    # restrict the pair grid to blocks the delta TOUCHES: a pair with
    # ≥1 new side can only come from a block containing a new node, so
    # untouched (old-only) blocks — the vocabulary-scale bulk — never
    # enter the self-join at all
    pairs, keyed = _touched_pairs(index, delta, cfg)
    # keep only pairs with at least one new side — BEFORE the scoring
    # hop, so the Python/Arrow cost is delta-proportional
    old_flag = prior_clusters.select(
        "node", F.lit(True).alias("__old")
    ).localCheckpoint(eager=True)
    p = (
        pairs.join(
            old_flag.withColumnRenamed("node", "node_a")
            .withColumnRenamed("__old", "__old_a"),
            "node_a",
            "left",
        )
        .join(
            old_flag.withColumnRenamed("node", "node_b")
            .withColumnRenamed("__old", "__old_b"),
            "node_b",
            "left",
        )
        .where(F.col("__old_a").isNull() | F.col("__old_b").isNull())
        .drop("__old_a", "__old_b")
    )
    new_edges = _pair_edges(p, keyed, cfg).select("node_a", "node_b")
    star = prior_clusters.where(F.col("node") != F.col("cluster")).select(
        F.col("node").alias("node_a"), F.col("cluster").alias("node_b")
    )
    return connected_components(
        new_edges.unionByName(star), nodes=all_names, max_iter=cfg.cc_max_iter
    )


def stable_relabel(
    new_clusters: DataFrame, prior_clusters: DataFrame
) -> DataFrame:
    """Re-label incremental output with ID-STABLE cluster ids.

    ``incremental_resolve`` returns min-node labels (batch-equivalent,
    hence oracle-checkable) — but a min-node id CHANGES when a
    lexicographically smaller variant joins an existing cluster, which
    breaks downstream references.  Production id rule: a component that
    contains members of prior clusters keeps the smallest PRIOR id
    among them (merges collapse deterministically to the older id);
    all-new components keep their min-node id."""
    prior_ids = prior_clusters.select(
        "node", F.col("cluster").alias("__prior_id")
    )
    stable = (
        new_clusters.join(prior_ids, "node", "left")
        .groupBy("cluster")
        .agg(F.min("__prior_id").alias("__stable"))
        .withColumn("__stable", F.coalesce("__stable", F.col("cluster")))
    )
    return new_clusters.join(stable, "cluster").select(
        "node", F.col("__stable").alias("cluster")
    )


def retract_names(
    prior_clusters: DataFrame,
    removed_names: DataFrame,
    cfg: ERConfig = ERConfig(),
    name_index: DataFrame | None = None,
) -> DataFrame:
    """(node, cluster) over prior-minus-removed names — the DELETE half
    of the incremental story (GDPR erasure, source-record retraction).
    Only clusters a removed name can influence are re-resolved; the
    vocabulary-scale bulk passes through untouched.

    Exactness vs a full recompute on the remaining names (the driver
    oracle for ``er_retract``): deleting nodes only ever REMOVES edges
    — except under the block-size cap, where shrinking an over-cap
    block back under ``max_block_size`` re-admits its pairs.  So the
    re-resolved slice is the union of
      1. remaining members of clusters that contained a removed name
         (deleting a bridge variant can SPLIT such a cluster), and
      2. full prior clusters of every member of a newly-uncapped block
         (its re-admitted pairs can MERGE previously separate
         clusters).
    Any candidate pair between that slice and an untouched name scores
    below threshold — if it didn't, its endpoints would already share
    a prior cluster (edges are a deterministic pair function and the
    pair was a candidate before the delete too) and the untouched side
    wouldn't be untouched — so re-clustering the slice alone, with
    block sizes taken from the FULL remaining universe, reproduces the
    full recompute label-for-label (untouched clusters keep identical
    membership, hence identical min-node labels).

    prior_clusters: (node, cluster) from resolve_names /
    incremental_resolve, read back from its snapshot table.
    removed_names: (node) names to erase; unknown names are ignored.
    name_index: optional (node, key, block_key) persisted index over
    the PRIOR universe (extend_name_index) — with it, no blocking
    kernel runs at all (deletes touch no new names); without it the
    prior vocabulary is re-keyed in place (same result, vocabulary
    cost).  At 10^12 names keep the index committed beside the
    clusters table; the block-size aggregates below are single
    groupBy passes over it, never self-joins.
    """
    _reject_batch_only(cfg)
    prior_nodes = prior_clusters.select("node")
    removed = (
        removed_names.select(
            F.col(removed_names.columns[0]).alias("node")
        )
        .distinct()
        .join(prior_nodes, "node", "left_semi")
        .localCheckpoint(eager=True)
    )
    remaining = prior_clusters.join(removed, "node", "left_anti")

    if name_index is not None:
        index = (
            name_index.select("node", "key", "block_key")
            .join(prior_nodes, "node", "left_semi")
            .localCheckpoint(eager=False)
        )
    else:
        index = extend_name_index(None, prior_nodes, cfg)
    rem_index = index.join(removed, "node", "left_anti").localCheckpoint(
        eager=False
    )

    # blocks that shrink from over-cap to within-cap re-admit their
    # pair space; everyone they touch (and those members' whole prior
    # clusters) must re-resolve so cap-crossing merges are reproduced
    before = index.groupBy("block_key").agg(F.count("*").alias("n_before"))
    after = rem_index.groupBy("block_key").agg(F.count("*").alias("n_after"))
    uncapped = (
        before.join(after, "block_key")
        .where(
            (F.col("n_before") > cfg.max_block_size)
            & (F.col("n_after") <= cfg.max_block_size)
            & (F.col("n_after") >= 2)
        )
        .select("block_key")
    )
    uncap_nodes = rem_index.join(uncapped, "block_key", "left_semi").select(
        "node"
    )

    seed = removed.unionByName(uncap_nodes)
    affected_ids = (
        prior_clusters.join(seed, "node", "left_semi")
        .select("cluster")
        .distinct()
    )
    affected, n_affected = _checkpoint_count(
        remaining.join(affected_ids, "cluster", "left_semi").select("node")
    )
    untouched = remaining.join(affected_ids, "cluster", "left_anti")
    if n_affected == 0:  # pure-singleton deletes
        return untouched.select("node", "cluster")

    # touched blocks keep ALL remaining members so candidate_pairs sees
    # the true remaining-universe size for every cap/salt decision;
    # pairs are then narrowed to both-sides-affected BEFORE the Arrow
    # scoring hop (cross pairs are provably sub-threshold, see above)
    pairs, keyed = _touched_pairs(rem_index, affected, cfg)
    pairs = pairs.join(
        affected.withColumnRenamed("node", "node_a"), "node_a", "left_semi"
    ).join(
        affected.withColumnRenamed("node", "node_b"), "node_b", "left_semi"
    )
    edges = _pair_edges(pairs, keyed, cfg).select("node_a", "node_b")
    sub = connected_components(edges, nodes=affected, max_iter=cfg.cc_max_iter)
    return untouched.select("node", "cluster").unionByName(
        sub.select("node", "cluster")
    )
