"""End-to-end entity-resolution plan (SURVEY.md §7 step 2, R1-R10).

docs → text spans → mention extraction → normalization → blocking
(exact + Double Metaphone + MinHash-LSH) → candidate pairs (capped +
salted) → vectorized scoring → threshold → hash-min connected
components → cluster assignment.

Key scale property: blocking/pairing/clustering run over *distinct
normalized names*, not mention rows — at 10^12 documents the distinct
name table is orders of magnitude smaller, and mention rows get their
cluster by one final broadcast-or-shuffle join (R10).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, functions as F

from ..functions.translit import translit_lower_col
from ..operators.entities import extract_mentions
from ..resolution.blocking import (
    BlockingConfig,
    all_blocks,
    sorted_neighborhood_pairs,
)
from ..resolution.clustering import (
    _checkpoint_count,
    assign_cluster_ids,
    connected_components,
)
from ..resolution.pairs import candidate_pairs, pair_sides
from ..resolution.scoring import ScoringConfig, match_edges, score_pairs


@dataclass(frozen=True)
class ERConfig:
    blocking: BlockingConfig = dc_field(default_factory=BlockingConfig)
    scoring: ScoringConfig = dc_field(default_factory=ScoringConfig)
    # cap = the point where a block is declared low-information and
    # dropped; the salted grid join keeps blocks below it cheap, so the
    # cap can sit high (500 members = ~125k pairs, trivial) — at 50 a
    # merely *popular* surname's metaphone block was capped away and
    # its families lost their initial-form variants (recall hit)
    max_block_size: int = 500
    n_salt: int = 8
    salt_threshold: int = 16
    cc_max_iter: int = 25
    # opt-in, batch-only FOURTH blocking family: sorted-neighborhood
    # window (None = off, the oracle-checked default).  A window of w
    # adds exactly n·(w−1) linear candidate pairs in canonical-key
    # order — recall insurance for variants whose leading-character
    # typos break every key-equality family, at a bounded, skew-free cost
    snm_window: int | None = None
    # opt-in, batch-only meta-blocking (None = off): candidate generation
    # becomes the weighted co-occurrence graph of
    # resolution/metablocking.py — blocks purged at max_block_size,
    # pairs kept when their common-blocks Jaccard ≥ meta_tau.  Pair
    # universe equals the default capped-blocks path; tau-filtering is
    # the only delta.  Meant to be combined with
    # blocking.use_tokens=True (the high-recall family whose Zipfian
    # budget meta-blocking exists to control).
    meta_tau: float | None = None
    # opt-in nickname canonicalization (functions/aliases.py): rewrite
    # diminutive given-name tokens to their formal form INSIDE the ER
    # canonical key, so "bill lindqvist" blocks and scores as
    # "william lindqvist".  Off by default: the rewrite is a constant
    # per-name column expression (no new shuffle), but it widens what
    # counts as "the same name" and callers should opt into that.
    alias_names: bool = False


def er_key_col(c, aliases: bool = False):
    """ER canonical form: transliterated normalized name — cross-script
    variants share blocks and score ~1.0.  With ``aliases`` the
    nickname dictionary additionally rewrites diminutive tokens to
    their formal form (same key => same exact block => alias variants
    score 1.0)."""
    key = translit_lower_col(c)
    if aliases:
        from ..functions.aliases import alias_canonical_col

        key = alias_canonical_col(key)
    return key


def name_match_edges(
    names: DataFrame, cfg: ERConfig = ERConfig()
) -> tuple[DataFrame, DataFrame]:
    """Blocking → candidate pairs → scoring → threshold over a distinct
    name table.  Returns ``(names_checkpointed, edges)`` — the node
    universe (lineage severed, partition-sized) and the matched edge
    list (node_a < node_b) — so callers can post-process edges (e.g.
    analyst overrides) before clustering.  ``resolve_names`` is exactly
    this plus connected components."""
    # sever lineage: names is typically a distinct() over the full
    # mention table, and it fans out to every blocking family plus the
    # CC node universe — without a checkpoint that multi-million-row
    # distinct re-executes once per consumer (measured: 36s of the
    # 40s pipeline at 200k docs).  The names table itself is tiny
    # (distinct surface forms), so an eager localCheckpoint is cheap.
    # The checkpoint's observed row count then sizes the name table's
    # partitioning: a vocabulary of a few thousand names spread over
    # defaultParallelism partitions makes every blocking/scoring stage
    # schedule dozens of near-empty tasks and Arrow batches — pure
    # serial overhead.  ~20k names per partition keeps big
    # vocabularies parallel and small ones cheap.
    names, n_names = _checkpoint_count(names)
    cur = names.rdd.getNumPartitions()
    target = max(1, min(cur, n_names // 20_000 + 1))
    if target < cur:
        names = names.coalesce(target)
    keyed = names.select(
        "node", er_key_col(F.col("node"), cfg.alias_names).alias("key")
    )
    _, pairs = name_pairs(keyed, cfg)
    return names, _pair_edges(pairs, keyed, cfg)


def name_pairs(
    keyed: DataFrame, cfg: ERConfig = ERConfig()
) -> tuple[DataFrame, DataFrame]:
    """(node, key) → ``(blocks, pairs)``: the batch candidate grid —
    the block table (node, block_key) and the distinct candidate pairs
    (node_a < node_b) that ``name_match_edges`` scores.  The capped +
    salted grid by default, meta-blocking with ``cfg.meta_tau``, plus
    the sorted-neighborhood pairs with ``cfg.snm_window``."""
    # materialize the block table once: candidate_pairs references it
    # from the size aggregate, both grid-join sides, and the hot-block
    # branch — unmaterialized, the whole metaphone-UDF + MinHash
    # blocking subtree is inlined (and recomputed) into each reference
    # (~8 ArrowEvalPython copies in the physical plan; measured −25%
    # on the flagship at sf0.1).  At warehouse scale this is "write
    # the block table, then self-join it" — the standard shape.
    blocks = all_blocks(keyed, cfg.blocking).localCheckpoint(eager=False)
    if cfg.meta_tau is not None:
        from ..resolution.metablocking import weighted_edge_pruning

        pairs = weighted_edge_pruning(
            blocks, cfg.meta_tau, cfg.max_block_size
        ).select("node_a", "node_b")
    else:
        pairs = candidate_pairs(
            blocks, cfg.max_block_size, cfg.n_salt, cfg.salt_threshold
        )
    if cfg.snm_window:
        # union the sort-adjacency pairs and re-dedupe: a variant pair
        # usually collides in a key family too, and scoring it twice
        # would double the Arrow hop for exactly the easy cases
        pairs = pairs.unionByName(
            sorted_neighborhood_pairs(keyed, cfg.snm_window)
        ).distinct()
    return blocks, pairs


def _pair_edges(pairs: DataFrame, keyed: DataFrame, cfg: ERConfig) -> DataFrame:
    """Candidate pairs (node_a, node_b) → matched edges: the one
    score-and-threshold tail that batch (``name_match_edges``), fold
    and retract (``plans/incremental.py``) share.  ``keyed`` is
    (node, key) over every pair node."""
    # hoist the canonical key out of the scorer: join the PREcomputed
    # key back per pair side so the transliteration replace-chain runs
    # once per NAME (in `keyed`), not twice per candidate pair.  The
    # name table is vocabulary-scale, so the two joins are cheap (AQE
    # broadcasts them when small).
    scored = score_pairs(
        pair_sides(pairs, keyed), "key_a", "key_b", cfg.scoring
    )
    return match_edges(scored, cfg.scoring)


def resolve_names(names: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """(node) distinct normalized names → (node, cluster).  cluster =
    lexicographic min node in the connected component; singletons map
    to themselves."""
    return resolve_names_with_overrides(names, cfg=cfg)


def _override_pairs_df(spark, pairs) -> DataFrame:
    """Literal override pairs, normalized to the edge orientation
    (node_a < node_b) the pipeline uses throughout."""
    norm = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    return spark.createDataFrame(norm, "node_a string, node_b string")


def resolve_names_with_overrides(
    names: DataFrame,
    must_link: list[tuple[str, str]] | None = None,
    cannot_link: list[tuple[str, str]] | None = None,
    cfg: ERConfig = ERConfig(),
) -> DataFrame:
    """``resolve_names`` with analyst overrides — the consumer of the
    ``er_cluster_confidence`` review queue.  ``cannot_link`` pairs are
    removed from the matched edge list; ``must_link`` pairs are added
    (so a pair in both lists ends up linked — an explicit merge beats a
    split).  Overrides are EDGE edits, not partition constraints: a
    cannot-link pair can stay transitively connected through other
    names — ``override_violations`` surfaces exactly those for further
    splitting.  Override nodes must belong to the name universe
    (an edge to an unknown node is dropped by the semi-joins here —
    it could not affect any known name's cluster anyway).  Scale: the
    override lists are analyst-curated (small); both edits are
    broadcast joins against the vocabulary-scale edge list."""
    names, edges = name_match_edges(names, cfg)
    spark = names.sparkSession
    e = edges.select("node_a", "node_b")
    if cannot_link:
        e = e.join(
            F.broadcast(_override_pairs_df(spark, cannot_link)),
            ["node_a", "node_b"],
            "left_anti",
        )
    if must_link:
        ml = _override_pairs_df(spark, must_link)
        known = names.select(F.col("node"))
        ml = (
            ml.join(known.withColumnRenamed("node", "node_a"), "node_a")
            .join(known.withColumnRenamed("node", "node_b"), "node_b")
            .select("node_a", "node_b")
        )
        e = e.unionByName(ml).distinct()
    return connected_components(e, nodes=names, max_iter=cfg.cc_max_iter)


def override_violations(
    clusters: DataFrame, cannot_link: list[tuple[str, str]]
) -> DataFrame:
    """Cannot-link pairs still co-clustered after override resolution
    (connected through a transitive path the edge removal didn't cut).
    Returns (node_a, node_b, cluster) — the analyst's next review
    queue."""
    spark = clusters.sparkSession
    cl = _override_pairs_df(spark, cannot_link)
    ca = clusters.select(
        F.col("node").alias("node_a"), F.col("cluster").alias("cluster_a")
    )
    cb = clusters.select(
        F.col("node").alias("node_b"), F.col("cluster").alias("cluster_b")
    )
    return (
        cl.join(ca, "node_a")
        .join(cb, "node_b")
        .where(F.col("cluster_a") == F.col("cluster_b"))
        .select("node_a", "node_b", F.col("cluster_a").alias("cluster"))
    )


def resolve_documents(
    docs: DataFrame,
    gazetteer: DataFrame | None = None,
    cfg: ERConfig = ERConfig(),
    pattern: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline over interleaved-span documents.

    Returns (mentions_with_cluster, name_clusters)."""
    from ..operators.entities import MENTION_PATTERN, distinct_mention_names

    pat = pattern or MENTION_PATTERN
    # Two corpus passes, each doing only what it needs:
    #   pass A — distinct normalized names via a set-emitting worker
    #            (map-side combine; never materializes mention rows),
    #   pass B — the full mention table, emitted exactly once into the
    #            final cluster-assignment join.
    # The mention table is NOT cached between passes: the columnar
    # cache build for tens of millions of short rows costs more than
    # the light pass A (measured 47s cache build vs ~4s names pass at
    # 600k docs, local[32]).  At cluster scale the same two-pass shape
    # holds with the mention table written to storage by pass B.
    names = distinct_mention_names(docs, pat)
    name_clusters = resolve_names(names, cfg)
    mentions = extract_mentions(docs, gazetteer, pat)
    assigned = assign_cluster_ids(mentions, name_clusters, "normalized")
    return assigned, name_clusters
