"""R6 — candidate pair generation with hot-block handling.

Within-block self-join, deduped by ``a < b``.  Two scale hazards at
10^12 docs, both handled explicitly (BASELINE.json north_star):

1. **Quadratic hot blocks** ("john"-like keys): blocks above
   ``max_block_size`` are *capped out* of pairing entirely — they are
   low-information keys whose pairs are overwhelmingly non-matches,
   and the same names still meet under their other key families.
   The cap is a standard meta-blocking practice; capped counts are
   observable via ``block_sizes``.

2. **Shuffle skew** on the surviving large-but-valid blocks: a salted
   grid join splits each block's pair space into ``n_salt`` stripes:
   left side gets salt r = pmod(hash(node), s); right side is
   replicated to all s stripes; join on (block, salt) with
   ``left.node < right.node``.  Every pair is produced exactly once
   (the pair (i,j), i<j, meets only in stripe r(i)) while the hottest
   partition shrinks by ~s.  AQE skew-join stays on as backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def block_sizes(blocks: DataFrame) -> DataFrame:
    return blocks.groupBy("block_key").agg(F.count("*").alias("n"))


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = 50,
    n_salt: int = 8,
    salt_threshold: int = 16,
    hot_block_mode: str = "drop",
) -> DataFrame:
    """(node_a, node_b) distinct candidate pairs, node_a < node_b.

    blocks: (node, block_key) long table.
    Blocks with n > max_block_size never pair all-vs-all; what happens
    instead depends on ``hot_block_mode``:

    * ``"drop"`` (ER default) — the block is discarded entirely: an
      over-cap NAME block is a low-information key ("john") whose pairs
      are overwhelmingly non-matches, and its names still meet under
      their other key families.
    * ``"star"`` (dedup) — every member pairs with the block's min-node
      REPRESENTATIVE only (linear in block size).  For deduplication
      the over-cap blocks are the point: a boilerplate page duplicated
      beyond the cap shares ALL its band keys across copies, so
      dropping would silently exempt exactly the most-duplicated
      content; star pairs keep every copy one verified edge away from
      the representative (transitive closure then clusters the group).

    Blocks under the cap with n > salt_threshold use the salted grid
    join.
    """
    if hot_block_mode not in ("drop", "star"):
        raise ValueError(f"hot_block_mode must be drop|star: {hot_block_mode!r}")
    # Size table is one row per surviving block key; not force-broadcast
    # because at 10^12-doc scale it can exceed broadcast limits — AQE
    # converts it to a broadcast join at runtime when it is small.
    sizes = block_sizes(blocks)
    sized = blocks.join(sizes.where(F.col("n") <= max_block_size), "block_key")

    small = sized.where(F.col("n") <= salt_threshold).drop("n")
    big = sized.where(F.col("n") > salt_threshold).drop("n")

    a, b = small.alias("a"), small.alias("b")
    pairs_small = a.join(b, "block_key").where(F.col("a.node") < F.col("b.node"))

    salt = F.pmod(F.hash("node"), F.lit(n_salt))
    left = big.withColumn("salt", salt)
    right = big.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    pairs_big = left.alias("a").join(
        right.alias("b"), ["block_key", "salt"]
    ).where(F.col("a.node") < F.col("b.node"))

    cols = [F.col("a.node").alias("node_a"), F.col("b.node").alias("node_b")]
    out = pairs_small.select(*cols).unionByName(pairs_big.select(*cols))
    if hot_block_mode == "star":
        hot = blocks.join(sizes.where(F.col("n") > max_block_size), "block_key")
        reps = hot.groupBy("block_key").agg(F.min("node").alias("rep"))
        # rep = min node → (rep, node) already satisfies node_a < node_b
        star = (
            hot.join(reps, "block_key")
            .where(F.col("node") != F.col("rep"))
            .select(F.col("rep").alias("node_a"), F.col("node").alias("node_b"))
        )
        out = out.unionByName(star)
    return out.distinct()


def pair_sides(pairs: DataFrame, attrs: DataFrame) -> DataFrame:
    """``pairs`` (node_a, node_b, …) with every non-``node`` column ``c``
    of ``attrs`` (node, …) attached once per side as ``c_a`` and
    ``c_b`` — two node-equi joins against a vocabulary-scale table
    (AQE broadcasts it when small).  Pairs whose node is missing from
    ``attrs`` drop out (inner joins)."""
    cols = [c for c in attrs.columns if c != "node"]
    for s in ("a", "b"):
        side = attrs.select(
            F.col("node").alias(f"node_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in cols],
        )
        pairs = pairs.join(side, f"node_{s}")
    return pairs
