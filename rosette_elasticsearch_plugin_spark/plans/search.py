"""Fuzzy name search — the blocking stack as a query-time index.

The reference sits inside a SEARCH engine: users enrich at ingest and
then query the enriched fields (``docker/test.sh`` exercises exists /
constant_score over ``ros_language``; entity lookups hit the linked
entityIds).  The batch analogue of "find this possibly-misspelled name"
is a lookup that reuses the ER machinery verbatim:

  query names → blocking keys (exact + Double Metaphone + MinHash) →
  join against the corpus names' keys (the persisted block table of the
  resolution pipeline — at scale this is an index lookup, not a scan) →
  vectorized scoring → threshold → top-k per query.

Same keys, same scorer, same threshold semantics as resolution, so a
query matches exactly the names it would have clustered with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..resolution.blocking import all_blocks
from ..resolution.scoring import score_pairs
from .er_pipeline import ERConfig, er_key_col


def build_block_index(names: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """(node, key, block_key) — the corpus-side search index.

    One row per (name, blocking key) with the canonical scoring key
    carried alongside, and over-cap blocks already removed (an over-cap
    block key is too unselective to be a useful posting list, same rule
    as resolution).  This is exactly the blocking table the resolution
    pipeline builds; at scale it is computed ONCE at index time,
    committed to a :class:`~..sources.table_io.SnapshotTable` (bucketed
    by ``block_key`` so query joins read co-located buckets), and
    served to :func:`search_names` via ``name_index=`` — query-time
    lookups never touch corpus text.  Reference analogue: query-time
    lookup over index-time enrichment (``docker/test.sh:184-193``)."""
    n = names.select(F.col(names.columns[0]).alias("node")).distinct()
    keyed = n.select(
        "node", er_key_col(F.col("node"), cfg.alias_names).alias("key")
    )
    # materialized once: the size aggregate and the size-filter join
    # both reference nb (same rationale as resolve_names' block table)
    nb = all_blocks(keyed, cfg.blocking).localCheckpoint(eager=False)
    sizes = nb.groupBy("block_key").agg(F.count("*").alias("__n"))
    nb = nb.join(
        sizes.where(F.col("__n") <= cfg.max_block_size), "block_key"
    ).drop("__n")
    return nb.join(keyed, "node").select("node", "key", "block_key")


def search_names(
    queries: DataFrame,
    names: DataFrame | None = None,
    cfg: ERConfig = ERConfig(),
    k: int = 3,
    threshold: float | None = None,
    name_index: DataFrame | None = None,
) -> DataFrame:
    """(query, name, score, rank) — top-k corpus names per query name
    with score ≥ threshold (default: the resolution match threshold).

    queries: one string column of query surfaces (normalized or raw —
    they are keyed exactly like corpus names).
    names: one string column of corpus names (the resolution node set);
    the index is built on the fly with :func:`build_block_index`.
    name_index: a PREBUILT (node, key, block_key) index — e.g. read
    from a committed SnapshotTable — which skips the corpus pass
    entirely (the scale path: index once, query many)."""
    if name_index is None:
        if names is None:
            raise ValueError("search_names needs either names or name_index")
        name_index = build_block_index(names, cfg)
    tau = cfg.scoring.threshold if threshold is None else threshold
    q = queries.select(F.col(queries.columns[0]).alias("node")).distinct()
    qk = q.select(
        "node", er_key_col(F.col("node"), cfg.alias_names).alias("key")
    )
    qb = all_blocks(qk, cfg.blocking).withColumnRenamed("node", "query")
    idx = name_index.select(
        F.col("node").alias("name"),
        F.col("key").alias("__nkey"),
        "block_key",
    )
    # __nkey is functionally dependent on name, so the per-(query, name)
    # dedup of multi-block hits can carry it through the distinct
    cand = (
        qb.join(idx, "block_key").select("query", "name", "__nkey").distinct()
    )
    # query-side key joined back precomputed (translit once per query)
    scored = score_pairs(
        cand.join(
            qk.select(F.col("node").alias("query"), F.col("key").alias("__qkey")),
            "query",
        ),
        "__qkey",
        "__nkey",
        cfg.scoring,
    ).where(F.col("score") >= tau)
    from pyspark.sql import Window

    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("name"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query", "name", "score", F.col("rank").cast("long").alias("rank")
        )
    )
