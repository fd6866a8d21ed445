"""Structured-Streaming continuous entity resolution — the production
composition of the two proven pieces:

* ``streaming/ingest.py``'s micro-batch machinery (readStream →
  ``foreachBatch`` → idempotent snapshot commits keyed by
  (query id, batch id)), and
* ``plans/incremental.py``'s delta-proportional resolution
  (old×old candidate pairs are never re-scored; the prior clustering
  enters connected components as star edges).

Each micro-batch of documents folds its NEW distinct names into the
committed cluster state and commits the complete (node, cluster) table
as the next snapshot, so:

* the clusters table is *state*, not a log — readers always see one
  atomic, complete resolution (mode="overwrite" per commit, the
  reference's index-then-refresh visibility:
  ``RosetteTextAnalysisPluginIT.java:214-219``);
* a crash between the table commit and the streaming checkpoint
  replays the batch, and the (run id, batch id) stage label makes the
  replay a no-op — exactly-once state visibility on at-least-once
  delivery;
* because incremental resolution is batch-equivalent for ANY corpus
  split (``plans/incremental.py`` docstring — proven by the
  ``er_incremental`` oracle), the final streamed state with min-node
  labels equals the full-corpus batch recompute REGARDLESS of how the
  stream chopped the input into micro-batches.  That makes the whole
  streaming path DuckDB-oracle-checkable (``stream_incremental_resolve``).

At the 10^12-doc design point this is the daily shape: the delta
streams in, per-batch cost is delta-proportional (blocking keys only
the delta's new names — ``extend_name_index`` appends them to the
committed name index — and only pairs with a new side reach the Arrow
scoring hop), and the committed state is the same bucketed snapshot
table the search path serves from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..plans.er_pipeline import ERConfig
from ..plans.incremental import (
    extend_name_index,
    incremental_resolve,
    retract_names,
    stable_relabel,
)
from ..sources.table_io import SnapshotTable
from .ingest import checkpoint_run_id

CLUSTERS_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType()),
        T.StructField("cluster", T.StringType()),
    ]
)


def _read_current(
    spark: SparkSession,
    table: SnapshotTable,
    empty_schema: T.StructType | None = None,
) -> DataFrame | None:
    """``table``'s current snapshot; before its first commit, an empty
    frame of ``empty_schema`` (``None`` without one)."""
    snap = table.current_snapshot()
    if snap is not None:
        return table.read(spark, snap.snapshot_id)
    if empty_schema is None:
        return None
    return spark.createDataFrame([], empty_schema)


def _commit_batch(
    stage_label: str, batch_id: int, *commits: tuple[SnapshotTable, DataFrame]
) -> None:
    """Overwrite each ``(table, df)`` in the order given, under the
    batch's stage label.  Callers pass the clusters table LAST: its
    commit is the batch's completion marker (a replay whose label is
    already on the clusters table is skipped), and re-overwriting the
    earlier tables on a replay is deterministic and idempotent."""
    for table, df in commits:
        table.commit(
            df,
            stage=stage_label,
            metrics={"batch_id": float(batch_id)},
            mode="overwrite",
        )


def resolve_stream(
    spark: SparkSession,
    input_dir: str,
    clusters_root: str,
    checkpoint_dir: str,
    cfg: ERConfig = ERConfig(),
    schema: T.StructType | None = None,
    stable_ids: bool = True,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Start a continuous-resolution stream; returns the StreamingQuery.

    input_dir: parquet documents in the north-star shape
        (doc_id, spans:array<struct<kind,text,media_ref,offset>>).
    clusters_root: SnapshotTable holding the complete (node, cluster)
        state; each micro-batch commits the next full state snapshot.
    stable_ids: apply the production id rule (components touching prior
        clusters keep the smallest PRIOR id) instead of raw min-node
        labels.  Min-node labels are batch-equivalent and hence
        oracle-checkable; stable ids are what downstream references
        need.  Membership (the partition into clusters) is identical
        either way — only the label choice differs.
    """
    from ..operators.entities import distinct_mention_names
    from ..schema import DOCUMENTS

    table = SnapshotTable(clusters_root)
    # the name index lives BESIDE the clusters state: blocking keys of
    # old names never change, so each batch extends the committed index
    # with its delta instead of re-keying the whole vocabulary (the
    # metaphone/MinHash kernels run over new names only)
    index_table = SnapshotTable(clusters_root.rstrip("/") + "_index")
    run_id_cache: list[str] = []

    stream = (
        spark.readStream.schema(schema or DOCUMENTS)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        run_id = checkpoint_run_id(checkpoint_dir, run_id_cache)
        stage_label = f"resolve-{run_id}-batch-{batch_id}"
        if table.last_snapshot_for(stage_label) is not None:
            return  # replayed batch — state already committed
        prior = _read_current(spark, table, CLUSTERS_SCHEMA)
        prior_index = _read_current(spark, index_table)
        # With an empty prior every candidate pair has a new side and
        # the star edge set is empty, so batch 0 degenerates to the
        # full resolve — one code path for bootstrap and steady state.
        new_names = distinct_mention_names(batch_df)
        index = extend_name_index(prior_index, new_names, cfg)
        clusters = incremental_resolve(prior, new_names, cfg, name_index=index)
        if stable_ids:
            clusters = stable_relabel(clusters, prior)
        _commit_batch(
            stage_label,
            batch_id,
            (index_table, index.select("node", "key", "block_key")),
            (table, clusters.select("node", "cluster")),
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),  # "add" | "delete"
        T.StructField("node", T.StringType()),
    ]
)

COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def resolve_cdc_stream(
    spark: SparkSession,
    input_dir: str,
    clusters_root: str,
    checkpoint_dir: str,
    cfg: ERConfig = ERConfig(),
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Continuous resolution over a CHANGE stream — adds AND deletes.

    ``resolve_stream`` covers the append-only daily shape; this is the
    CDC shape: upstream enrichment emits name-reference events
    (op ∈ {add, delete}, node), e.g. one add per distinct name of an
    ingested document and one delete per distinct name of an erased
    one.  A refcount table (node, n) — a third SnapshotTable beside
    clusters and the name index — tracks liveness: a name is resolved
    while ANY source document still references it.

    Per micro-batch:
      * net the batch's events per name (one groupBy) and merge into
        the committed counts (full outer join — vocabulary-scale state
        maintenance, same cost class as the index commit);
      * names whose count crosses 0 → positive fold in via
        ``incremental_resolve`` (old×old never re-scored);
      * names whose count crosses positive → 0 retract via
        ``retract_names`` (only their clusters re-resolve);
      * commit counts, index, clusters — clusters last, its
        (run, batch) stage label is the replay-idempotence marker.

    Deletes of never-added names are noise (count clamped at 0), and a
    later re-add of a retracted name is just a new name again — its
    blocking keys are still in the append-only index, so it is not
    re-keyed.  Labels are min-node (the batch semantic): because
    incremental ≡ batch and retract ≡ full-recompute label-for-label,
    the final state equals ``resolve_names`` over exactly the names
    with positive final refcount, REGARDLESS of how the stream chopped
    or interleaved the events — which is what the
    ``stream_cdc_resolve`` driver oracle checks hash-for-hash.
    """
    table = SnapshotTable(clusters_root)
    index_table = SnapshotTable(clusters_root.rstrip("/") + "_index")
    counts_table = SnapshotTable(clusters_root.rstrip("/") + "_counts")
    run_id_cache: list[str] = []

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        run_id = checkpoint_run_id(checkpoint_dir, run_id_cache)
        stage_label = f"cdc-resolve-{run_id}-batch-{batch_id}"
        if table.last_snapshot_for(stage_label) is not None:
            return  # replayed batch — state already committed
        prior = _read_current(spark, table, CLUSTERS_SCHEMA)
        prior_index = _read_current(spark, index_table)
        counts = _read_current(spark, counts_table, COUNTS_SCHEMA)

        delta = batch_df.groupBy("node").agg(
            F.sum(
                F.when(F.col("op") == "add", F.lit(1)).otherwise(F.lit(-1))
            ).alias("d")
        )
        merged = (
            counts.join(delta, "node", "full_outer")
            .select(
                "node",
                F.greatest(
                    F.coalesce(F.col("n"), F.lit(0))
                    + F.coalesce(F.col("d"), F.lit(0)),
                    F.lit(0),
                ).alias("new_n"),
                F.coalesce(F.col("n"), F.lit(0)).alias("old_n"),
            )
            .localCheckpoint(eager=True)
        )
        appeared = merged.where(
            (F.col("old_n") <= 0) & (F.col("new_n") > 0)
        ).select("node")
        vanished = merged.where(
            (F.col("old_n") > 0) & (F.col("new_n") <= 0)
        ).select("node")

        index = extend_name_index(prior_index, appeared, cfg)
        clusters = incremental_resolve(prior, appeared, cfg, name_index=index)
        clusters = retract_names(clusters, vanished, cfg, name_index=index)

        _commit_batch(
            stage_label,
            batch_id,
            (
                counts_table,
                merged.where(F.col("new_n") > 0).select(
                    "node", F.col("new_n").alias("n")
                ),
            ),
            (index_table, index.select("node", "key", "block_key")),
            (table, clusters.select("node", "cluster")),
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
