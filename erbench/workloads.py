"""The benchmark's workloads.  A unit is one closed-loop request: the
next starts only after the previous unit's output has been committed.

The engine is reached only through the public functions of its layer
modules, always looked up on the module at call time so that the traced
run (``tracing.instrument``) sees every call.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from rosette_elasticsearch_plugin_spark.operators import entities
from rosette_elasticsearch_plugin_spark.plans import er_pipeline, incremental
from rosette_elasticsearch_plugin_spark.sources.table_io import SnapshotTable

import gen
from measure import contingency_f1

CFG = er_pipeline.ERConfig()
OUT_COLS = ("doc_id", "mention_id", "surface", "normalized", "cluster")
# a unit whose output resolves this badly has failed, whatever its speed
F1_FLOOR = 0.9


@dataclass(frozen=True)
class WideVocabSize:
    families: int = 300
    docs: int = 600


@dataclass(frozen=True)
class FoldSize:
    base_families: int = 80
    base_docs: int = 160
    deltas: int = 4
    new_families: int = 4      # per delta, each with all 4 surfaces
    known_names: int = 40      # per delta, distinct base surfaces


@dataclass
class UnitOutput:
    key: int                    # which input the unit ran on
    sid: int                    # snapshot of its committed output


@dataclass
class Check:
    ok: bool
    f1: float
    names: int                  # distinct names the unit resolved
    reason: str = ""
    fingerprint: tuple = field(default=(), repr=False)


def _mention_rows(df) -> list[tuple]:
    return sorted(
        tuple(r) for r in
        df.groupBy("surface", "normalized", "cluster").count().collect()
    )


def _mention_errors(rows: list[tuple], planted: Counter) -> str:
    got, cluster_of = Counter(), {}
    for surface, _norm, cluster, n in rows:
        got[surface] += n
        if cluster_of.setdefault(surface, cluster) != cluster:
            return f"surface {surface!r} is split across clusters"
    if got != planted:
        return "extracted mentions differ from the planted ones"
    return ""


def _partition(clusters: dict[str, str]) -> set[frozenset]:
    groups: dict[str, set] = {}
    for node, cluster in clusters.items():
        groups.setdefault(cluster, set()).add(node)
    return {frozenset(g) for g in groups.values()}


def _commit_docs(spark, docs: list[tuple], path: str, table: SnapshotTable,
                 delta: list[int] | None = None):
    gen.write_docs_parquet(docs, path, delta)
    table.commit(spark.read.parquet(path), stage="docs")


class WideVocab:
    """Full batch resolution of a corpus with many entities and few
    documents per name: name-side layers dominate."""

    name = "er_wide_vocab"

    def __init__(self, spark, work: str, seed: int,
                 size: WideVocabSize = WideVocabSize()):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.docs_table = SnapshotTable(os.path.join(work, "docs"))
        self.out_table = SnapshotTable(os.path.join(work, "out"))
        self.docs_per_unit = size.docs

    def build_inputs(self) -> None:
        rng = random.Random(self.seed)
        n = self.size.families
        fams = gen.make_families(
            rng.sample(range(gen.NAME_POOL), n),
            rng.sample(range(gen.NAME_POOL), n), rng, "W",
        )
        self.corpus = gen.make_docs(fams, self.size.docs, rng)
        _commit_docs(self.spark, self.corpus.docs,
                     os.path.join(self.work, "docs.parquet"), self.docs_table)

    def build_state(self) -> None:
        pass

    def keys(self):
        while True:
            yield 0

    def unit(self, key: int) -> UnitOutput:
        docs = self.docs_table.read(self.spark)
        assigned, _ = er_pipeline.resolve_documents(docs, cfg=CFG)
        snap = self.out_table.commit(assigned.select(*OUT_COLS), stage="out")
        return UnitOutput(key, snap.snapshot_id)

    def check(self, u: UnitOutput) -> Check:
        rows = _mention_rows(self.out_table.read(self.spark, u.sid))
        err = _mention_errors(rows, self.corpus.surface_counts)
        cells = Counter()
        for surface, _norm, cluster, n in rows:
            cells[(self.corpus.truth.get(surface), cluster)] += n
        f1 = contingency_f1(cells)
        if not err and f1 < F1_FLOOR:
            err = f"pairwise F1 {f1:.4f} below {F1_FLOOR}"
        return Check(not err, f1, len({r[1] for r in rows}), err, tuple(rows))

    def final_check(self, last: UnitOutput) -> str:
        return ""


class IncrementalFold:
    """Fold one small delta of documents into a resolved base state.
    Every unit starts from the same base snapshot, so units are
    identically distributed and state does not grow between them."""

    name = "er_incremental_fold"

    def __init__(self, spark, work: str, seed: int, size: FoldSize = FoldSize()):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.base_table = SnapshotTable(os.path.join(work, "base_docs"))
        self.deltas_table = SnapshotTable(os.path.join(work, "deltas"))
        self.clusters_table = SnapshotTable(os.path.join(work, "clusters"))
        self.index_table = SnapshotTable(os.path.join(work, "index"))
        self.docs_per_unit = (4 * size.new_families + size.known_names) // 2

    def build_inputs(self) -> None:
        s, rng = self.size, random.Random(self.seed)
        total = s.base_families + s.deltas * s.new_families
        firsts = rng.sample(range(gen.NAME_POOL), total)
        lasts = rng.sample(range(gen.NAME_POOL), total)
        nb = s.base_families
        base = gen.make_families(firsts[:nb], lasts[:nb], rng, "B")
        self.base = gen.make_docs(base, s.base_docs, rng, doc_prefix="b")
        self.deltas = []
        for k in range(s.deltas):
            lo = nb + k * s.new_families
            new = gen.make_families(firsts[lo:lo + s.new_families],
                                    lasts[lo:lo + s.new_families], rng, f"N{k}-")
            self.deltas.append(gen.make_delta(
                self.base, new, s.known_names, rng, f"k{k}-"))
        _commit_docs(self.spark, self.base.docs,
                     os.path.join(self.work, "base.parquet"), self.base_table)
        _commit_docs(self.spark, [d for x in self.deltas for d in x.docs],
                     os.path.join(self.work, "deltas.parquet"),
                     self.deltas_table,
                     [k for k, x in enumerate(self.deltas) for _ in x.docs])

    def build_state(self) -> None:
        """Resolve the base corpus once and commit clusters and the
        name index: the state every fold starts from.  Also extract the
        mentions of base and deltas once, to check extraction against
        the planted mentions and to map surfaces to names for F1."""
        docs = self.base_table.read(self.spark)
        names = entities.distinct_mention_names(docs).localCheckpoint()
        clusters = er_pipeline.resolve_names(names, CFG)
        index = incremental.extend_name_index(None, names, CFG)
        self.base_clusters_sid = self.clusters_table.commit(
            clusters, stage="clusters").snapshot_id
        self.base_index_sid = self.index_table.commit(
            index, stage="index").snapshot_id
        self.base_clusters = self._folded(self.base_clusters_sid)
        all_docs = docs.unionByName(
            self.deltas_table.read(self.spark).drop("delta"))
        rows = (entities.extract_mentions(all_docs)
                .groupBy("surface", "normalized").count().collect())
        self.name_of = {s: norm for s, norm, _n in rows}
        planted = sum((d.surface_counts for d in self.deltas),
                      Counter(self.base.surface_counts))
        if Counter({s: n for s, _norm, n in rows}) != planted:
            raise RuntimeError("extracted mentions differ from the planted ones")

    def keys(self):
        k = 0
        while True:
            yield k % self.size.deltas
            k += 1

    def unit(self, key: int) -> UnitOutput:
        spark = self.spark
        prior = self.clusters_table.read(spark, self.base_clusters_sid)
        prior_index = self.index_table.read(spark, self.base_index_sid)
        docs = self.deltas_table.read(spark).where(F.col("delta") == key)
        new_names = entities.distinct_mention_names(docs)
        index = incremental.extend_name_index(prior_index, new_names, CFG)
        folded = incremental.incremental_resolve(
            prior, new_names, CFG, name_index=index)
        stable = incremental.stable_relabel(folded, prior)
        self.index_table.commit(index, stage="index")
        snap = self.clusters_table.commit(stable, stage="clusters")
        return UnitOutput(key, snap.snapshot_id)

    def _folded(self, sid: int) -> dict[str, str]:
        return dict(
            self.clusters_table.read(self.spark, sid)
            .select("node", "cluster").collect()
        )

    def check(self, u: UnitOutput) -> Check:
        delta, folded = self.deltas[u.key], self._folded(u.sid)
        delta_names = {self.name_of[s] for s in delta.surface_counts}
        err = ""
        if set(folded) != set(self.base_clusters) | delta_names:
            err = "folded names are not base names plus delta names"
        moved = {}
        for node, prior_id in self.base_clusters.items():
            if moved.setdefault(prior_id, folded[node]) != folded[node]:
                err = err or "a base cluster was split by the fold"
        if not set(moved.values()) <= set(self.base_clusters.values()):
            err = err or "a base cluster lost its prior id"
        if err:
            return Check(False, 0.0, len(delta_names), err)
        cells = Counter()
        for corpus in (self.base, delta):
            for surface, n in corpus.surface_counts.items():
                cells[(corpus.truth[surface],
                       folded[self.name_of[surface]])] += n
        f1 = contingency_f1(cells)
        if f1 < F1_FLOOR:
            err = f"pairwise F1 {f1:.4f} below {F1_FLOOR}"
        return Check(not err, f1, len(delta_names), err,
                     tuple(sorted(folded.items())))

    def final_check(self, last: UnitOutput) -> str:
        """The folded membership must equal one batch resolution of
        base names plus the delta's names (plans/incremental.py)."""
        folded = self._folded(last.sid)
        names = self.spark.createDataFrame(
            [(n,) for n in sorted(folded)], "node string")
        batch = dict(
            er_pipeline.resolve_names(names, CFG)
            .select("node", "cluster").collect()
        )
        if _partition(folded) != _partition(batch):
            return "folded membership differs from the batch resolution"
        return ""


WORKLOADS = {w.name: w for w in (WideVocab, IncrementalFold)}
