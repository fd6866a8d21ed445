"""Traced run: one span around every public layer call a unit makes.

The traced unit runs the same code as the untraced one.  ``instrument``
swaps each public layer function, as seen by its callers' modules, for
a wrapper that opens a span, tags the Spark jobs it starts with a job
group of its own, and forces the DataFrame it returns, so the work of a
layer happens inside its span and not in whichever later call first
needs the rows.  Counts are taken after the span closes, in a
``trace.count`` span of their own: no layer owns it, and as a child it
is left out of the enclosing span's self time.  ``cc.rounds`` is read
from a second ``connected_components`` call with ``stats``, so the
traced call is the caller's own.  Forcing and counting are the tracing
overhead that ``trace.overhead_ratio`` reports.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from statistics import median

from pyspark.sql import DataFrame

# layer prefix of every span name; each gets <layer>.spark_jobs/.tasks
LAYERS = (
    "entities", "blocking", "pairs", "scoring", "cc", "assign",
    "incremental", "table_io",
)
# span name -> self-time metric
TIME_METRICS = {
    "entities.names": "entities.names_s",
    "entities.mentions": "entities.mentions_s",
    "blocking": "blocking.s",
    "pairs": "pairs.s",
    "scoring": "scoring.s",
    "cc": "cc.s",
    "assign": "assign.s",
    "incremental.index": "incremental.index_s",
    "incremental.resolve": "incremental.resolve_s",
    "incremental.relabel": "incremental.relabel_s",
    "table_io.commit": "table_io.commit_s",
    "table_io.read": "table_io.read_s",
}
# counts of work done; each must repeat exactly across runs with one seed
COUNT_METRICS = (
    "entities.names_out", "entities.mentions_out", "blocking.rows",
    "blocking.blocks", "pairs.candidates", "pairs.capped_blocks",
    "scoring.edges", "cc.rounds", "incremental.delta_names",
    "table_io.bytes_written",
)
METRIC_UNITS = {
    **{m: "s" for m in TIME_METRICS.values()},
    **{m: "count" for m in COUNT_METRICS},
    "table_io.bytes_written": "bytes",
    "scoring.pairs_per_s": "pairs/s",
    "scoring.match_ratio": "ratio",
    **{f"{layer}.{k}": "count" for layer in LAYERS
       for k in ("spark_jobs", "tasks")},
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Span:
    sid: int
    name: str
    unit: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; ``write`` dumps them to one file."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.unit: int | None = None

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"erbench-{span.sid}", span.name)

    def _jobs_and_tasks(self, group: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.unit,
                 parent.sid if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            s.jobs, s.tasks = self._jobs_and_tasks(f"erbench-{s.sid}")

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered

    def unit_metrics(self, unit: int) -> dict[str, float]:
        """Per-layer metrics of one traced unit: self times and counts
        summed over the unit's spans."""
        out = {m: 0.0 for m in TIME_METRICS.values()}
        out.update({m: 0 for m in COUNT_METRICS})
        out.update({f"{layer}.{k}": 0 for layer in LAYERS
                    for k in ("spark_jobs", "tasks")})
        scored = 0
        for s in self.spans:
            if s.unit != unit or s.name not in TIME_METRICS:
                continue
            out[TIME_METRICS[s.name]] += self.self_time(s)
            layer = s.name.split(".")[0]
            out[f"{layer}.spark_jobs"] += s.jobs
            out[f"{layer}.tasks"] += s.tasks
            for k, v in s.counts.items():
                if k == "scoring.scored":
                    scored += v
                else:
                    out[k] += v
        out["scoring.pairs_per_s"] = (
            scored / out["scoring.s"] if out["scoring.s"] > 0 else 0.0
        )
        out["scoring.match_ratio"] = (
            out["scoring.edges"] / out["pairs.candidates"]
            if out["pairs.candidates"] else 0.0
        )
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def median_metrics(per_unit: list[dict[str, float]]) -> dict[str, float]:
    return {k: median([m[k] for m in per_unit]) for k in per_unit[0]}


def _rows(key):
    return lambda fn, args, kwargs, out: {key: out.count()}


def _blocks(fn, args, kwargs, out):
    return {
        "blocking.rows": out.count(),
        "blocking.blocks": out.select("block_key").distinct().count(),
    }


def _pairs(fn, args, kwargs, out):
    from rosette_elasticsearch_plugin_spark.resolution.pairs import block_sizes

    cap = args[1] if len(args) > 1 else kwargs["max_block_size"]
    return {
        "pairs.candidates": out.count(),
        "pairs.capped_blocks": block_sizes(args[0]).where(f"n > {cap}").count(),
    }


def _rounds(fn, args, kwargs, out):
    stats: dict = {}
    fn(*args, **{**kwargs, "stats": stats})
    return {"cc.rounds": stats["rounds"]}


def _delta(fn, args, kwargs, out):
    prior = args[0] if args else kwargs["prior_clusters"]
    return {"incremental.delta_names": out.count() - prior.count()}


def _bytes(fn, args, kwargs, out):
    return {"table_io.bytes_written": sum(f["bytes"] for f in out.files)}


def _targets():
    from rosette_elasticsearch_plugin_spark.operators import entities
    from rosette_elasticsearch_plugin_spark.plans import er_pipeline, incremental
    from rosette_elasticsearch_plugin_spark.sources.table_io import SnapshotTable

    # (owner, attribute, span name, counter); a function is patched in
    # every module that calls it through its own global name
    return [
        (entities, "distinct_mention_names", "entities.names",
         _rows("entities.names_out")),
        (er_pipeline, "extract_mentions", "entities.mentions",
         _rows("entities.mentions_out")),
        *[(mod, attr, name, counter)
          for mod in (er_pipeline, incremental)
          for attr, name, counter in (
              ("er_key_col", "blocking", None),
              ("all_blocks", "blocking", _blocks),
              ("candidate_pairs", "pairs", _pairs),
              ("score_pairs", "scoring", _rows("scoring.scored")),
              ("match_edges", "scoring", _rows("scoring.edges")),
              ("connected_components", "cc", _rounds),
          )],
        (er_pipeline, "assign_cluster_ids", "assign", None),
        (incremental, "extend_name_index", "incremental.index", None),
        (incremental, "incremental_resolve", "incremental.resolve", _delta),
        (incremental, "stable_relabel", "incremental.relabel", None),
        (SnapshotTable, "commit", "table_io.commit", _bytes),
        (SnapshotTable, "read", "table_io.read", None),
    ]


def _wrap(tracer: Tracer, fn, name: str, counter):
    def traced(*args, **kwargs):
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        if counter is not None:
            with tracer.span("trace.count"):
                s.counts.update(counter(fn, args, kwargs, out))
        return out

    return traced


@contextmanager
def instrument(tracer: Tracer):
    """Route every public layer call through ``tracer`` while active."""
    saved = []
    try:
        for owner, attr, name, counter in _targets():
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, _wrap(tracer, fn, name, counter))
        yield tracer
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)
