"""The benchmark's own tests:

    python3 -m pytest erbench/test_erbench.py -q

A tiny-size run of each workload in both modes, the contingency-count
F1 against the engine's pair-enumerating ``pairwise_f1``, and the
generator's determinism and resolvability rules."""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import shutil
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from measure import contingency_f1, stop_spark  # noqa: E402
from workloads import FoldSize, WideVocabSize  # noqa: E402

TINY = {
    "er_wide_vocab": WideVocabSize(families=30, docs=60),
    "er_incremental_fold": FoldSize(base_families=20, base_docs=40, deltas=2,
                                    new_families=2, known_names=8),
}


def _families(n: int, seed: int):
    rng = random.Random(seed)
    return gen.make_families(rng.sample(range(gen.NAME_POOL), n),
                             rng.sample(range(gen.NAME_POOL), n), rng, "T")


def test_generator_is_seeded_and_resolvable():
    a = gen.make_docs(_families(50, 7), 80, random.Random(1))
    b = gen.make_docs(_families(50, 7), 80, random.Random(1))
    c = gen.make_docs(_families(50, 8), 80, random.Random(1))
    assert a.docs == b.docs and a.docs != c.docs
    fams = _families(400, 3)
    signatures = {(f.canonical[0], f.canonical.split()[1]) for f in fams}
    assert len(signatures) == len(fams)
    surfaces = [s for f in fams for s in f.surfaces]
    assert len(set(surfaces)) == len(surfaces)
    # every family's first mention in document order is its canonical
    canonical = {f.label: f.canonical for f in _families(50, 7)}
    first_seen = {}
    for _doc, spans in a.docs:
        for kind, text, _ref, _off in spans:
            if kind == "text":
                surface = next(s for s in a.truth if f" {s} and " in f" {text}")
                first_seen.setdefault(a.truth[surface], surface)
    assert first_seen == {k: canonical[k] for k in first_seen}


@pytest.fixture
def spark():
    work = os.path.join(run.BUILD, "test-session")
    run._env(work)
    session = run._session(work)
    yield session
    stop_spark(session)
    shutil.rmtree(work, ignore_errors=True)


def test_contingency_f1_matches_pairwise_f1(spark):
    from pyspark.sql import functions as F

    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        resolve_documents)
    from rosette_elasticsearch_plugin_spark.resolution.evaluate import (
        pairwise_f1, predicted_pairs)

    fams = _families(12, 5)
    canonical = {f.label: f.canonical for f in fams}
    corpus = gen.make_docs(fams, 30, random.Random(5))
    path = os.path.join(run.BUILD, "test-session", "docs.parquet")
    gen.write_docs_parquet(corpus.docs, path)
    assigned, _ = resolve_documents(spark.read.parquet(path))
    resolved = [tuple(r) for r in
                assigned.select("mention_id", "surface", "cluster").collect()]
    # a second clustering with planted errors: one entity is split and
    # two are merged, so F1 is well below 1
    labels = sorted({corpus.truth[s] for _m, s, _c in resolved})

    def perturb(m, s, c):
        if corpus.truth[s] == labels[0] and s != canonical[labels[0]]:
            return m, s, "split"
        return m, s, "merged" if corpus.truth[s] in labels[1:3] else c

    broken = [perturb(*r) for r in resolved]
    for rows in (resolved, broken):
        cells = Counter((corpus.truth[s], c) for _m, s, c in rows)
        mine = contingency_f1(cells)
        df = spark.createDataFrame(
            [(m, corpus.truth[s], c) for m, s, c in rows],
            "mention_id string, label string, cluster string")
        a, b = df.alias("a"), df.alias("b")
        labeled = a.join(b, F.col("a.mention_id") < F.col("b.mention_id")).select(
            F.col("a.mention_id").alias("mention_id_a"),
            F.col("b.mention_id").alias("mention_id_b"),
            F.lit("all").alias("block_key"),
            (F.col("a.label") == F.col("b.label")).alias("is_match"),
        )
        theirs = pairwise_f1(labeled, predicted_pairs(df), by_block=False)
        assert round(mine, 6) == theirs.collect()[0]["f1"]
    assert contingency_f1(Counter(
        (corpus.truth[s], c) for _m, s, c in broken)) < 0.95


with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run(workload, trace):
    # a fresh interpreter per run: PySpark cannot start a second JVM
    # gateway in a process whose first one was shut down
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        result = pool.apply(run.run, (workload, 1, 0.1, bool(trace),
                                      TINY[workload]))
    assert result["correct"], result
    assert result["attempted"] >= 1 and result["failed"] == 0
    spec = _SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values())
    if not trace:
        assert result["metrics"]["pairwise_f1"]["value"] > 0.9
