"""Scoring-layer plan pins: every scoring plan runs the pair-features
kernel ONCE per pair row.  ``pair_features_udf`` is a nondeterministic
plan barrier, so Catalyst never merges two equal calls of it: a score
expression that calls the kernel per feature reference runs it once
per reference (each one is another UDF output of the ArrowEvalPython
node)."""

import pytest
from pyspark.sql import functions as F

from rosette_elasticsearch_plugin_spark.resolution.scoring import score_pairs

SF = "/root/testdata/sf0.001"


def _kernel_evals(df) -> tuple[int, int]:
    """(ArrowEvalPython nodes calling pair_features_udf, UDF outputs
    they produce) in the executed physical plan, walked through AQE
    query stages."""
    nodes = outputs = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(p.plan())
        if name == "ArrowEvalPython":
            udfs = p.udfs()
            k = sum(
                udfs.apply(i).name() == "pair_features_udf"
                for i in range(udfs.size())
            )
            nodes += k > 0
            outputs += k
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return nodes, outputs


@pytest.fixture
def no_codegen_fallback(spark):
    """A generated stage over janino's 64 KB method limit raises
    instead of silently falling back to interpreted evaluation."""
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


def _pair_edges_df(spark):
    from rosette_elasticsearch_plugin_spark import corpus
    from rosette_elasticsearch_plugin_spark.operators.entities import (
        distinct_mention_names,
    )
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        name_match_edges,
    )

    docs, _ = corpus.to_spark(spark, corpus.generate(n_docs=60, seed=42))
    # name_match_edges returns er_pipeline._pair_edges over its
    # candidate pairs: the union-branch plan the barrier protects
    return name_match_edges(distinct_mention_names(docs))[1]


def _registry(name):
    from rosette_elasticsearch_plugin_spark.plans import driver_queries

    return lambda spark: getattr(driver_queries, name)(spark, SF)


def _search_df(spark):
    from rosette_elasticsearch_plugin_spark.plans.search import search_names

    names = spark.createDataFrame(
        [("dan aykroyd",), ("dan akroyd",), ("karim svensson",)], "node string"
    )
    queries = spark.createDataFrame(
        [("dan aykroyd",), ("k svensson",)], "q string"
    )
    return search_names(queries, names)


@pytest.mark.parametrize(
    "build",
    [
        _pair_edges_df,
        _registry("q_er_scored_pairs"),
        _registry("q_er_match_edges"),
        _registry("q_er_score_explain"),
        _registry("q_er_threshold_sweep"),
        _registry("q_er_label_queue"),
        _registry("q_er_cross_link"),
        _registry("q_er_one_to_one"),
        _search_df,
    ],
    ids=["pair_edges", "er_scored_pairs", "er_match_edges",
         "er_score_explain", "er_threshold_sweep", "er_label_queue",
         "er_cross_link", "er_one_to_one", "search_names"],
)
def test_scoring_runs_kernel_once(spark, no_codegen_fallback, build):
    df = build(spark)
    df.collect()
    assert _kernel_evals(df) == (1, 1)


def test_null_key_scores_null(spark):
    """A NULL key scores NULL, never 0.0 — the multiplicative gates and
    the expansion floor must not turn a missing score into a number."""
    df = spark.createDataFrame(
        [
            ("dan aykroyd", None),
            (None, "dan akroyd"),
            (None, None),
            ("k svensson", "karim svensson"),
        ],
        "a string, b string",
    )
    got = {
        (r["a"], r["b"]): r["score"]
        for r in score_pairs(df, "a", "b").collect()
    }
    assert got[("dan aykroyd", None)] is None
    assert got[(None, "dan akroyd")] is None
    assert got[(None, None)] is None
    assert got[("k svensson", "karim svensson")] >= 0.70
    assert score_pairs(df, "a", "b").where(F.col("score") == 0.0).count() == 0
