"""Incremental resolution ≡ batch resolution (plans/incremental.py)."""

import pytest
from pyspark.sql import functions as F

from rosette_elasticsearch_plugin_spark import corpus
from rosette_elasticsearch_plugin_spark.operators.entities import (
    distinct_mention_names,
)
from rosette_elasticsearch_plugin_spark.plans.er_pipeline import resolve_names
from rosette_elasticsearch_plugin_spark.plans.incremental import (
    incremental_resolve,
)


def _clusters_dict(df):
    return {r["node"]: r["cluster"] for r in df.collect()}


def test_incremental_equals_full_recompute(spark):
    c = corpus.generate(n_docs=160, seed=7)
    docs, _ = corpus.to_spark(spark, c)
    b1 = docs.where(F.col("doc_id") < "doc00080")
    b2 = docs.where(F.col("doc_id") >= "doc00080")

    full = _clusters_dict(resolve_names(distinct_mention_names(docs)))
    prior = resolve_names(distinct_mention_names(b1))
    inc = _clusters_dict(incremental_resolve(prior, distinct_mention_names(b2)))
    assert inc == full


def test_incremental_empty_delta_is_identity(spark):
    c = corpus.generate(n_docs=60, seed=11)
    docs, _ = corpus.to_spark(spark, c)
    names = distinct_mention_names(docs)
    prior = resolve_names(names)
    again = _clusters_dict(incremental_resolve(prior, names))
    assert again == _clusters_dict(prior)


def test_incremental_new_variant_joins_existing_cluster(spark):
    """A brand-new surface variant of an existing entity must land in
    the same component as that entity (min-node labels may rename the
    component — that IS the batch semantic; see stable_relabel for the
    id-stable view)."""
    prior_names = spark.createDataFrame(
        [("dan aykroyd",), ("daniel aykroyd",), ("matt damon",)], "node string"
    )
    prior = resolve_names(prior_names)
    before = _clusters_dict(prior)
    new = spark.createDataFrame([("aykroyd dan",), ("sofia moreau",)], "node string")
    after = _clusters_dict(incremental_resolve(prior, new))
    assert after["aykroyd dan"] == after["dan aykroyd"]  # same component
    assert after["matt damon"] == before["matt damon"]
    assert after["sofia moreau"] == "sofia moreau"  # new singleton


def test_stable_relabel_keeps_prior_ids(spark):
    """Production id stability: a component keeps its prior cluster id
    even when a lexicographically smaller member joins."""
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        stable_relabel,
    )

    prior_names = spark.createDataFrame(
        [("dan aykroyd",), ("daniel aykroyd",), ("matt damon",)], "node string"
    )
    prior = resolve_names(prior_names)
    before = _clusters_dict(prior)
    new = spark.createDataFrame([("aykroyd dan",), ("sofia moreau",)], "node string")
    raw = incremental_resolve(prior, new)
    stable = _clusters_dict(stable_relabel(raw, prior))
    assert stable["aykroyd dan"] == before["dan aykroyd"]  # id preserved
    assert stable["dan aykroyd"] == before["dan aykroyd"]
    assert stable["matt damon"] == before["matt damon"]
    assert stable["sofia moreau"] == "sofia moreau"


def test_indexed_incremental_equals_full_recompute(spark):
    """Feeding incremental_resolve a persisted-and-extended name index
    (blocking kernels over the delta only) must give the exact clusters
    of both the re-keying incremental path and the full batch
    recompute."""
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        extend_name_index,
    )

    c = corpus.generate(n_docs=160, seed=7)
    docs, _ = corpus.to_spark(spark, c)
    b1 = docs.where(F.col("doc_id") < "doc00080")
    b2 = docs.where(F.col("doc_id") >= "doc00080")
    n1, n2 = distinct_mention_names(b1), distinct_mention_names(b2)

    full = _clusters_dict(resolve_names(distinct_mention_names(docs)))
    prior = resolve_names(n1)
    idx1 = extend_name_index(None, n1)
    idx2 = extend_name_index(idx1, n2)
    inc = _clusters_dict(incremental_resolve(prior, n2, name_index=idx2))
    assert inc == full


def test_extend_name_index_never_rekeys_old_names(spark):
    """Old names' rows must be carried from the prior index verbatim —
    proven by poisoning the prior index with a synthetic block row that
    re-keying could never produce and checking it survives extension."""
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        extend_name_index,
    )

    old = spark.createDataFrame([("dan aykroyd",)], "node string")
    idx1 = extend_name_index(None, old)
    poison = spark.createDataFrame(
        [("dan aykroyd", "dan aykroyd", "POISON:not-a-real-key")],
        "node string, key string, block_key string",
    )
    idx2 = extend_name_index(
        idx1.unionByName(poison),
        spark.createDataFrame(
            [("dan aykroyd",), ("sofia moreau",)], "node string"
        ),
    )
    rows = {(r["node"], r["block_key"]) for r in idx2.collect()}
    # the poison row survives: the old name was not re-keyed
    assert ("dan aykroyd", "POISON:not-a-real-key") in rows
    # and the delta name was keyed fresh
    assert any(n == "sofia moreau" for n, _ in rows)


def test_extend_name_index_carries_keyless_names(spark):
    """A name that produces ZERO block keys (metaphone-only blocking,
    CJK name with no codable tokens) must still be carried in the
    index with a NULL block_key — so the index node set stays equal to
    prior ∪ new and the name is never re-keyed on later batches."""
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import ERConfig
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        extend_name_index,
    )
    from rosette_elasticsearch_plugin_spark.resolution.blocking import (
        BlockingConfig,
    )

    cfg = ERConfig(
        blocking=BlockingConfig(
            use_exact=False, use_metaphone=True, use_minhash=False
        )
    )
    names = spark.createDataFrame([("北京",), ("dan aykroyd",)], "node string")
    idx = extend_name_index(None, names, cfg)
    by_node: dict[str, list] = {}
    for r in idx.collect():
        by_node.setdefault(r["node"], []).append(r["block_key"])
    # node set contract holds, keyless name carried with NULL key
    assert set(by_node) == {"北京", "dan aykroyd"}
    assert by_node["北京"] == [None]
    assert all(k is not None for k in by_node["dan aykroyd"])
    # and the keyless name is NOT re-keyed on the next batch: poison
    # its row; extension must preserve it verbatim
    poison = idx.where(F.col("node") == "北京").withColumn(
        "key", F.lit("POISON")
    )
    idx2 = extend_name_index(
        idx.where(F.col("node") != "北京").unionByName(poison),
        spark.createDataFrame([("北京",), ("new name here",)], "node string"),
        cfg,
    )
    keys = {r["node"]: r["key"] for r in idx2.collect() if r["node"] == "北京"}
    assert keys["北京"] == "POISON"


# --- retraction (delete-incrementality, plans/incremental.retract_names)


def test_retract_equals_full_recompute(spark):
    """retract(prior, removed) ≡ resolve(names − removed), label for
    label — splits included (every 6th name of the sorted vocabulary
    deletes plenty of bridge variants and cluster minima)."""
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        retract_names,
    )

    c = corpus.generate(n_docs=160, seed=7)
    docs, _ = corpus.to_spark(spark, c)
    names = distinct_mention_names(docs)
    prior = resolve_names(names)
    removed_list = sorted(r["node"] for r in names.collect())[::6]
    removed = spark.createDataFrame([(n,) for n in removed_list], "node string")

    got = _clusters_dict(retract_names(prior, removed))
    want = _clusters_dict(resolve_names(names.join(removed, "node", "left_anti")))
    assert got == want


def test_retract_splits_bridge(spark):
    """Deleting the bridge variant of a chain-shaped component must
    SPLIT it — the two ends only matched through the middle."""
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        retract_names,
    )

    names = spark.createDataFrame(
        [("dan aykroyd",), ("dan aykroyd jr",), ("daniel aykroyd jr",),
         ("matt damon",)],
        "node string",
    )
    prior = resolve_names(names)
    before = _clusters_dict(prior)
    # chain shape precondition: all three variants one component
    assert (
        before["dan aykroyd"]
        == before["dan aykroyd jr"]
        == before["daniel aykroyd jr"]
    )
    removed = spark.createDataFrame([("dan aykroyd jr",)], "node string")
    after = _clusters_dict(retract_names(prior, removed))
    want = _clusters_dict(
        resolve_names(names.where(F.col("node") != "dan aykroyd jr"))
    )
    assert after == want
    assert "dan aykroyd jr" not in after
    assert after["matt damon"] == "matt damon"


def test_retract_uncaps_block_and_merges(spark):
    """A block pushed OVER max_block_size by crowd names pairs nothing;
    deleting crowd members shrinks it back under the cap and its
    re-admitted pairs must MERGE the survivors — the cap-crossing path
    of retract_names, checked against the full recompute."""
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import ERConfig
    from rosette_elasticsearch_plugin_spark.resolution.blocking import (
        BlockingConfig,
    )
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        retract_names,
    )

    # every shared block of the match pair ("dan aykroyd" ~ "dan
    # aykroid": m:TN from dan, m:AKRT from aykroyd/aykroid) is crowded
    # over cap=4 by three names carrying BOTH tokens; their third
    # tokens' blocks are singletons, so NOTHING pairs before the
    # delete.  MinHash is off — its banded keys would stochastically
    # give the near-identical pair a private block and defeat the cap.
    crowd = ["dan aykroyd smith", "dan aykroyd jones", "dan aykroyd brown"]
    pair = ["dan aykroyd", "dan aykroid"]
    cfg = ERConfig(
        blocking=BlockingConfig(use_minhash=False), max_block_size=4
    )
    names = spark.createDataFrame([(n,) for n in crowd + pair], "node string")
    prior = resolve_names(names, cfg)
    before = _clusters_dict(prior)
    assert all(before[n] == n for n in crowd + pair)  # all capped apart

    removed = spark.createDataFrame([(n,) for n in crowd[:2]], "node string")
    after = _clusters_dict(retract_names(prior, removed, cfg))
    want = _clusters_dict(
        resolve_names(
            names.join(removed, "node", "left_anti"), cfg
        )
    )
    assert after == want
    assert after["dan aykroyd"] == after["dan aykroid"]  # merged


def test_retract_unknown_and_empty_noop(spark):
    """Unknown names are ignored; deleting nothing returns the prior
    state unchanged."""
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        retract_names,
    )

    names = spark.createDataFrame(
        [("dan aykroyd",), ("daniel aykroyd",), ("matt damon",)], "node string"
    )
    prior = resolve_names(names)
    ghost = spark.createDataFrame([("zzyzx nobody",)], "node string")
    assert _clusters_dict(retract_names(prior, ghost)) == _clusters_dict(prior)


def test_retract_with_persisted_index(spark):
    """The persisted-index path (no blocking kernel over the prior
    vocabulary) must agree with the re-keying path."""
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        extend_name_index,
        retract_names,
    )

    c = corpus.generate(n_docs=80, seed=13)
    docs, _ = corpus.to_spark(spark, c)
    names = distinct_mention_names(docs)
    prior = resolve_names(names)
    index = extend_name_index(None, names)
    removed_list = sorted(r["node"] for r in names.collect())[::5]
    removed = spark.createDataFrame([(n,) for n in removed_list], "node string")

    with_index = _clusters_dict(retract_names(prior, removed, name_index=index))
    without = _clusters_dict(retract_names(prior, removed))
    assert with_index == without


@pytest.mark.parametrize("op", ["fold", "retract"])
@pytest.mark.parametrize(
    "opt", [{"snm_window": 2}, {"meta_tau": 0.5}], ids=["snm", "meta"]
)
def test_batch_only_options_raise(spark, op, opt):
    """Fold and retract pair only inside name-index blocks, so a
    batch-only candidate family would silently split what batch merges
    (exact-only blocking + snm_window=2: batch links "dan aykroyd jr"
    to "dan aykroyd", a fold left it a singleton).  Loud error instead."""
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import ERConfig
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        retract_names,
    )
    from rosette_elasticsearch_plugin_spark.resolution.blocking import (
        BlockingConfig,
    )

    cfg = ERConfig(
        blocking=BlockingConfig(use_metaphone=False, use_minhash=False),
        **opt,
    )
    prior = spark.createDataFrame(
        [("dan aykroyd", "dan aykroyd"), ("vladimir putin", "vladimir putin")],
        "node string, cluster string",
    )
    delta = spark.createDataFrame([("dan aykroyd jr",)], "node string")
    fn = incremental_resolve if op == "fold" else retract_names
    with pytest.raises(ValueError, match=next(iter(opt))):
        fn(prior, delta, cfg)
