"""Nickname canonicalization (functions/aliases.py) and the best-match
star/mutual decision layers (resolution/clustering.best_match_edges)."""

import pytest
from pyspark.sql import functions as F

from rosette_elasticsearch_plugin_spark.functions.aliases import (
    NICKNAMES,
    alias_canonical_col,
    alias_canonical_py,
    alias_canonical_sql,
)
from rosette_elasticsearch_plugin_spark.resolution.clustering import (
    best_match_edges,
    connected_components,
)


def test_alias_dictionary_is_lowercase_and_acyclic():
    # keys/values lowercase ASCII (applied after translit_lower), and no
    # nickname maps to another nickname (a chain would make the rewrite
    # order-dependent)
    for k, v in NICKNAMES.items():
        assert k == k.lower() and v == v.lower()
        assert k.isascii() and v.isascii()
        assert v not in NICKNAMES, f"chained mapping {k}->{v}->{NICKNAMES[v]}"
        assert k != v


CASES = [
    ("bill whitfield", "william whitfield"),
    ("peggy sandoval", "margaret sandoval"),
    ("dan aykroyd", "daniel aykroyd"),
    ("karim svensson", "karim svensson"),  # unknown tokens pass through
    ("", ""),
    ("billy bob whitfield", "william robert whitfield"),
]


def test_alias_py_known_cases():
    for inp, want in CASES:
        assert alias_canonical_py(inp) == want
    assert alias_canonical_py(None) is None


def test_alias_col_sql_py_parity(spark, duck):
    inputs = [c[0] for c in CASES] + [None, "meg", "x meg y liz z"]
    df = spark.createDataFrame([(s,) for s in inputs], "s string")
    got_col = [
        r["out"]
        for r in df.select(alias_canonical_col(F.col("s")).alias("out"))
        .collect()
    ]
    vals = ", ".join(
        "(" + ("NULL" if s is None else "'" + s + "'") + ")" for s in inputs
    )
    got_sql = [
        r[0]
        for r in duck.execute(
            f"select {alias_canonical_sql('s')} from (values {vals}) t(s)"
        ).fetchall()
    ]
    want = [alias_canonical_py(s) for s in inputs]
    assert got_col == want
    assert got_sql == want


def test_alias_resolution_links_nickname_variants(spark):
    """'bill whitfield' co-clusters with 'william whitfield' only under
    alias_names=True — the gap the dictionary exists to close."""
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        ERConfig,
        resolve_names,
    )

    names = spark.createDataFrame(
        [
            ("bill whitfield",),
            ("william whitfield",),
            ("liz marchetti",),
            ("elizabeth marchetti",),
            ("karim svensson",),
        ],
        "node string",
    )

    def cluster_of(df, node):
        return {r["node"]: r["cluster"] for r in df.collect()}[node]

    plain = resolve_names(names, ERConfig())
    assert cluster_of(plain, "bill whitfield") != cluster_of(
        plain, "william whitfield"
    )
    aliased = resolve_names(names, ERConfig(alias_names=True))
    assert cluster_of(aliased, "bill whitfield") == cluster_of(
        aliased, "william whitfield"
    )
    assert cluster_of(aliased, "liz marchetti") == cluster_of(
        aliased, "elizabeth marchetti"
    )
    # the unrelated name stays a singleton
    assert cluster_of(aliased, "karim svensson") == "karim svensson"


def test_alias_cfg_flows_through_search_and_incremental(spark):
    """The alias key rewrite must be one consistent notion of 'the
    key' across the full lifecycle: fuzzy search and incremental
    resolution honor ERConfig.alias_names exactly like batch."""
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        ERConfig,
        resolve_names,
    )
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        incremental_resolve,
    )
    from rosette_elasticsearch_plugin_spark.plans.search import search_names

    cfg = ERConfig(alias_names=True)
    corpus = spark.createDataFrame(
        [("william whitfield",), ("karim svensson",)], "node string"
    )
    queries = spark.createDataFrame([("bill whitfield",)], "q string")
    hits = search_names(queries, names=corpus, cfg=cfg).collect()
    assert [(r["query"], r["name"]) for r in hits] == [
        ("bill whitfield", "william whitfield")
    ]
    assert hits[0]["score"] == pytest.approx(1.0)
    # and with aliases off the nickname query finds nothing
    assert (
        search_names(queries, names=corpus, cfg=ERConfig()).count() == 0
    )

    prior = resolve_names(
        spark.createDataFrame([("william whitfield",)], "node string"), cfg
    )
    inc = incremental_resolve(
        prior,
        spark.createDataFrame([("billy whitfield",)], "node string"),
        cfg,
    )
    got = {r["node"]: r["cluster"] for r in inc.collect()}
    assert got["billy whitfield"] == got["william whitfield"]

    # retraction re-keys with the same alias rewrite: deleting the
    # formal names must leave the nickname variants linked, exactly as
    # the batch recompute over the remaining names links them — with
    # and without a persisted name index
    from rosette_elasticsearch_plugin_spark.plans.incremental import (
        extend_name_index,
        retract_names,
    )

    families = {
        "whitfield": ["william", "billy", "bill", "will"],
        "lindqvist": ["robert", "bob", "bobby", "rob"],
        "moreau": ["elizabeth", "liz", "beth", "betty"],
    }
    all_names = [f"{g} {s}" for s, gs in families.items() for g in gs]
    formal = [f"{gs[0]} {s}" for s, gs in families.items()]
    names = spark.createDataFrame([(n,) for n in all_names], "node string")
    removed = spark.createDataFrame([(n,) for n in formal], "node string")
    prior = resolve_names(names, cfg)
    want = {
        r["node"]: r["cluster"]
        for r in resolve_names(
            names.join(removed, "node", "left_anti"), cfg
        ).collect()
    }
    assert len(set(want.values())) == 3  # one cluster per family
    for index in (None, extend_name_index(None, names, cfg)):
        got = retract_names(prior, removed, cfg, name_index=index)
        assert {r["node"]: r["cluster"] for r in got.collect()} == want


def _clusters(spark, scored_rows, mutual):
    scored = spark.createDataFrame(
        scored_rows, "node_a string, node_b string, score double"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in sorted({r[0] for r in scored_rows}
                              | {r[1] for r in scored_rows})],
        "node string",
    )
    edges = best_match_edges(scored, threshold=0.5, mutual=mutual)
    out = connected_components(edges, nodes=nodes)
    return {r["node"]: r["cluster"] for r in out.collect()}


def test_mutual_best_match_cuts_score_descending_chain(spark):
    # a-b (0.9) stronger than b-c (0.6): b's best is a, so bc is not
    # reciprocal — mutual splits c out; star keeps the chain (c's best
    # IS b, and star takes the union of per-node best edges)
    rows = [("a", "b", 0.9), ("b", "c", 0.6)]
    mut = _clusters(spark, rows, mutual=True)
    assert mut["a"] == mut["b"] != mut["c"]
    star = _clusters(spark, rows, mutual=False)
    assert star["a"] == star["b"] == star["c"]


def test_star_collapses_hub_fanout(spark):
    # hub h barely matches x1..x3 (0.55) but strongly matches y (0.95):
    # star keeps only h-y from h; each xi still contributes its own
    # best edge (h), so star alone does not split xi — but mutual does.
    rows = [("h", "x1", 0.55), ("h", "x2", 0.55), ("h", "x3", 0.55),
            ("h", "y", 0.95)]
    mut = _clusters(spark, rows, mutual=True)
    assert mut["h"] == mut["y"]
    assert len({mut["x1"], mut["x2"], mut["x3"], mut["h"]}) == 4
    star = _clusters(spark, rows, mutual=False)
    assert star["h"] == star["y"] == star["x1"]


def test_best_match_edges_below_threshold_empty(spark):
    scored = spark.createDataFrame(
        [("a", "b", 0.4)], "node_a string, node_b string, score double"
    )
    assert best_match_edges(scored, threshold=0.5).count() == 0
    assert best_match_edges(scored, threshold=0.5, mutual=True).count() == 0


def test_best_match_tie_breaks_by_smallest_neighbor(spark):
    # equal scores: a's best is b (smallest id), deterministically
    scored = spark.createDataFrame(
        [("a", "b", 0.8), ("a", "c", 0.8)],
        "node_a string, node_b string, score double",
    )
    star = best_match_edges(scored, threshold=0.5).collect()
    got = {(r["node_a"], r["node_b"]) for r in star}
    # a->b (tie break), b->a, c->a
    assert got == {("a", "b"), ("a", "c")}


def test_bestmatch_oracle_modes_reject_bad_input():
    from rosette_elasticsearch_plugin_spark.plans.er_oracle import (
        cluster_ctes,
    )

    with pytest.raises(ValueError):
        cluster_ctes(["a"], edge_mode="nope")
    with pytest.raises(ValueError):
        cluster_ctes(["a"], edge_mode="star", must_link=[("a", "b")])


def test_alias_resolution_meets_north_rule_on_nickname_corpus(spark):
    """With 8 planted nickname families, alias_names=True must hold the
    F1 ≥ 0.99 / zero-false-merge bar on planted truth — and without it
    the nickname variants demonstrably split their families."""
    from pyspark.sql import functions as F

    from rosette_elasticsearch_plugin_spark import corpus
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        ERConfig,
        resolve_documents,
    )

    c = corpus.generate(n_docs=240, seed=42, n_nickname_families=8)
    docs, truth = corpus.to_spark(spark, c)

    def prf(cfg):
        _, name_clusters = resolve_documents(docs, cfg=cfg)
        t = truth.select("mention_id", "entity_label", "normalized")
        tc = t.join(
            name_clusters.withColumnRenamed("node", "normalized"),
            "normalized", "left",
        ).withColumn("cluster", F.coalesce("cluster", F.col("normalized")))
        a, b = tc.alias("a"), tc.alias("b")
        p = a.join(
            b, F.col("a.mention_id") < F.col("b.mention_id")
        ).select(
            (F.col("a.entity_label") == F.col("b.entity_label")).alias("m"),
            (F.col("a.cluster") == F.col("b.cluster")).alias("p"),
        ).cache()
        tp = p.where("m and p").count()
        fp = p.where("not m and p").count()
        fn = p.where("m and not p").count()
        prec = tp / max(tp + fp, 1)
        rec = tp / max(tp + fn, 1)
        return fp, rec, 2 * prec * rec / max(prec + rec, 1e-9)

    fp, rec, f1 = prf(ERConfig(alias_names=True))
    assert fp == 0, "alias config caused false merges"
    assert f1 >= 0.99, f"f1={f1:.4f}"
    _fp0, rec0, _f10 = prf(ERConfig())
    assert rec0 < rec, "nickname families should split without aliases"
