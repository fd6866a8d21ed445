"""Driver contract consistency + sampled oracle parity at sf0.001
(the full set runs via scripts/check_oracles.py; here a fast subset
guards against regressions in pytest)."""

import sys

import pytest

sys.path.insert(0, "/root/repo")

from __spark_entry__ import oracle_sql, queries

SF = "/root/testdata/sf0.001"
SAMPLE = ["er_scored_pairs", "er_clusters", "dedup_simhash",
          "ann_brute_topk", "ros_language", "guard_passthrough",
          "ann_ivf_topk", "corpus_clean", "sample_stratified",
          "er_bcubed", "er_cross_link", "er_score_explain",
          "er_cluster_confidence", "er_golden_record",
          "er_threshold_sweep", "er_override_resolve",
          "er_label_queue", "er_resolution_diff",
          "stream_windowed_counts", "ingest_json_docs"]


def test_oracle_keys_subset_of_queries():
    qs, os_ = queries(), oracle_sql()
    assert set(os_) <= set(qs)
    # every query has a full oracle since round 3: er_resume_pipeline
    # (the last rows-only entry) now runs over the deterministic
    # fixture corpus, so its resumed CONTENTS are checked against the
    # batch recompute via the er_oracle VALUES mirror; resume MECHANICS
    # stay covered by tests/test_state.py.
    assert set(qs) == set(os_)


def test_sampled_oracle_parity(spark, duck):
    sys.path.insert(0, "/root/repo/scripts")
    from check_oracles import TABLES, canon

    for t in TABLES:
        duck.execute(
            f"create view if not exists {t} as select * from '{SF}/{t}.parquet'"
        )
    qs, os_ = queries(), oracle_sql()
    for name in SAMPLE:
        sdf = qs[name](spark, SF).toPandas()
        ddf = duck.execute(os_[name]).fetchdf()
        scols, svals = canon(sdf)
        dcols, dvals = canon(ddf)
        assert scols == dcols, name
        assert svals == dvals, name


def test_corpus_clean_semantics(spark):
    """The composed cleaning pipeline drops every non-keeper duplicate
    (the dup-augmented ids ≥ 1000000 are copies of kept originals) and
    every surviving row clears the language + quality gates."""
    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq

    rows = dq.q_corpus_clean(spark, SF).collect()
    assert rows
    assert all(r["doc_id"] < 1000000 for r in rows)
    assert all(r["ros_language"] == "eng" for r in rows)
    assert all(r["quality"] >= dq.CLEAN_QUALITY_TAU for r in rows)


def test_sample_stratified_downsamples_dominant_stratum(spark):
    """Deterministic mixing: the eng stratum lands near its configured
    percentage; other strata are kept whole; re-running yields the
    identical sample (hash predicate, not rand())."""
    from pyspark.sql import functions as F

    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq

    full = dq._docs(spark, SF).select(
        "doc_id",
        dq.TS.detect_language_col(F.col("text")).alias("ros_language"),
    )
    n_eng = full.where(F.col("ros_language") == "eng").count()
    n_other = full.count() - n_eng
    got = dq.q_sample_stratified(spark, SF)
    first = {r["doc_id"] for r in got.collect()}
    eng_kept = got.where(F.col("ros_language") == "eng").count()
    assert got.count() - eng_kept == n_other  # non-eng strata untouched
    # h56 is uniform: expect pct ± a generous binomial margin
    assert abs(eng_kept / n_eng - dq.SAMPLE_PCT_ENG / 100) < 0.15
    again = {r["doc_id"] for r in dq.q_sample_stratified(spark, SF).collect()}
    assert first == again


def test_bcubed_perfect_on_fixture(spark):
    """The resolved fixture corpus scores B³ = 1.0 — cluster-level
    agreement with planted truth, matching the pairwise F1 = 1.0 pin
    (er_name_f1) on the same corpus."""
    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq

    row = dq.q_er_bcubed(spark, SF).collect()[0]
    assert row["n_mentions"] > 0
    assert row["bcubed_precision"] == 1.0
    assert row["bcubed_recall"] == 1.0
    assert row["bcubed_f1"] == 1.0


def test_cross_link_only_cross_source_pairs(spark):
    """Cross-source linkage emits only A↔B pairs, every link clears the
    match threshold, and at least one true variant pair links across
    the md5-parity split."""
    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import ERConfig

    rows = dq.q_er_cross_link(spark, SF).collect()
    assert rows
    tau = ERConfig().scoring.threshold
    for r in rows:
        assert r["source_a"] != r["source_b"]
        assert r["node_a"] < r["node_b"]
        assert r["score"] >= tau - 5e-7  # round(…, 6) on output


def test_cluster_confidence_component_invariants(spark):
    """Every row is a true multi-member component: at least a spanning
    tree of match edges (n_edges ≥ n_members−1), and min ≤ mean with
    min clearing the match threshold."""
    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import ERConfig

    rows = dq.q_er_cluster_confidence(spark, SF).collect()
    assert rows
    tau = ERConfig().scoring.threshold
    for r in rows:
        assert r["n_members"] >= 2
        assert r["n_edges"] >= r["n_members"] - 1
        assert tau - 5e-7 <= r["min_score"] <= r["avg_score"] + 1e-9


def test_golden_record_survivorship_invariants(spark):
    """One golden record per cluster; the canonical name is a member of
    the cluster with maximal mention support (lexicographic-min on
    ties), and support counts are internally consistent."""
    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq

    golden = {r["cluster"]: r for r in dq.q_er_golden_record(spark, SF).collect()}
    assert golden  # non-degenerate fixture
    clusters = dq.q_er_clusters(spark, SF).collect()
    members: dict[str, set] = {}
    for r in clusters:
        members.setdefault(r["cluster"], set()).add(r["token"])
    mentions = dq.q_er_mentions(spark, SF).collect()
    support: dict[str, int] = {}
    for m in mentions:
        support[m["token"]] = support.get(m["token"], 0) + 1
    assert set(golden) == set(members)
    for cid, g in golden.items():
        assert g["canonical_name"] in members[cid]
        best = max(
            members[cid], key=lambda t: (support.get(t, 0), )
        )
        best_n = support.get(best, 0)
        ties = sorted(t for t in members[cid] if support.get(t, 0) == best_n)
        assert g["canonical_name"] == ties[0]
        assert g["canonical_mentions"] == best_n
        assert g["n_aliases"] == len(members[cid])
        assert g["n_mentions"] == sum(support.get(t, 0) for t in members[cid])
        assert 1 <= g["n_docs"] <= g["n_mentions"]


def test_override_resolve_semantics(spark):
    """The demo overrides re-assign the ambiguous 'b petrov' record to
    Dmitri's cluster with no residual violations; a LONE cannot-link on
    a pair with an alternate path is correctly reported as violated
    (edge edits, not partition constraints)."""
    from rosette_elasticsearch_plugin_spark import corpus
    from rosette_elasticsearch_plugin_spark.operators.entities import (
        distinct_mention_names,
    )
    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        override_violations,
        resolve_names_with_overrides,
    )

    cl = {r["node"]: r["cluster"]
          for r in dq.q_er_override_resolve(spark, SF).collect()}
    assert cl["b petrov"] == cl["dmitri petrov"] == cl["petrov dmitri"]
    assert cl["b petrov"] != cl["bruno petrov"]
    assert cl["brnuo petrov"] == cl["bruno petrov"] == cl["petrov bruno"]
    out = resolve_names_with_overrides(
        distinct_mention_names(
            corpus.to_spark(spark, corpus.generate(n_docs=120, seed=42))[0]
        ),
        must_link=dq.OVERRIDE_MUST_LINK,
        cannot_link=dq.OVERRIDE_CANNOT_LINK,
    )
    assert override_violations(out, dq.OVERRIDE_CANNOT_LINK).count() == 0
    # one removed edge, but 'brnuo petrov' ↔ 'bruno petrov' still
    # connect through 'petrov bruno' — must surface as a violation
    lone = [("brnuo petrov", "bruno petrov")]
    out2 = resolve_names_with_overrides(
        distinct_mention_names(
            corpus.to_spark(spark, corpus.generate(n_docs=120, seed=42))[0]
        ),
        cannot_link=lone,
    )
    v = override_violations(out2, lone).collect()
    assert [(r["node_a"], r["node_b"]) for r in v] == lone


def test_override_noop_equals_resolve_names(spark):
    """With empty override lists the override path degrades to exactly
    resolve_names — same (node, cluster) set."""
    from rosette_elasticsearch_plugin_spark import corpus
    from rosette_elasticsearch_plugin_spark.operators.entities import (
        distinct_mention_names,
    )
    from rosette_elasticsearch_plugin_spark.plans.er_pipeline import (
        resolve_names,
        resolve_names_with_overrides,
    )

    docs = corpus.to_spark(spark, corpus.generate(n_docs=60, seed=7))[0]
    names = distinct_mention_names(docs)
    base = {(r["node"], r["cluster"]) for r in resolve_names(names).collect()}
    noop = {
        (r["node"], r["cluster"])
        for r in resolve_names_with_overrides(names).collect()
    }
    assert base == noop


def test_entry_smoke(spark):
    from __spark_entry__ import entry

    df = entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "mention_id", "surface", "normalized", "cluster"]


def test_registry_window_typo_raises():
    """The registry ordering check raises ValueError (it must not
    vanish under ``python -O`` like an ``assert``) when the 50-name
    window carries a name the registry does not have."""
    from rosette_elasticsearch_plugin_spark.plans import driver_queries as dq

    typo = ["er_clsuters" if k == "er_clusters" else k for k in dq._WINDOW_50]
    with pytest.raises(ValueError, match="er_clsuters"):
        dq._rotated(dq.QUERIES, typo)
    with pytest.raises(ValueError, match="window"):
        dq._rotated(dq.QUERIES, dq._WINDOW_50[:49])
    assert list(dq._rotated(dq.QUERIES)) == list(dq.QUERIES)
