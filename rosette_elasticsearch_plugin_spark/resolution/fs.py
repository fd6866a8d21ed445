"""Fellegi-Sunter probabilistic record linkage weights.

The classical decision-theoretic model (Fellegi & Sunter 1969, the
foundation of Splink/febrl-style linkers): each candidate pair is
compared on K binary agreement features; for feature k,
    m_k = P(agree_k | pair is a match)
    u_k = P(agree_k | pair is a non-match)
and the pair's log-likelihood-ratio weight is
    W = Σ_k  log2(m_k/u_k)            if agree_k
            log2((1-m_k)/(1-u_k))     otherwise.
Pairs with W above an upper threshold are links, below a lower
threshold non-links, between them clerical-review candidates — the
score that er_label_queue-style review queues rank by.

Here m/u are estimated from labeled candidate pairs (the fixture
corpus carries planted truth; in production the labels come from a
clerical sample or EM).  Estimation is ONE map-side-combinable
aggregate over the scored pairs (Laplace-smoothed so no probability is
ever 0 or 1); the parameter "table" is a single broadcast row, so
scoring adds no shuffle on top of the candidate-pair join.

Features are built strictly from primitives that already have exact
DuckDB mirrors (key equality, shared Double-Metaphone block key, token
Jaccard, Levenshtein similarity), and the per-pair weight sums
log-terms QUANTIZED to integer micro-units, so the whole operator is
hash-checkable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.similarity import (
    levenshtein_sim_col,
    levenshtein_sim_sql,
    token_jaccard_col,
    token_jaccard_sql,
)
from .pairs import pair_sides

FS_JACCARD_TAU = 0.5
FS_LEV_TAU = 0.8
FS_FEATURES = ("f_exact", "f_phon", "f_jac", "f_lev")


def fs_features(
    pairs: DataFrame, keyed: DataFrame, blocks: DataFrame
) -> DataFrame:
    """Per-pair binary agreement vector.

    pairs:  (node_a, node_b) candidate pairs (node_a < node_b)
    keyed:  (node, key) canonical keys
    blocks: (node, block_key) the block index — the 'm:' family is
            reused as the phonetic-agreement feature, so no second
            metaphone pass runs.
    """
    mb = blocks.where(F.col("block_key").startswith("m:"))
    phon = (
        mb.select(F.col("node").alias("node_a"), "block_key")
        .join(
            mb.select(F.col("node").alias("node_b"), "block_key"),
            "block_key",
        )
        .select("node_a", "node_b")
        .distinct()
        .withColumn("f_phon", F.lit(True))
    )
    return (
        pair_sides(pairs, keyed)
        .join(phon, ["node_a", "node_b"], "left")
        .select(
            "node_a",
            "node_b",
            (F.col("key_a") == F.col("key_b")).alias("f_exact"),
            F.coalesce("f_phon", F.lit(False)).alias("f_phon"),
            (
                token_jaccard_col(F.col("key_a"), F.col("key_b"))
                >= FS_JACCARD_TAU
            ).alias("f_jac"),
            (
                levenshtein_sim_col(F.col("key_a"), F.col("key_b"))
                >= FS_LEV_TAU
            ).alias("f_lev"),
        )
    )


def fs_params(
    features: DataFrame,
    labeled: DataFrame,
    feature_names: tuple = FS_FEATURES,
) -> DataFrame:
    """Single-row m/u estimates over labeled candidate pairs.

    labeled: (node_a, node_b, is_match).  Laplace smoothing (+0.5 / +1)
    keeps every probability strictly inside (0, 1).
    feature_names: the binary agreement columns to estimate over — the
    model is feature-agnostic (multi-field linkage passes its own).
    """
    j = features.join(labeled, ["node_a", "node_b"])
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("double")  # noqa: E731
    aggs = [
        F.sum(F.when(F.col("is_match"), 1).otherwise(0))
        .cast("long")
        .alias("n_match"),
        F.sum(F.when(~F.col("is_match"), 1).otherwise(0))
        .cast("long")
        .alias("n_non"),
    ]
    for f in feature_names:
        aggs.append(
            (
                (cnt(F.col("is_match") & F.col(f)) + 0.5)
                / (cnt(F.col("is_match")) + 1.0)
            ).alias("m_" + f)
        )
        aggs.append(
            (
                (cnt(~F.col("is_match") & F.col(f)) + 0.5)
                / (cnt(~F.col("is_match")) + 1.0)
            ).alias("u_" + f)
        )
    return j.agg(*aggs)


def _quant_log2(x: Column) -> Column:
    """log2 quantized to integer micro-units — summable exactly."""
    return F.round(F.log2(x) * 1e6).cast("long")


def fs_weight(
    features: DataFrame,
    params: DataFrame,
    feature_names: tuple = FS_FEATURES,
) -> DataFrame:
    """Per-pair Fellegi-Sunter weight from a broadcast parameter row."""
    out = features.crossJoin(F.broadcast(params))
    total = F.lit(0).cast("long")
    for f in feature_names:
        m, u = F.col("m_" + f), F.col("u_" + f)
        term = F.when(F.col(f), _quant_log2(m / u)).otherwise(
            _quant_log2((1 - m) / (1 - u))
        )
        total = total + term
    return out.select(
        "node_a",
        "node_b",
        *feature_names,
        F.round(total / 1e6, 6).alias("fs_weight"),
    )


# ---------------------------------------------------------------- SQL mirror
def fs_features_sql(
    pairs_from: str, names_from: str, blocks_from: str
) -> str:
    """CTE body mirroring fs_features: ``feats`` over cpairs/names/blocks."""
    jac = token_jaccard_sql("ka.key", "kb.key")
    lev = levenshtein_sim_sql("ka.key", "kb.key")
    return f"""
phon as (select distinct ba.node as node_a, bb.node as node_b
         from {blocks_from} ba join {blocks_from} bb using (block_key)
         where ba.block_key like 'm:%'),
feats as (
  select p.node_a, p.node_b,
         (ka.key = kb.key) as f_exact,
         exists (select 1 from phon
                 where phon.node_a = p.node_a
                   and phon.node_b = p.node_b) as f_phon,
         ({jac}) >= {FS_JACCARD_TAU} as f_jac,
         ({lev}) >= {FS_LEV_TAU} as f_lev
  from {pairs_from} p
       join {names_from} ka on ka.node = p.node_a
       join {names_from} kb on kb.node = p.node_b)
"""


def fs_params_sql(
    labeled_join: str, feature_names: tuple = FS_FEATURES
) -> str:
    """CTE ``params`` over ``feats join <labels>`` (single row)."""
    cols = [
        "cast(sum(case when is_match then 1 else 0 end) as bigint)"
        " as n_match",
        "cast(sum(case when not is_match then 1 else 0 end) as bigint)"
        " as n_non",
    ]
    for f in feature_names:
        cols.append(
            f"(sum(case when is_match and {f} then 1.0 else 0.0 end) + 0.5)"
            f" / (sum(case when is_match then 1.0 else 0.0 end) + 1.0)"
            f" as m_{f}"
        )
        cols.append(
            f"(sum(case when not is_match and {f} then 1.0 else 0.0 end)"
            f" + 0.5)"
            f" / (sum(case when not is_match then 1.0 else 0.0 end) + 1.0)"
            f" as u_{f}"
        )
    return f"params as (select {', '.join(cols)} from {labeled_join})"


def fs_weight_sql(
    params_cte: str = "params", feature_names: tuple = FS_FEATURES
) -> str:
    """SELECT body computing fs_weight from ``feats cross join <params>``."""
    terms = []
    for f in feature_names:
        terms.append(
            f"case when {f} then cast(round(log2(m_{f} / u_{f}) * 1e6)"
            f" as bigint)"
            f" else cast(round(log2((1 - m_{f}) / (1 - u_{f})) * 1e6)"
            f" as bigint) end"
        )
    total = " + ".join(terms)
    feats = ", ".join(feature_names)
    return (
        f"select node_a, node_b, {feats},"
        f" round(({total}) / 1e6, 6) as fs_weight"
        f" from feats cross join {params_cte}"
    )


def fs_weight_tf(
    features: DataFrame, params: DataFrame, keyed: DataFrame
) -> DataFrame:
    """Splink-style term-frequency adjustment on the exact-key feature.

    The average u_f_exact treats agreement on ANY key value as equal
    evidence, but agreeing on a key shared by many vocabulary entries
    ("john smith") is far weaker evidence than agreeing on a rare one.
    Per Splink's tf_adjustments: for an agreeing pair on value v, the
    Bayes factor m/u is corrected by u / tf_v (tf_v = n_v / N over the
    keyed vocabulary), i.e. an additive log2(u_f_exact / tf_v) term —
    common values are discounted, rare values boosted; non-agreeing
    pairs keep the plain weight.

    Scale shape: tf is one combinable groupBy over the vocabulary plus
    a single-row total, both broadcast; the correction adds NO shuffle
    on top of fs_weight's.  Terms are quantized to integer micro-units
    like the base weight, so the output is hash-checkable.
    Output: (node_a, node_b, f_exact, fs_weight, tf_weight)."""
    ka = keyed.select(
        F.col("node").alias("node_a"), F.col("key").alias("key_a")
    )
    tf = keyed.groupBy("key").agg(F.count("*").alias("n_key"))
    tot = keyed.agg(F.count("*").cast("double").alias("n_tot"))
    out = (
        features.join(ka, "node_a")
        .join(
            F.broadcast(tf.withColumnRenamed("key", "key_a")),
            "key_a",
            "left",
        )
        .crossJoin(F.broadcast(params))
        .crossJoin(F.broadcast(tot))
    )
    total = F.lit(0).cast("long")
    for f in FS_FEATURES:
        m, u = F.col("m_" + f), F.col("u_" + f)
        term = F.when(F.col(f), _quant_log2(m / u)).otherwise(
            _quant_log2((1 - m) / (1 - u))
        )
        total = total + term
    adj = F.when(
        F.col("f_exact"),
        _quant_log2(
            F.col("u_f_exact") / (F.col("n_key") / F.col("n_tot"))
        ),
    ).otherwise(F.lit(0).cast("long"))
    return out.select(
        "node_a",
        "node_b",
        "f_exact",
        F.round(total / 1e6, 6).alias("fs_weight"),
        F.round((total + adj) / 1e6, 6).alias("tf_weight"),
    )


def fs_weight_tf_sql(
    names_from: str = "names", params_cte: str = "params"
) -> str:
    """SELECT body mirroring fs_weight_tf from ``feats``/names/params."""
    terms = []
    for f in FS_FEATURES:
        terms.append(
            f"case when {f} then cast(round(log2(m_{f} / u_{f}) * 1e6)"
            f" as bigint)"
            f" else cast(round(log2((1 - m_{f}) / (1 - u_{f})) * 1e6)"
            f" as bigint) end"
        )
    total = " + ".join(terms)
    adj = (
        "case when f_exact then cast(round(log2(u_f_exact /"
        " (tf.n_key / tot.n_tot)) * 1e6) as bigint)"
        " else cast(0 as bigint) end"
    )
    return f"""
, tf as (select key, count(*) as n_key from {names_from} group by key),
tot as (select cast(count(*) as double) as n_tot from {names_from})
select f.node_a, f.node_b, f.f_exact,
       round(({total}) / 1e6, 6) as fs_weight,
       round((({total}) + ({adj})) / 1e6, 6) as tf_weight
from feats f
     join {names_from} ka on ka.node = f.node_a
     left join tf on tf.key = ka.key
     cross join {params_cte} cross join tot
"""


# Fellegi-Sunter three-way decision thresholds (in log2-ratio bits):
# W ≥ upper → link, W ≤ lower → non-link, between → clerical review.
FS_UPPER, FS_LOWER = 4.0, 0.0


def fs_decision_col(
    w: Column, upper: float = FS_UPPER, lower: float = FS_LOWER
) -> Column:
    return (
        F.when(w >= upper, F.lit("link"))
        .when(w <= lower, F.lit("non_link"))
        .otherwise(F.lit("review"))
    )


def fs_decision_sql(
    w: str, upper: float = FS_UPPER, lower: float = FS_LOWER
) -> str:
    return (
        f"case when {w} >= {upper} then 'link' "
        f"when {w} <= {lower} then 'non_link' "
        f"else 'review' end"
    )


# --- unsupervised estimation: EM over the agreement patterns -----------------
# fs_params needs labels; production linkage usually has none.  The
# standard answer (Winkler's EM for the FS model, the core of
# Splink-style linkers) estimates λ (match prevalence) and every
# m_k/u_k from the candidate pairs' agreement patterns alone:
#
#   E-step:  p_i = λ·Π_k(γ_ik ? m_k : 1−m_k)
#                 / (λ·Π m-terms + (1−λ)·Π u-terms)
#   M-step:  m_k = Σ p_i·γ_ik / Σ p_i        (u_k symmetric with 1−p)
#            λ   = Σ p_i / N
#
# Determinism across engines: per-pair posteriors are QUANTIZED to
# integer nano-units before any aggregation (p_q = round(p·1e9) — exact
# long sums in any order; Σ(1−p)_q is exactly N·1e9 − Σp_q), and the
# re-estimated scalars are rounded to 6dp per round, so the unrolled
# iteration is value-identical between Spark and the SQL mirror.  Each
# round is one broadcast of a single parameter row + one combinable
# aggregate — the 10^12-pair shape (at that N switch the quantization
# to 1e6 units to stay inside int64).

FS_EM_INIT = (0.1, 0.9, 0.1)  # λ, m_k, u_k starting values


def fs_em_params(features: DataFrame, rounds: int = 2) -> DataFrame:
    """Single-row (n_pairs, lam, m_*, u_*) after ``rounds`` EM rounds."""
    spark = features.sparkSession
    lam0, m0, u0 = FS_EM_INIT
    cols = ["lam"]
    vals = [lam0]
    for f in FS_FEATURES:
        cols += ["m_" + f, "u_" + f]
        vals += [m0, u0]
    params = spark.createDataFrame([tuple(vals)], cols)
    for _ in range(rounds):
        j = features.crossJoin(F.broadcast(params))
        wm = F.col("lam")
        wu = F.lit(1.0) - F.col("lam")
        for f in FS_FEATURES:
            wm = wm * F.when(F.col(f), F.col("m_" + f)).otherwise(
                1 - F.col("m_" + f)
            )
            wu = wu * F.when(F.col(f), F.col("u_" + f)).otherwise(
                1 - F.col("u_" + f)
            )
        pq = F.round(wm / (wm + wu) * 1e9).cast("long")
        e = j.select(*FS_FEATURES, pq.alias("pq"))
        aggs = [
            F.sum("pq").alias("S"),
            F.count("*").cast("long").alias("N"),
        ]
        for f in FS_FEATURES:
            aggs.append(
                F.sum(F.when(F.col(f), F.col("pq")).otherwise(0)).alias(
                    "A_" + f
                )
            )
            aggs.append(
                F.sum(
                    F.when(F.col(f), F.lit(10**9) - F.col("pq")).otherwise(0)
                ).alias("B_" + f)
            )
        g = e.agg(*aggs)
        sel = [
            F.col("N"),
            F.round(F.col("S") / (F.col("N") * 1e9), 6).alias("lam"),
        ]
        for f in FS_FEATURES:
            sel.append(
                F.round(
                    (F.col("A_" + f) + 5e8) / (F.col("S") + 1e9), 6
                ).alias("m_" + f)
            )
            sel.append(
                F.round(
                    (F.col("B_" + f) + 5e8)
                    / ((F.col("N") * F.lit(10**9) - F.col("S")) + 1e9),
                    6,
                ).alias("u_" + f)
            )
        params = g.select(*sel).withColumnRenamed("N", "n_pairs")
    return params.select(
        "n_pairs",
        "lam",
        *[x for f in FS_FEATURES for x in ("m_" + f, "u_" + f)],
    )


def fs_em_sql(feats_from: str, rounds: int = 2) -> str:
    """Mirror: EM rounds unrolled as CTE pairs e{t}/p{t}."""
    lam0, m0, u0 = FS_EM_INIT
    init_cols = [f"cast({lam0} as double) as lam"]
    for f in FS_FEATURES:
        init_cols.append(f"cast({m0} as double) as m_{f}")
        init_cols.append(f"cast({u0} as double) as u_{f}")
    parts = [f"p0 as (select {', '.join(init_cols)})"]
    for t in range(1, rounds + 1):
        wm = ["lam"]
        wu = ["(1.0 - lam)"]
        for f in FS_FEATURES:
            wm.append(f"(case when {f} then m_{f} else 1 - m_{f} end)")
            wu.append(f"(case when {f} then u_{f} else 1 - u_{f} end)")
        wm_e = " * ".join(wm)
        wu_e = " * ".join(wu)
        flist = ", ".join(FS_FEATURES)
        parts.append(
            f"""e{t} as (select {flist},
      cast(round(({wm_e}) / (({wm_e}) + ({wu_e})) * 1e9) as bigint) as pq
      from {feats_from} cross join p{t - 1})"""
        )
        sel = [
            "cast(count(*) as bigint) as n_pairs",
            "round(sum(pq) / (count(*) * 1e9), 6) as lam",
        ]
        for f in FS_FEATURES:
            sel.append(
                f"round((sum(case when {f} then pq else 0 end) + 5e8)"
                f" / (sum(pq) + 1e9), 6) as m_{f}"
            )
            sel.append(
                f"round((sum(case when {f} then 1000000000 - pq else 0 end)"
                f" + 5e8) / ((count(*) * cast(1000000000 as bigint)"
                f" - sum(pq)) + 1e9), 6) as u_{f}"
            )
        parts.append(f"p{t} as (select {', '.join(sel)} from e{t})")
    cols = ", ".join(
        ["n_pairs", "lam"]
        + [x for f in FS_FEATURES for x in (f"m_{f}", f"u_{f}")]
    )
    return ",\n".join(parts) + f"\nselect {cols} from p{rounds}"
