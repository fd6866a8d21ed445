"""R7/R8 — vectorized pairwise scoring + match decision.

Score over the ER canonical key (transliterated normalized name):

  jw   = max(JaroWinkler(a,b), Jaro(sort_tokens(a), sort_tokens(b)),
             JaroWinkler(strip_spaces(a), strip_spaces(b)))
         (plain Jaro on the sorted alignment: sorting moves a shared
         surname to the front, and the Winkler prefix boost would
         inflate different-person pairs like "i almeida"/"p almeida")
  lev  = max(LevSim(a,b), LevSim(strip_spaces(a), strip_spaces(b)))
  jac  = token Jaccard
  cov  = 1 if both names have ≥2 tokens and every token of the shorter
         side aligns with some token of the other (prefix either way —
         initials "k svensson" ~ "karim svensson" — or token-level
         JW ≥ 0.85 — typos "lea" ~ "lena")
  raw  = 0.45·jw + 0.25·lev + 0.15·jac + 0.15·cov
  score = raw · 0.8  if token counts differ, min is a single token, and
                     the space-stripped forms differ (a bare surname
                     "petrov" must not match "b petrov"; concatenation
                     variants "ghostbusters" ~ "ghost busters" survive
                     because their stripped forms are equal)
          raw        otherwise

Execution: jw and the token-alignment features (cov, contra, expand)
need Python string work → ONE Arrow-batched pandas UDF computes them
all per batch (one Python hop, mirroring the reference's
one-HTTP-round-trip design, ``EntitiesProcessor.java:76-89``).
``score_pairs`` projects that UDF once per pair row into a struct
column and builds the score from the column; the UDF is a plan barrier
(nondeterministic), so Catalyst would run it once per reference if it
were called inside the score expression itself.  lev/jac/gates are JVM
built-ins.  DuckDB mirror in ``score_sql`` is value-identical (verified
in tests) so the driver oracle can check every score.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.similarity import (
    jaro_batch_np,
    jaro_winkler_py,
    levenshtein_sim_col,
    levenshtein_sim_sql,
    token_jaccard_col,
    token_jaccard_sql,
)
from .pairs import pair_sides

TOKEN_JW_MIN = 0.85


@dataclass(frozen=True)
class ScoringConfig:
    w_jw: float = 0.45
    w_lev: float = 0.25
    w_jac: float = 0.15
    w_cov: float = 0.15
    # both-single-token pairs: jac/cov are structurally 0, so the
    # general weights cap their score at w_jw+w_lev = 0.70 = τ and no
    # typo could ever match; renormalize over jw/lev instead
    w_jw_single: float = 0.65
    w_lev_single: float = 0.35
    single_token_penalty: float = 0.8
    contradiction_penalty: float = 0.5
    # initial-expansion pairs ("d novak" ~ "dmitri novak": equal token
    # counts, every aligned token prefix-compatible, ≥1 initial↔word
    # agreement) are canonical abbreviation matches; floor their score
    expansion_floor: float = 0.75
    threshold: float = 0.70


def sort_tokens_col(c: Column) -> Column:
    return F.array_join(F.array_sort(F.split(c, " ")), " ")


def sort_tokens_sql(expr: str) -> str:
    return f"array_to_string(list_sort(string_split({expr}, ' ')), ' ')"


def _tok_match(t: str, u: str) -> bool:
    return t.startswith(u) or u.startswith(t) or jaro_winkler_py(t, u) >= TOKEN_JW_MIN


def _pair_class(t: str, u: str) -> str | None:
    """Alignment-pair validity class: "ii" equal initials, "iw" initial
    agreeing with the word's first letter, "ww" word-word token match,
    None = invalid pairing."""
    if len(t) == 1 and len(u) == 1:
        return "ii" if t == u else None
    # u[:1] not u[0]: an empty token (double/leading space in a raw,
    # un-normalized query string) must classify as a failed compare —
    # exactly what the SQL mirror's substring(u, 1, 1) does — not raise
    if len(t) == 1:
        return "iw" if u[:1] == t else None
    if len(u) == 1:
        return "iw" if t[:1] == u else None
    if not _tok_match(t, u):
        return None
    # "xx" = valid but classless: a pairing involving an EMPTY token
    # (trivially prefix-compatible) must not count as a word-word
    # anchor — the SQL _pair_ww_sql requires length > 1 on both sides
    return "ww" if (len(t) > 1 and len(u) > 1) else "xx"


def _perms_for(tx: list[str], ty: list[str]):
    """Candidate token alignments for equal-count SORTED token lists:
    for 2-token names BOTH pairings (sorting alone can cross-pair an
    initial with the other name's surname — "b petrov" vs "p berg" must
    not align b↔berg / petrov↔p); for n≥3 the sorted positional
    alignment only (the SQL mirror does the same)."""
    if len(tx) != len(ty):
        return []
    if len(tx) == 2:
        return [(0, 1), (1, 0)]
    return [tuple(range(len(tx)))]


def _expand_tok(tx: list[str], ty: list[str]) -> float:
    """Initial-expansion detector over sorted token lists: some valid
    alignment pairs every token, with at least one initial↔word pair
    AND at least one word↔word anchor — "d novak" ~ "dmitri novak" yes;
    "b petrov" ~ "p berg" no (no shared word anchors the match)."""
    perms = _perms_for(tx, ty)
    if not perms or len(tx) < 2:
        return 0.0
    for pm in perms:
        classes = [_pair_class(tx[i], ty[pm[i]]) for i in range(len(tx))]
        if all(c is not None for c in classes):
            if "iw" in classes and "ww" in classes:
                return 1.0
    return 0.0


def _contra_tok(tx: list[str], ty: list[str]) -> float:
    """Contradiction gate over sorted token lists: equal-count names
    with NO valid alignment at all (no pairing of tokens where words
    token-match and initials agree by letter) denote different entities
    no matter how similar a shared surname makes them look — this stops
    surname-hub chains ("d lindqvist"–"t lindqvist") from transitively
    merging families."""
    perms = _perms_for(tx, ty)
    if not perms:
        return 0.0
    for pm in perms:
        classes = [_pair_class(tx[i], ty[pm[i]]) for i in range(len(tx))]
        if all(c is not None for c in classes):
            return 0.0
    return 1.0


def _cover_tok(tx: list[str], ty: list[str]) -> float:
    """Token coverage over SORTED token lists (cover is order-free:
    equal counts use the sorted positional alignment — stops a bare
    initial from matching the shared surname ("n nakamura" vs
    "t nakamura" must not cover via n→nakamura) — and the
    unequal-count any-match is insensitive to order)."""
    if len(tx) < 2 or len(ty) < 2:
        return 0.0
    if len(tx) == len(ty):
        return 1.0 if all(_tok_match(t, u) for t, u in zip(tx, ty)) else 0.0
    short, long_ = (tx, ty) if len(tx) <= len(ty) else (ty, tx)
    for t in short:
        if not any(_tok_match(t, u) for u in long_):
            return 0.0
    return 1.0


# --- numpy-batched token-alignment features ------------------------------------
#
# Vectorized across PAIRS, bucketed by token-count signature (na, nb):
# within a bucket every name has the same token count, so tokens pack
# into regular codepoint tensors (G × n × maxlen, built by the same
# _code_matrix as the batched Jaro) and prefix / equality / length
# tests become uint8 compares; only token pairs whose prefix test
# fails go through the batched Jaro-Winkler.  Semantics are kept
# decision-identical to the scalar _cover_tok/_contra_tok/_expand_tok
# (property-pinned), which remain the readable reference
# implementation.

_CLS_INVALID, _CLS_II, _CLS_IW, _CLS_WW, _CLS_XX = -1, 0, 1, 2, 3


def _startswith_codes(C1, C2):
    """C1 startswith C2, elementwise over the last (codepoint) axis —
    true iff at every position C2 is exhausted (pad 0) or chars equal."""
    return ((C2 == 0) | (C1 == C2)).all(axis=-1)


def _tok_match_codes(C1, C2, gather):
    """_tok_match over codepoint tensors; ``gather(mask) -> (t_list,
    u_list)`` supplies the original strings for the JW fallback on
    prefix-failing entries."""
    pre = _startswith_codes(C1, C2) | _startswith_codes(C2, C1)
    need = ~pre
    if need.any():
        ts, us = gather(need)
        jw = jaro_batch_np(ts, us, winkler=True)
        out = pre.copy()
        out[need] = jw >= TOKEN_JW_MIN
        return out
    return pre


def _pair_class_codes(CA, CB, gather):
    """_pair_class over codepoint tensors → int8 class codes."""
    import numpy as np

    lt = (CA != 0).sum(axis=-1)
    lu = (CB != 0).sum(axis=-1)
    one_t, one_u = lt == 1, lu == 1
    first_eq = CA[..., 0] == CB[..., 0]
    code = np.full(lt.shape, _CLS_INVALID, dtype=np.int8)
    code[one_t & one_u & (CA == CB).all(axis=-1)] = _CLS_II
    code[(one_t ^ one_u) & first_eq] = _CLS_IW
    rest = ~one_t & ~one_u
    if rest.any():
        tok = _tok_match_codes(CA, CB, gather)
        multi = (lt > 1) & (lu > 1)
        code[rest & tok & multi] = _CLS_WW
        code[rest & tok & ~multi] = _CLS_XX
    return code


def _token_features_batch(av, bv):
    """(cov, contra, expand) float64 arrays — vectorized mirror of the
    scalar per-pair loop."""
    import numpy as np

    from ..functions.similarity import _code_matrix

    N = len(av)
    cov = np.zeros(N)
    contra = np.zeros(N)
    expand = np.zeros(N)
    toks_a = [sorted(x.split(" ")) for x in av]
    toks_b = [sorted(y.split(" ")) for y in bv]
    try:
        "".join(av).encode("latin-1")
        "".join(bv).encode("latin-1")
        ascii_ok = True
    except UnicodeEncodeError:
        ascii_ok = False
    groups: dict[tuple[int, int], list[int]] = {}
    for i in range(N):
        groups.setdefault((len(toks_a[i]), len(toks_b[i])), []).append(i)

    for (na, nb), idx in groups.items():
        ids = np.array(idx)
        ta = [toks_a[i] for i in idx]
        tb = [toks_b[i] for i in idx]
        flat_a = [t for row in ta for t in row]
        flat_b = [t for row in tb for t in row]
        L = max(
            max((len(t) for t in flat_a), default=0),
            max((len(t) for t in flat_b), default=0),
            1,
        )
        CA = _code_matrix(flat_a, L, ascii_ok).reshape(len(idx), na, L)
        CB = _code_matrix(flat_b, L, ascii_ok).reshape(len(idx), nb, L)

        if na != nb:
            # perms empty → contra = expand = 0; cover = every short
            # token matches some long token (both sides ≥ 2 tokens)
            if min(na, nb) >= 2:
                if na <= nb:
                    CS, CL, ts_, tl_ = CA, CB, ta, tb
                else:
                    CS, CL, ts_, tl_ = CB, CA, tb, ta

                def gather_cross(mask):
                    g, i, j = np.nonzero(mask)
                    return (
                        [ts_[gg][ii] for gg, ii in zip(g, i)],
                        [tl_[gg][jj] for gg, jj in zip(g, j)],
                    )

                M = _tok_match_codes(
                    CS[:, :, None, :], CL[:, None, :, :], gather_cross
                )
                cov[ids] = M.any(axis=2).all(axis=1).astype(np.float64)
            continue

        n = na

        def gather_diag(mask):
            g, i = np.nonzero(mask)
            return (
                [ta[gg][ii] for gg, ii in zip(g, i)],
                [tb[gg][ii] for gg, ii in zip(g, i)],
            )

        # cover: sorted positional alignment, both sides ≥ 2 tokens
        if n >= 2:
            diag = _tok_match_codes(CA, CB, gather_diag)
            cov[ids] = diag.all(axis=1).astype(np.float64)
        # alignment perms: identity always; swap for 2-token names
        aligns = [_pair_class_codes(CA, CB, gather_diag)]
        if n == 2:

            def gather_swap(mask):
                g, i = np.nonzero(mask)
                return (
                    [ta[gg][ii] for gg, ii in zip(g, i)],
                    [tb[gg][1 - ii] for gg, ii in zip(g, i)],
                )

            aligns.append(
                _pair_class_codes(CA, CB[:, ::-1, :], gather_swap)
            )
        any_valid = np.zeros(len(idx), dtype=bool)
        any_expand = np.zeros(len(idx), dtype=bool)
        for code in aligns:
            valid = (code != _CLS_INVALID).all(axis=1)
            any_valid |= valid
            if n >= 2:
                any_expand |= (
                    valid
                    & (code == _CLS_IW).any(axis=1)
                    & (code == _CLS_WW).any(axis=1)
                )
        contra[ids] = (~any_valid).astype(np.float64)
        expand[ids] = any_expand.astype(np.float64)
    return cov, contra, expand


_FEATURES_TYPE = T.StructType(
    [
        T.StructField("jw", T.DoubleType()),
        T.StructField("cov", T.DoubleType()),
        T.StructField("contra", T.DoubleType()),
        T.StructField("expand", T.DoubleType()),
    ]
)


@pandas_udf(_FEATURES_TYPE)
def pair_features_udf(
    a: pd.Series, b: pd.Series, sa: pd.Series, sb: pd.Series
) -> pd.DataFrame:
    """jw-best + token-alignment features per pair — one Python hop
    per batch.

    The three Jaro(-Winkler) variants run numpy-batched over the whole
    Arrow batch (jaro_batch_np — bit-identical to the scalar loop,
    measured ~2.7× faster on the jw stage); the token-alignment
    features (cov/contra/expand) are numpy-batched too, bucketed by
    token-count signature (``_token_features_batch``)."""
    import numpy as np

    av = [x if isinstance(x, str) else "" for x in a.to_numpy()]
    bv = [x if isinstance(x, str) else "" for x in b.to_numpy()]
    sav = [x if isinstance(x, str) else "" for x in sa.to_numpy()]
    sbv = [x if isinstance(x, str) else "" for x in sb.to_numpy()]
    jw = np.maximum(
        np.maximum(
            jaro_batch_np(av, bv, winkler=True),
            jaro_batch_np(sav, sbv, winkler=False),
        ),
        jaro_batch_np(
            [x.replace(" ", "") for x in av],
            [y.replace(" ", "") for y in bv],
            winkler=True,
        ),
    )
    cov, contra, expand = _token_features_batch(av, bv)
    return pd.DataFrame(
        {"jw": jw, "cov": cov, "contra": contra, "expand": expand}
    )


# Plan barrier, NOT actual nondeterminism (the features are pure
# functions of their inputs).  Marking the UDF nondeterministic stops
# Catalyst from pushing a ``score >= τ`` filter down through the
# pair-dedup aggregate into BOTH union branches of candidate_pairs,
# which ran the Arrow hop twice, on pre-dedup rows, and inlined the
# score into each branch's generated stage.  The price: Catalyst never
# merges equal nondeterministic calls, so every ``feat[...]`` reference
# in a score expression would be its own kernel run.  Hence the
# one-projection rule: the UDF is called only in ``_explained``, which
# projects it once into a struct column; the score reads that column.
# A filter cannot push through that nondeterministic Project and
# CollapseProject will not inline it, so the kernel runs once per pair
# row, above the dedup.
pair_features_udf = pair_features_udf.asNondeterministic()

_FEAT = "__pair_features"


def _explained(
    pairs: DataFrame, a: str, b: str, cfg: ScoringConfig
) -> tuple[DataFrame, dict[str, Column]]:
    """``pairs`` with the kernel's feature struct projected once, plus
    the named per-feature columns and the final score built from it.

    The gate tree is linear in size: the single-token and contradiction
    penalties are factors (``x * 1.0 == x`` in IEEE, so values equal the
    nested-``when`` form of ``score_sql``), and the expansion floor is
    the one remaining branch.  A NULL key scores NULL."""
    ca, cb = F.col(a), F.col(b)
    feat_df = pairs.withColumn(
        _FEAT,
        pair_features_udf(ca, cb, sort_tokens_col(ca), sort_tokens_col(cb)),
    )
    feat = F.col(_FEAT)
    jw, cov = feat["jw"], feat["cov"]
    sa, sb = F.replace(ca, F.lit(" "), F.lit("")), F.replace(cb, F.lit(" "), F.lit(""))
    lev = F.greatest(levenshtein_sim_col(ca, cb), levenshtein_sim_col(sa, sb))
    jac = token_jaccard_col(ca, cb)
    na, nb = F.size(F.split(ca, " ")), F.size(F.split(cb, " "))
    raw = F.when(
        (na == 1) & (nb == 1),
        F.lit(cfg.w_jw_single) * jw + F.lit(cfg.w_lev_single) * lev,
    ).otherwise(
        F.lit(cfg.w_jw) * jw
        + F.lit(cfg.w_lev) * lev
        + F.lit(cfg.w_jac) * jac
        + F.lit(cfg.w_cov) * cov
    )
    single = (na != nb) & (F.least(na, nb) == 1) & (sa != sb)
    gated = (
        raw
        * F.when(single, F.lit(cfg.single_token_penalty)).otherwise(F.lit(1.0))
        * F.when(
            feat["contra"] == 1.0, F.lit(cfg.contradiction_penalty)
        ).otherwise(F.lit(1.0))
    )
    score = F.when(
        feat["expand"] == 1.0, F.greatest(gated, F.lit(cfg.expansion_floor))
    ).otherwise(gated)
    return feat_df, {
        "jw": jw,
        "lev": lev,
        "token_jaccard": jac,
        "coverage": cov,
        "contradiction": feat["contra"],
        "expansion": feat["expand"],
        "score": F.round(score, 6),
    }


def explain_pairs(
    pairs: DataFrame,
    a: str = "node_a",
    b: str = "node_b",
    cfg: ScoringConfig = ScoringConfig(),
) -> DataFrame:
    """Add the per-feature breakdown (jw, lev, token_jaccard, coverage,
    contradiction, expansion) and ``score`` — the "why did these two
    records link" surface.  Breakdown and score come from one kernel
    evaluation in one projection, so the explanation can never drift
    from the production score."""
    feat_df, cols = _explained(pairs, a, b, cfg)
    return feat_df.withColumns(cols).drop(_FEAT)


def score_pairs(
    pairs: DataFrame,
    a: str = "node_a",
    b: str = "node_b",
    cfg: ScoringConfig = ScoringConfig(),
) -> DataFrame:
    """Add a ``score`` column over the string columns ``a`` and ``b``
    (e.g. the transliterated ER keys of node_a/node_b)."""
    feat_df, cols = _explained(pairs, a, b, cfg)
    return feat_df.withColumn("score", cols["score"]).drop(_FEAT)


def match_edges(
    scored: DataFrame, cfg: ScoringConfig = ScoringConfig()
) -> DataFrame:
    """R8: threshold; output edge list (node_a, node_b, score)."""
    return scored.where(F.col("score") >= cfg.threshold)


def _tok_match_sql(t: str, u: str) -> str:
    return (
        f"(starts_with({t}, {u}) or starts_with({u}, {t}) "
        f"or jaro_winkler_similarity({t}, {u}) >= {TOKEN_JW_MIN})"
    )


def cover_sql(a: str, b: str) -> str:
    ta, tb = f"string_split({a}, ' ')", f"string_split({b}, ' ')"
    sa_, sb_ = f"list_sort({ta})", f"list_sort({tb})"
    zipped = (
        f"list_bool_and(list_transform(generate_series(1, len({ta})), "
        f"i -> {_tok_match_sql(f'{sa_}[i]', f'{sb_}[i]')}))"
    )
    short = f"(case when len({ta}) <= len({tb}) then {ta} else {tb} end)"
    long_ = f"(case when len({ta}) <= len({tb}) then {tb} else {ta} end)"
    anymatch = (
        f"list_bool_and(list_transform({short}, "
        f"t -> len(list_filter({long_}, u -> {_tok_match_sql('t', 'u')})) > 0))"
    )
    return (
        f"(case when len({ta}) >= 2 and len({tb}) >= 2 then "
        f"(case when len({ta}) = len({tb}) then "
        f"(case when {zipped} then 1.0 else 0.0 end) "
        f"else (case when {anymatch} then 1.0 else 0.0 end) end) "
        f"else 0.0 end)"
    )


def _pair_valid_sql(t: str, u: str) -> str:
    """SQL mirror of _pair_class(t,u) is not None."""
    return (
        f"(case when length({t}) = 1 and length({u}) = 1 then {t} = {u} "
        f"when length({t}) = 1 then substring({u}, 1, 1) = {t} "
        f"when length({u}) = 1 then substring({t}, 1, 1) = {u} "
        f"else {_tok_match_sql(t, u)} end)"
    )


def _pair_iw_sql(t: str, u: str) -> str:
    return (
        f"(((length({t}) = 1) <> (length({u}) = 1)) and {_pair_valid_sql(t, u)})"
    )


def _pair_ww_sql(t: str, u: str) -> str:
    return (
        f"(length({t}) > 1 and length({u}) > 1 and {_tok_match_sql(t, u)})"
    )


def _alignment_sqls(a: str, b: str):
    """(ta, tb, compat_sql, expand_sql) mirroring _alignments: explicit
    identity+swap alignments for 2-token names, sorted positional for
    n≥3 (and n=1)."""
    ta, tb = f"string_split({a}, ' ')", f"string_split({b}, ' ')"
    sa_, sb_ = f"list_sort({ta})", f"list_sort({tb})"

    def pair(i, j):
        return f"{sa_}[{i}]", f"{sb_}[{j}]"

    # n == 2: two alignments
    aligns = []
    for (i1, j1), (i2, j2) in [((1, 1), (2, 2)), ((1, 2), (2, 1))]:
        t1, u1 = pair(i1, j1)
        t2, u2 = pair(i2, j2)
        ok = f"({_pair_valid_sql(t1, u1)} and {_pair_valid_sql(t2, u2)})"
        iw = f"({_pair_iw_sql(t1, u1)} or {_pair_iw_sql(t2, u2)})"
        ww = f"({_pair_ww_sql(t1, u1)} or {_pair_ww_sql(t2, u2)})"
        aligns.append((ok, f"({ok} and {iw} and {ww})"))
    compat2 = f"({aligns[0][0]} or {aligns[1][0]})"
    expand2 = f"({aligns[0][1]} or {aligns[1][1]})"

    # positional (n >= 3 and n = 1)
    t, u = f"{sa_}[i]", f"{sb_}[i]"
    compat_pos = (
        f"list_bool_and(list_transform(generate_series(1, len({ta})), "
        f"i -> {_pair_valid_sql(t, u)}))"
    )
    any_iw = (
        f"list_bool_or(list_transform(generate_series(1, len({ta})), "
        f"i -> {_pair_iw_sql(t, u)}))"
    )
    any_ww = (
        f"list_bool_or(list_transform(generate_series(1, len({ta})), "
        f"i -> {_pair_ww_sql(t, u)}))"
    )
    expand_pos = f"({compat_pos} and {any_iw} and {any_ww})"

    compat = (
        f"(case when len({ta}) = 2 then {compat2} else {compat_pos} end)"
    )
    expand = (
        f"(case when len({ta}) = 2 then {expand2} "
        f"when len({ta}) >= 3 then {expand_pos} else false end)"
    )
    return ta, tb, compat, expand


def expand_sql(a: str, b: str) -> str:
    ta, tb, _compat, expand = _alignment_sqls(a, b)
    return (
        f"(case when len({ta}) = len({tb}) and {expand} then 1.0 else 0.0 end)"
    )


def contra_sql(a: str, b: str) -> str:
    ta, tb, compat, _expand = _alignment_sqls(a, b)
    return (
        f"(case when len({ta}) = len({tb}) and not {compat} "
        f"then 1.0 else 0.0 end)"
    )


def jw_sql(a: str, b: str) -> str:
    """DuckDB mirror of the kernel's jw feature (max over the raw,
    token-sorted and space-stripped alignments)."""
    sa, sb = sort_tokens_sql(a), sort_tokens_sql(b)
    ca, cb = f"replace({a}, ' ', '')", f"replace({b}, ' ', '')"
    return (
        f"greatest(jaro_winkler_similarity({a}, {b}), "
        f"jaro_similarity({sa}, {sb}), "
        f"jaro_winkler_similarity({ca}, {cb}))"
    )


def lev_sql(a: str, b: str) -> str:
    """DuckDB mirror of the scorer's lev feature (max over raw and
    space-stripped forms)."""
    ca, cb = f"replace({a}, ' ', '')", f"replace({b}, ' ', '')"
    return f"greatest({levenshtein_sim_sql(a, b)}, {levenshtein_sim_sql(ca, cb)})"


def score_sql(a: str, b: str, cfg: ScoringConfig = ScoringConfig()) -> str:
    """DuckDB mirror of score_pairs (value-identical; round 6dp)."""
    ca, cb = f"replace({a}, ' ', '')", f"replace({b}, ' ', '')"
    jw = jw_sql(a, b)
    lev = lev_sql(a, b)
    jac = token_jaccard_sql(a, b)
    cov = cover_sql(a, b)
    raw = (
        f"({cfg.w_jw} * ({jw}) + {cfg.w_lev} * ({lev}) "
        f"+ {cfg.w_jac} * ({jac}) + {cfg.w_cov} * ({cov}))"
    )
    na, nb = f"len(string_split({a}, ' '))", f"len(string_split({b}, ' '))"
    raw1 = f"({cfg.w_jw_single} * ({jw}) + {cfg.w_lev_single} * ({lev}))"
    raw = f"(case when {na} = 1 and {nb} = 1 then {raw1} else {raw} end)"
    gate = f"({na} != {nb} and least({na}, {nb}) = 1 and {ca} != {cb})"
    gated = (
        f"(case when {gate} then {raw} * {cfg.single_token_penalty} "
        f"else {raw} end)"
    )
    contra = contra_sql(a, b)
    gated = (
        f"(case when {contra} = 1.0 "
        f"then {gated} * {cfg.contradiction_penalty} "
        f"else {gated} end)"
    )
    expand = expand_sql(a, b)
    return (
        f"round(case when {expand} = 1.0 "
        f"then greatest({gated}, {cfg.expansion_floor}) "
        f"else {gated} end, 6)"
    )


# --- IDF-weighted cosine (soft TF-IDF) over candidate pairs --------------------
# Cohen/Ravikumar/Fienberg (IIWeb 2003) rank TF-IDF cosine among the
# strongest name-matching measures: a shared rare token carries the
# score, a shared common token barely moves it.  Names are short, so
# tf is binary and the vector is just the token set weighted by
# smoothed corpus IDF.
#
# Cross-engine exactness: per-token weights are quantized to integer
# MICRO-UNITS immediately after the ln() (the only libm call), so the
# numerator Σ w_a·w_b and the per-name Σ w² are exact long sums in any
# partition/aggregation order; the final round-6 absorbs the ≤1-ulp
# sqrt/division difference between the engines.
IDF_MICRO = 1_000_000


def name_token_idf(names: DataFrame) -> DataFrame:
    """(node, tok, w) — binary-tf token table with smoothed-IDF weights
    ``w = round((ln((N+1)/(df+1)) + 1) * 1e6)`` in integer micro-units.

    Scale shape: one map-side-combinable groupBy for the df dim
    (vocabulary-scale), the corpus size via a broadcast single-row
    aggregate — no collect, no window."""
    toks = (
        names.select(
            "node", F.explode(F.split(F.col("key"), " ")).alias("tok")
        )
        .where(F.length("tok") > 0)
        .distinct()
    )
    n = names.agg(F.count("*").cast("double").alias("__n"))
    df_tab = toks.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    return (
        toks.join(df_tab, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "node",
            "tok",
            F.round(
                (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
                * IDF_MICRO
            )
            .cast("long")
            .alias("w"),
        )
    )


def tfidf_cosine_scores(pairs: DataFrame, names: DataFrame) -> DataFrame:
    """(node_a, node_b, n_shared, cos) for every candidate pair:
    IDF-weighted cosine  Σ_{t∈A∩B} w_t² / (‖w_A‖·‖w_B‖)  with binary tf.

    Pairs with no shared token score 0.0 (kept, not dropped — the
    decision layer wants the explicit zero).  Scale shape: the
    pair↔token expansion is two equi-joins over tokens of CANDIDATE
    names only; norms are one combinable groupBy over the weight table;
    every sum is exact long arithmetic (see IDF_MICRO note above)."""
    wtab = name_token_idf(names)
    sq = wtab.groupBy("node").agg(
        F.sum(F.col("w") * F.col("w")).alias("sq")
    )
    wa = wtab.select(
        F.col("node").alias("node_a"), "tok", F.col("w").alias("wa")
    )
    wb = wtab.select(
        F.col("node").alias("node_b"), "tok", F.col("w").alias("wb")
    )
    shared = (
        pairs.join(wa, "node_a")
        .join(wb, ["node_b", "tok"])
        .groupBy("node_a", "node_b")
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("num"),
        )
    )
    return (
        pair_sides(pairs.join(shared, ["node_a", "node_b"], "left"), sq)
        .select(
            "node_a",
            "node_b",
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
            F.round(
                F.coalesce(F.col("num").cast("double"), F.lit(0.0))
                / (
                    F.sqrt(F.col("sq_a").cast("double"))
                    * F.sqrt(F.col("sq_b").cast("double"))
                ),
                6,
            ).alias("cos"),
        )
    )


def tfidf_cosine_ctes(
    cpairs: str, names: str, micro: int = IDF_MICRO, out: str = "tfscores"
) -> str:
    """CTE chain ending in ``{out}(node_a, node_b, n_shared, cos)`` —
    the composable form of :func:`tfidf_cosine_sql`, so downstream
    mirrors (e.g. TF-IDF-edge clustering) can keep building on it."""
    return f"""ntoks as (select distinct node, tok
          from (select node, unnest(string_split(key, ' ')) as tok
                from {names})
          where length(tok) > 0),
ndf as (select tok, cast(count(*) as bigint) as df from ntoks group by tok),
nw as (select node, tok,
              cast(round((ln(((select count(*) from {names}) + 1.0)
                          / (df + 1.0)) + 1.0) * {micro}) as bigint) as w
       from ntoks join ndf using (tok)),
nsq as (select node, sum(w * w) as sq from nw group by node),
nshared as (select p.node_a, p.node_b,
                   cast(count(*) as bigint) as n_shared,
                   sum(wa.w * wb.w) as num
            from {cpairs} p
            join nw wa on wa.node = p.node_a
            join nw wb on wb.node = p.node_b and wb.tok = wa.tok
            group by p.node_a, p.node_b),
{out} as (select p.node_a, p.node_b,
       coalesce(s.n_shared, cast(0 as bigint)) as n_shared,
       round(coalesce(cast(s.num as double), 0.0)
             / (sqrt(cast(a.sq as double)) * sqrt(cast(b.sq as double))),
             6) as cos
from {cpairs} p
left join nshared s on s.node_a = p.node_a and s.node_b = p.node_b
join nsq a on a.node = p.node_a
join nsq b on b.node = p.node_b)"""


def tfidf_cosine_sql(
    cpairs: str, names: str, micro: int = IDF_MICRO
) -> str:
    """DuckDB mirror of :func:`tfidf_cosine_scores` — same micro-unit
    quantization, so the long sums are value-identical and round-6
    absorbs the sqrt ulp.  ``cpairs``/``names`` are CTE names with
    columns (node_a, node_b) / (node, key)."""
    return (
        tfidf_cosine_ctes(cpairs, names, micro)
        + "\nselect node_a, node_b, n_shared, cos from tfscores"
    )


# --- Monge-Elkan hybrid similarity over candidate pairs ------------------------
# Monge & Elkan (1996): ME(A→B) = mean over tokens a∈A of max_{b∈B}
# sim(a, b) with a character-level inner measure — the classic hybrid
# that tolerates token reordering AND per-token typos, sitting between
# pure token overlap (blind to typos) and whole-string Jaro-Winkler
# (brittle under reordering).  We use the symmetric mean of both
# directions with Jaro-Winkler inside, the standard configuration in
# the duplicate-detection surveys (Cohen/Ravikumar/Fienberg IIWeb'03).
#
# Cross-engine exactness: every inner JW is quantized to integer
# MICRO-UNITS (half-up, matching DuckDB/Spark round()), the per-token
# maxima and the per-direction sums are exact long arithmetic in any
# order, and the two divisions + final round-6 are identical IEEE
# double expressions in both engines.
#
# Scale shape: one Arrow hop over the candidate-pair table (pairs are
# vocabulary-scale, see candidate_pairs); the token cross-product is
# per-pair (≤4×4 for names), flattened to ONE numpy-batched JW call
# per Arrow batch — no shuffle beyond the key-attach joins.
ME_MICRO = 1_000_000


def _me_sums_batch(av: list[str], bv: list[str]):
    """Per pair: (Σ_a max_b micro-JW, |A|, Σ_b max_a micro-JW, |B|).

    Tokenization mirrors DuckDB ``string_split(key, ' ')`` exactly
    (no filtering — '' splits to [''], so counts never hit zero and
    jaro('', x) = 0.0 parity carries the degenerate rows)."""
    import numpy as np

    from ..functions.similarity import jaro_batch_np

    toks_a = [x.split(" ") for x in av]
    toks_b = [y.split(" ") for y in bv]
    ts: list[str] = []
    us: list[str] = []
    for ta, tb in zip(toks_a, toks_b):
        for t in ta:
            for u in tb:
                ts.append(t)
                us.append(u)
    jw = jaro_batch_np(ts, us, winkler=True)
    micro = np.floor(jw * ME_MICRO + 0.5).astype(np.int64)
    n = len(av)
    sa = np.zeros(n, dtype=np.int64)
    na = np.zeros(n, dtype=np.int64)
    sb = np.zeros(n, dtype=np.int64)
    nb = np.zeros(n, dtype=np.int64)
    off = 0
    for i, (ta, tb) in enumerate(zip(toks_a, toks_b)):
        k_a, k_b = len(ta), len(tb)
        m = micro[off : off + k_a * k_b].reshape(k_a, k_b)
        off += k_a * k_b
        sa[i] = m.max(axis=1).sum()
        sb[i] = m.max(axis=0).sum()
        na[i] = k_a
        nb[i] = k_b
    return sa, na, sb, nb


_ME_SUMS_TYPE = T.StructType(
    [
        T.StructField("sa", T.LongType()),
        T.StructField("na", T.LongType()),
        T.StructField("sb", T.LongType()),
        T.StructField("nb", T.LongType()),
    ]
)


@pandas_udf(_ME_SUMS_TYPE)
def me_sums_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    av = [x if isinstance(x, str) else "" for x in a.to_numpy()]
    bv = [x if isinstance(x, str) else "" for x in b.to_numpy()]
    sa, na, sb, nb = _me_sums_batch(av, bv)
    return pd.DataFrame({"sa": sa, "na": na, "sb": sb, "nb": nb})


# same plan barrier as pair_features_udf: compute once, above the
# candidate-pair dedup, never inlined into both union branches
me_sums_udf = me_sums_udf.asNondeterministic()


def monge_elkan_scores(pairs: DataFrame, names: DataFrame) -> DataFrame:
    """(node_a, node_b, me_ab, me_ba, me) for every candidate pair —
    directional Monge-Elkan means and their symmetric average.

    ``names`` is the (node, key) vocabulary; the two key-attach joins
    are node-equi (AQE-planned), the kernel is one Arrow hop."""
    s = pair_sides(pairs, names).withColumn(
        "s", me_sums_udf(F.col("key_a"), F.col("key_b"))
    )
    # 6dp means via EXACT integer half-up on the micro-sum rationals,
    # not round(·, 6) on the double ratios: sa/(na·1e6) with na=2 and
    # sa odd is an exact 6dp grid midpoint — 590 of the fixture's 951
    # candidate pairs sit on one — and on exact ties DuckDB's round is
    # value-dependent while Spark's (shortest-repr HALF_UP) always
    # rounds up.  (2p+q) div (2q) is that same half-up made identically
    # in both engines; non-tie values are bit-identical to the old
    # expressions.
    sa, na = F.col("s.sa"), F.col("s.na")
    sb, nb = F.col("s.sb"), F.col("s.nb")
    # the sums are ALREADY micro-units, so the 6dp micro value of
    # sa/(na·1e6) is round-half-up(sa/na)
    half_up = lambda p, q: F.floor((2 * p + q) / (2 * q)).cast("long")  # noqa: E731
    me_ab = half_up(sa, na) / F.lit(1e6)
    me_ba = half_up(sb, nb) / F.lit(1e6)
    me = half_up(sa * nb + sb * na, 2 * na * nb) / F.lit(1e6)
    return s.select(
        "node_a",
        "node_b",
        me_ab.alias("me_ab"),
        me_ba.alias("me_ba"),
        me.alias("me"),
    )


def monge_elkan_ctes(
    cpairs: str, names: str, micro: int = ME_MICRO, out: str = "mescores"
) -> str:
    """CTE chain ending in ``{out}(node_a, node_b, me_ab, me_ba, me)``
    — DuckDB mirror of :func:`monge_elkan_scores`.  Duplicate tokens
    within a key are carried by multiplicity (count * max ≡ the
    kernel's per-occurrence sum), so no ordinality is needed."""
    return f"""me_pk as (select p.node_a, p.node_b, sa.key as ka, sb.key as kb
         from {cpairs} p
         join {names} sa on sa.node = p.node_a
         join {names} sb on sb.node = p.node_b),
me_ta as (select node_a, node_b, ta, cast(count(*) as bigint) as cnt
          from (select node_a, node_b,
                       unnest(string_split(ka, ' ')) as ta from me_pk)
          group by all),
me_tb as (select node_a, node_b, tb, cast(count(*) as bigint) as cnt
          from (select node_a, node_b,
                       unnest(string_split(kb, ' ')) as tb from me_pk)
          group by all),
me_ma as (select a.node_a, a.node_b, a.ta, a.cnt,
                 max(cast(round(jaro_winkler_similarity(a.ta, b.tb)
                                * {micro}) as bigint)) as m
          from me_ta a join me_tb b using (node_a, node_b)
          group by all),
me_mb as (select b.node_a, b.node_b, b.tb, b.cnt,
                 max(cast(round(jaro_winkler_similarity(a.ta, b.tb)
                                * {micro}) as bigint)) as m
          from me_ta a join me_tb b using (node_a, node_b)
          group by all),
me_sa as (select node_a, node_b, sum(cnt * m) as sa, sum(cnt) as na
          from me_ma group by node_a, node_b),
me_sb as (select node_a, node_b, sum(cnt * m) as sb, sum(cnt) as nb
          from me_mb group by node_a, node_b),
{out} as (select p.node_a, p.node_b,
       ((2 * sa + na) // (2 * na)) / 1e6 as me_ab,
       ((2 * sb + nb) // (2 * nb)) / 1e6 as me_ba,
       ((2 * (sa * nb + sb * na) + 2 * na * nb)
        // (4 * na * nb)) / 1e6 as me
from me_pk p
join me_sa using (node_a, node_b)
join me_sb using (node_a, node_b))"""


def monge_elkan_sql(cpairs: str, names: str, micro: int = ME_MICRO) -> str:
    return (
        monge_elkan_ctes(cpairs, names, micro)
        + "\nselect node_a, node_b, me_ab, me_ba, me from mescores"
    )


# --- Soft TF-IDF over candidate pairs -------------------------------------------
# Cohen, Ravikumar & Fienberg (IIWeb 2003): their best-performing name
# measure overall — TF-IDF cosine where tokens match SOFTLY: each of
# A's tokens pairs with its best Jaro-Winkler partner in B (if jw ≥ θ),
# contributing w_A(t)·w_B(p(t))·jw(t,p(t)) to the numerator.  Unlike
# hard TF-IDF it credits typo'd rare tokens; unlike Monge-Elkan it
# keeps the IDF weighting, so shared stopword-ish tokens stay cheap.
#
# Cross-engine exactness: token weights are the micro-unit IDF ints of
# name_token_idf; jw is micro-quantized (same kernel discipline as
# Monge-Elkan); each contribution round(w_a·w_b·jwq/1e6) is a long
# (w_a·w_b ≤ ~5e13 is exact in both int64 and double, the product with
# jwq is the same IEEE double in both engines); per-direction sums are
# exact longs; the final division by the exact-long norms is one double
# expression, round-6.  Best-partner ties break deterministically on
# (jw desc, w_b desc, token asc) in both engines.
#
# Scale shape: the pair×token×token expansion is two equi-joins over
# tokens of CANDIDATE names only (≤4×4 per name pair), the jw kernel is
# one Arrow hop over that table, and the argmax is a window keyed by
# the pair — all vocabulary-scale.
SOFT_TFIDF_THETA = 0.9


@pandas_udf(T.LongType())
def jw_micro_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    from ..functions.similarity import jaro_batch_np

    av = [x if isinstance(x, str) else "" for x in a.to_numpy()]
    bv = [x if isinstance(x, str) else "" for x in b.to_numpy()]
    jw = jaro_batch_np(av, bv, winkler=True)
    return pd.Series(np.floor(jw * 1e6 + 0.5).astype("int64"))


def soft_tfidf_scores(
    pairs: DataFrame, names: DataFrame, theta: float = SOFT_TFIDF_THETA
) -> DataFrame:
    """(node_a, node_b, soft_ab, soft_ba, soft) for every candidate
    pair — directional Soft TF-IDF and the symmetric mean."""
    from pyspark.sql import Window

    theta_micro = int(round(theta * 1e6))
    wtab = name_token_idf(names)
    sq = wtab.groupBy("node").agg(F.sum(F.col("w") * F.col("w")).alias("sq"))
    wa = wtab.select(
        F.col("node").alias("node_a"),
        F.col("tok").alias("ta"),
        F.col("w").alias("wa"),
    )
    wb = wtab.select(
        F.col("node").alias("node_b"),
        F.col("tok").alias("tb"),
        F.col("w").alias("wb"),
    )
    tp = (
        pairs.join(wa, "node_a")
        .join(wb, "node_b")
        .withColumn("jwq", jw_micro_udf(F.col("ta"), F.col("tb")))
        .localCheckpoint(eager=False)  # kernel runs once for both directions
    )
    contrib = F.round(
        (F.col("wa") * F.col("wb")).cast("double")
        * F.col("jwq").cast("double")
        / F.lit(1e6)
    ).cast("long")

    def direction(part_tok: str, out: str) -> DataFrame:
        w = Window.partitionBy("node_a", "node_b", part_tok).orderBy(
            F.col("jwq").desc(),
            F.col("wb" if part_tok == "ta" else "wa").desc(),
            F.col("tb" if part_tok == "ta" else "ta").asc(),
        )
        return (
            tp.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & (F.col("jwq") >= theta_micro))
            .groupBy("node_a", "node_b")
            .agg(F.sum(contrib).alias(out))
        )

    num_a = direction("ta", "num_ab")
    num_b = direction("tb", "num_ba")
    denom = F.sqrt(F.col("sq_a").cast("double")) * F.sqrt(
        F.col("sq_b").cast("double")
    )
    s_ab = F.round(
        F.coalesce(F.col("num_ab").cast("double"), F.lit(0.0)) / denom, 6
    )
    s_ba = F.round(
        F.coalesce(F.col("num_ba").cast("double"), F.lit(0.0)) / denom, 6
    )
    return (
        pair_sides(
            pairs.join(num_a, ["node_a", "node_b"], "left").join(
                num_b, ["node_a", "node_b"], "left"
            ),
            sq,
        )
        .select(
            "node_a",
            "node_b",
            s_ab.alias("soft_ab"),
            s_ba.alias("soft_ba"),
            F.round((s_ab + s_ba) / F.lit(2.0), 6).alias("soft"),
        )
    )


def soft_tfidf_ctes(
    cpairs: str,
    names: str,
    theta: float = SOFT_TFIDF_THETA,
    micro: int = IDF_MICRO,
    out: str = "softscores",
) -> str:
    """CTE chain ending in ``{out}(node_a, node_b, soft_ab, soft_ba,
    soft)`` — DuckDB mirror of :func:`soft_tfidf_scores`.  Reuses the
    exact nw/nsq weight quantization of the hard-TF-IDF mirror."""
    theta_micro = int(round(theta * 1e6))
    return f"""ntoks as (select distinct node, tok
          from (select node, unnest(string_split(key, ' ')) as tok
                from {names})
          where length(tok) > 0),
ndf as (select tok, cast(count(*) as bigint) as df from ntoks group by tok),
nw as (select node, tok,
              cast(round((ln(((select count(*) from {names}) + 1.0)
                          / (df + 1.0)) + 1.0) * {micro}) as bigint) as w
       from ntoks join ndf using (tok)),
nsq as (select node, sum(w * w) as sq from nw group by node),
st_tp as materialized (
  select p.node_a, p.node_b, a.tok as ta, a.w as wa, b.tok as tb, b.w as wb,
         cast(round(jaro_winkler_similarity(a.tok, b.tok) * 1000000)
              as bigint) as jwq
  from {cpairs} p
  join nw a on a.node = p.node_a
  join nw b on b.node = p.node_b),
st_na as (select node_a, node_b,
                 sum(cast(round(cast(wa * wb as double)
                                * cast(jwq as double) / 1000000.0)
                          as bigint)) as num_ab
          from (select *, row_number() over (
                  partition by node_a, node_b, ta
                  order by jwq desc, wb desc, tb asc) as rn
                from st_tp)
          where rn = 1 and jwq >= {theta_micro}
          group by node_a, node_b),
st_nb as (select node_a, node_b,
                 sum(cast(round(cast(wa * wb as double)
                                * cast(jwq as double) / 1000000.0)
                          as bigint)) as num_ba
          from (select *, row_number() over (
                  partition by node_a, node_b, tb
                  order by jwq desc, wa desc, ta asc) as rn
                from st_tp)
          where rn = 1 and jwq >= {theta_micro}
          group by node_a, node_b),
{out} as (select p.node_a, p.node_b,
       round(coalesce(cast(na.num_ab as double), 0.0)
             / (sqrt(cast(a.sq as double)) * sqrt(cast(b.sq as double))),
             6) as soft_ab,
       round(coalesce(cast(nb.num_ba as double), 0.0)
             / (sqrt(cast(a.sq as double)) * sqrt(cast(b.sq as double))),
             6) as soft_ba,
       round((round(coalesce(cast(na.num_ab as double), 0.0)
              / (sqrt(cast(a.sq as double)) * sqrt(cast(b.sq as double))), 6)
            + round(coalesce(cast(nb.num_ba as double), 0.0)
              / (sqrt(cast(a.sq as double)) * sqrt(cast(b.sq as double))), 6))
             / 2.0, 6) as soft
from {cpairs} p
left join st_na na on na.node_a = p.node_a and na.node_b = p.node_b
left join st_nb nb on nb.node_a = p.node_a and nb.node_b = p.node_b
join nsq a on a.node = p.node_a
join nsq b on b.node = p.node_b)"""


def soft_tfidf_sql(
    cpairs: str, names: str, theta: float = SOFT_TFIDF_THETA
) -> str:
    return (
        soft_tfidf_ctes(cpairs, names, theta)
        + "\nselect node_a, node_b, soft_ab, soft_ba, soft from softscores"
    )
