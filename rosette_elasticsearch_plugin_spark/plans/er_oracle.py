"""DuckDB mirror of the FULL name-resolution stack (R2-R10), making
the previously rows-only queries hash-checkable.

The only stage with no SQL equivalent is Double Metaphone (a ~400-line
pandas-UDF state machine, ``functions/phonetics.py``).  Its input
universe — the tokens of the ER canonical keys — is known at SQL-build
time for a deterministic fixture corpus, so the codes are PREcomputed
in Python by the very function the UDF wraps and embedded as a VALUES
table ("emit the UDF output once, mirror the rest in SQL").  Everything
downstream — exact/metaphone/MinHash blocking, the block-size cap, pair
generation, the scoring expression, threshold, connected components —
is mirrored live in SQL, reusing the same mirror builders
(``score_sql``, ``minhash_sig_sql``) the other oracles use.

The salt in ``resolution/pairs.py`` is physical-only (it never changes
the logical pair set), so the oracle mirrors cap + a<b join directly.
"""

from __future__ import annotations

from ..functions.hashing import (
    lsh_band_keys_sql,
    minhash_sig_sql,
    shingles_sql,
)
from ..functions.phonetics import double_metaphone
from ..functions.translit import translit_lower_py
from ..resolution.scoring import score_sql
from .er_pipeline import ERConfig


def _q(s: str) -> str:
    return s.replace("'", "''")


def er_key_py(node: str, aliases: bool = False) -> str:
    """Python mirror of plans/er_pipeline.er_key_col (transliterated
    normalized name; with ``aliases``, nickname tokens rewritten to
    their formal form — functions/aliases.py)."""
    key = translit_lower_py(node)
    if aliases:
        from ..functions.aliases import alias_canonical_py

        key = alias_canonical_py(key)
    return key


def blocks_ctes(
    names: list[str], cfg: ERConfig = ERConfig(), prefix: str = ""
) -> str:
    """CTE fragment ``{p}names → {p}blocks`` over a fixed name universe:
    exact + Double Metaphone (precomputed VALUES) + MinHash band keys,
    mirroring ``resolution/blocking.all_blocks`` value-for-value.  The
    ``prefix`` lets two independent name universes (e.g. a query set
    and a corpus) coexist in one statement."""
    p = prefix
    uniq = sorted(set(names))
    keys = {n: er_key_py(n, cfg.alias_names) for n in uniq}
    bcfg = cfg.blocking
    toks = sorted(
        {
            t
            for k in keys.values()
            for t in k.split(" ")[: bcfg.metaphone_max_tokens]
            if t
        }
    )
    mrows: list[tuple[str, str]] = []
    for t in toks:
        primary, secondary = double_metaphone(t)
        for code in dict.fromkeys((primary, secondary)):
            if code:
                mrows.append((t, code))
    names_vals = ", ".join(f"('{_q(n)}', '{_q(keys[n])}')" for n in uniq)
    m_vals = ", ".join(f"('{_q(t)}', '{_q(c)}')" for t, c in mrows)
    if not m_vals:  # degenerate all-empty-code universe
        m_vals = "('\x01none', '\x01none')"
    sig = minhash_sig_sql(shingles_sql("key", bcfg.shingle_n), bcfg.params())
    band = lsh_band_keys_sql("sig", bcfg.minhash_bands, bcfg.minhash_rows)
    token_union = ""
    if bcfg.use_tokens:
        # opt-in token family, mirroring blocking.token_blocks
        token_union = f"""
    union all
    select node, 't:' || tok as block_key
    from (select node, unnest(string_split(key, ' ')) as tok from {p}names)
    where length(tok) >= {bcfg.token_min_len}"""
    embed_union = ""
    if bcfg.use_embed:
        # opt-in embedding family, mirroring blocking.embed_blocks:
        # hashed-trigram count vector -> sign-LSH bucket under the same
        # seeded literal hyperplanes
        from ..operators.ann import hyperplanes, lsh_bucket_sql
        from ..resolution.blocking import trigram_vector_sql

        planes = hyperplanes(
            bcfg.embed_dim, bcfg.embed_planes, bcfg.embed_seed
        )
        bucket = lsh_bucket_sql("vec", planes)
        flips = ", ".join(
            f"xor(b, {1 << i})" for i in range(bcfg.embed_planes)
        )
        embed_union = f"""
    union all
    select node, 'e:' || cast(unnest([b, {flips}]) as varchar) as block_key
    from (select node, {bucket} as b
          from (select node, {trigram_vector_sql('key', bcfg.embed_dim)} as vec
                from {p}names))"""
    suffix_cte, suffix_union = "", ""
    if bcfg.use_suffix:
        # opt-in suffix family, mirroring blocking.suffix_blocks:
        # space-stripped suffixes of length >= suffix_min_len (whole
        # compact key for shorter names), df-purged at suffix_max_block
        L, B = bcfg.suffix_min_len, bcfg.suffix_max_block
        suffix_cte = f"""
{p}sufs as materialized (
  select distinct node, suf from (
    select node, substr(ck, cast(unnest(generate_series(
             1, greatest(length(ck) - {L - 1}, 1))) as int)) as suf
    from (select node, replace(key, ' ', '') as ck from {p}names)
  ) where length(suf) > 0
),"""
        suffix_union = f"""
    union all
    select d.node, 's:' || d.suf as block_key
    from {p}sufs d
    join (select suf from {p}sufs group by suf
          having count(*) <= {B}) f using (suf)"""
    return f"""
{p}names(node, key) as (values {names_vals}),
{p}mcodes(tok, code) as (values {m_vals}),
{p}mtoks as (select node, unnest(string_split(key, ' ')[1:{bcfg.metaphone_max_tokens}]) as tok
          from {p}names),{suffix_cte}
{p}blocks as materialized (
  select distinct node, block_key from (
    select node, 'x:' || key as block_key from {p}names
    union all
    select t.node, 'm:' || c.code as block_key
    from {p}mtoks t join {p}mcodes c using (tok) where length(t.tok) > 0
    union all
    select node, 'h:' || unnest({band}) as block_key
    from (select node, {sig} as sig from {p}names){token_union}{suffix_union}{embed_union}
  )
)"""


def cpairs_ctes(cfg: ERConfig = ERConfig()) -> str:
    """CTE fragment ``bsz → cpairs`` over ``blocks``: the capped
    candidate grid of ``er_pipeline.name_pairs`` (distinct a < b pairs
    inside blocks of at most ``cfg.max_block_size`` members)."""
    return f"""bsz as (select block_key, count(*) as n from blocks group by block_key),
cpairs as (select distinct a.node as node_a, b.node as node_b
           from blocks a join blocks b using (block_key)
                         join bsz using (block_key)
           where n <= {cfg.max_block_size} and a.node < b.node)"""


def cluster_ctes(
    names: list[str],
    cfg: ERConfig = ERConfig(),
    prefix: str = "",
    must_link: list[tuple[str, str]] | None = None,
    cannot_link: list[tuple[str, str]] | None = None,
    edge_mode: str = "threshold",
) -> str:
    """CTE chain ``names → blocks → cpairs → scored → clusters`` over a
    fixed name universe, mirroring ``resolve_names`` value-for-value.
    ``clusters`` yields (node, cluster = min node of the connected
    component; singletons map to themselves).  ``prefix`` lets two
    independent resolutions (e.g. a prior batch and the full corpus)
    coexist in one statement, like ``blocks_ctes``.  ``must_link`` /
    ``cannot_link`` mirror ``resolve_names_with_overrides``'s edge
    edits: cannot-link pairs are dropped from the thresholded edges,
    then must-link pairs are unioned in (merge beats split); with both
    absent the emitted SQL is unchanged.  ``cfg.snm_window`` (the
    opt-in sorted-neighborhood family) is mirrored too: the small
    fixture affords the plain ``row_number()`` window the Spark side's
    distributed two-phase rank avoids, and the adjacency pairs union
    into the candidate set exactly like ``name_match_edges`` does.
    ``edge_mode`` mirrors the decision layer feeding CC: "threshold"
    (default — all supra-threshold edges, the ``match_edges`` path),
    "star" or "mutual" (``clustering.best_match_edges`` — per-node
    best edge, optionally reciprocal).  Overrides compose only with
    the threshold mode."""
    p = prefix
    if edge_mode not in ("threshold", "star", "mutual"):
        raise ValueError(f"unknown edge_mode {edge_mode!r}")
    if edge_mode != "threshold" and (must_link or cannot_link):
        raise ValueError("overrides compose only with edge_mode='threshold'")

    def _pair_vals(pairs):
        norm = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
        return ", ".join(
            f"('{_q(a)}', '{_q(b)}')" for a, b in norm
        )

    cannot_clause = ""
    if cannot_link:
        cannot_clause = (
            f" and not exists (select 1 from (values {_pair_vals(cannot_link)})"
            f" cl(x, y) where x = node_a and y = node_b)"
        )
    must_clause = ""
    if must_link:
        known = {n for n in names}
        kept = [
            (a, b)
            for a, b in must_link
            if a in known and b in known
        ]
        if kept:
            must_clause = (
                f" union select node_a, node_b from"
                f" (values {_pair_vals(kept)}) ml(node_a, node_b)"
            )
    # materialized where multiply-referenced: blocks feeds bsizes plus
    # BOTH self-join sides; medges feeds both eedges branches; and the
    # recursive ``reach`` re-evaluates eedges every iteration — without
    # the hints DuckDB (which inlines plain CTEs per reference) re-runs
    # the whole blocks→score pipeline once per recursion round
    snm_union = ""
    if cfg.snm_window:
        snm_union = f"""
           union
           select least(a.node, b.node) as node_a,
                  greatest(a.node, b.node) as node_b
           from {p}ranked a join {p}ranked b
             on b.r > a.r and b.r <= a.r + {cfg.snm_window - 1}"""
    ranked_cte = (
        f"""
{p}ranked as (select node, row_number() over (order by key, node) - 1 as r
           from {p}names),"""
        if cfg.snm_window
        else ""
    )
    if cfg.meta_tau is not None:
        # meta-blocking candidate generation (resolution/metablocking.py):
        # purge oversized blocks, weight co-occurring pairs by the
        # common-blocks Jaccard, keep pairs at or above tau.  The purge
        # bound reuses max_block_size, so the pair universe equals the
        # default path's capped blocks — tau-filtering is the only delta.
        cpairs_cte = f"""
{p}purged as materialized (
  select a.node, a.block_key
  from {p}blocks a join {p}bsizes s using (block_key)
  where s.n <= {cfg.max_block_size}),
{p}mcbs as (select a.node as node_a, b.node as node_b, count(*) as cbs
         from {p}purged a join {p}purged b using (block_key)
         where a.node < b.node group by a.node, b.node),
{p}mnb as (select node, count(*) as nb from {p}purged group by node),
{p}cpairs as (select c.node_a, c.node_b
           from {p}mcbs c join {p}mnb na on na.node = c.node_a
                          join {p}mnb nbb on nbb.node = c.node_b
           where cast(c.cbs as double)
                   / cast(na.nb + nbb.nb - c.cbs as double)
                 >= {cfg.meta_tau}{snm_union}),"""
    else:
        cpairs_cte = f"""
{p}cpairs as (select distinct a.node as node_a, b.node as node_b
           from {p}blocks a join {p}blocks b using (block_key)
                         join {p}bsizes s using (block_key)
           where s.n <= {cfg.max_block_size} and a.node < b.node{snm_union}),"""
    if edge_mode == "threshold":
        medges_ctes = f"""
{p}medges as materialized (select node_a, node_b from {p}scored
           where score >= {cfg.scoring.threshold}{cannot_clause}{must_clause}),"""
    else:
        # best-match restriction (clustering.best_match_edges): per
        # node keep only the top-scoring supra-threshold neighbor
        # (ties → smallest id); "mutual" additionally requires
        # reciprocity.  sccand materialized — mdirected reads it twice.
        if edge_mode == "star":
            medges_sel = (
                f"select distinct least(u, v) as node_a, "
                f"greatest(u, v) as node_b from {p}mbest"
            )
        else:
            medges_sel = (
                f"select a.u as node_a, a.v as node_b from {p}mbest a "
                f"join {p}mbest b on b.u = a.v and b.v = a.u "
                f"where a.u < a.v"
            )
        medges_ctes = f"""
{p}sccand as materialized (select node_a, node_b, score from {p}scored
           where score >= {cfg.scoring.threshold}),
{p}mdirected as (select node_a as u, node_b as v, score from {p}sccand
           union all select node_b as u, node_a as v, score from {p}sccand),
{p}mbest as materialized (select u, v from (
    select u, v, row_number() over (partition by u order by score desc, v) as rn
    from {p}mdirected) where rn = 1),
{p}medges as materialized ({medges_sel}),"""
    return f"""{blocks_ctes(names, cfg, prefix=p)},
{p}bsizes as (select block_key, count(*) as n from {p}blocks group by block_key),{ranked_cte}{cpairs_cte}
{p}scored as (select node_a, node_b,
                  {score_sql('ka.key', 'kb.key', cfg.scoring)} as score
           from {p}cpairs join {p}names ka on ka.node = {p}cpairs.node_a
                       join {p}names kb on kb.node = {p}cpairs.node_b),{medges_ctes}
{p}eedges as materialized (select node_a as u, node_b as v from {p}medges
           union all select node_b as u, node_a as v from {p}medges),
{p}reach(u, v) as (select u, v from {p}eedges
                union
                select r.u, e.v from {p}reach r join {p}eedges e on r.v = e.u),
{p}clusters as (select n.node,
                    least(n.node, coalesce(min(r.v), n.node)) as cluster
             from {p}names n left join {p}reach r on r.u = n.node
             group by n.node)
"""
