"""P6 — ``ros_entities``: mention extraction, grouping, projection.

Reference flow (``EntitiesProcessor.java:69-99, 132-184``): the Rosette
REX service returns an ADM whose entity layer groups coreferent
mentions; the processor projects each entity to
``{mention(head normalized), entityId, type, count}`` plus optional
``offsets`` / ``translation`` / ``sentiment``.

Spark-first decomposition (SURVEY.md P6a-P6g):

* R1  span assembly  — sort spans by offset, keep text spans for NER,
  never touch the spans column itself (span-sequence invariant).
* P6a extraction     — deterministic NER: capitalized-sequence regex +
  gazetteer typing, run as an Arrow-batched ``mapInPandas`` that emits
  flat mention rows (offsets are span-relative like ADM token
  offsets).  Flat columnar emission — not ``array<struct>`` + explode —
  is deliberate: see ``extract_mentions`` and BENCH.md §1.
* P6c head mention   — first mention in document order (our groups are
  surface-form groups, so every member shares the normalized form;
  the head pick is the min (start) row ≈ ``headMentionIndex``).
* P6d count          — mentions per group (``EntitiesProcessor.java:142``).
* P6e offsets        — ``{start,end}`` structs in mention order (:144-153).
* P6f translation    — only for PERSON/LOCATION/ORGANIZATION (:156-159),
  via the name-translation stage's broadcast dictionary + transliteration.
* P6g sentiment      — per-entity label when requested (:179-181).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.textstats import sentiment_col

# capitalized-token sequences, Latin (incl. accented capitals) + Cyrillic;
# a token may end in '.' so initials ("J. Svensson") stay one mention
MENTION_PATTERN = (
    r"(?:[A-ZÀ-ÖØ-ÞА-ЯЁ][\w'\-]*\.?)(?:[ ](?:[A-ZÀ-ÖØ-ÞА-ЯЁ][\w'\-]*\.?))*"
)

# RNT is asked only for these types (EntitiesProcessor.java:156-159)
TRANSLATABLE_TYPES = ("PERSON", "LOCATION", "ORGANIZATION")

_MENTION_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("mention_id", T.StringType()),
        T.StructField("span_offset", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("normalized", T.StringType()),
    ]
)


def _mention_rows_gen(pattern: str):
    """mapInPandas generator: (doc_id, span_offset, text) batches →
    flat mention rows incl. normalization and mention_id.  Plain
    columnar lists in/out — no per-mention dicts, no nested Arrow
    types — and the per-mention string work (normalize, id concat,
    empty filter) happens here in the same pass rather than as JVM
    column expressions over tens of millions of short strings (see
    extract_mentions for why)."""

    def gen(batches):
        import re

        import numpy as np

        from rosette_elasticsearch_plugin_spark.functions.normalize import (
            normalize_py,
        )

        pat = re.compile(pattern)
        for pdf in batches:
            ids, mids, offs, starts, ends, surfs, norms = [], [], [], [], [], [], []
            for d, o, t in zip(
                pdf["doc_id"].values, pdf["span_offset"].values, pdf["text"].values
            ):
                if not t:
                    continue
                for m in pat.finditer(t):
                    norm = normalize_py(m.group(0))
                    if not norm:
                        continue
                    s = m.start()
                    ids.append(d)
                    mids.append(f"{d}:{o}:{s}")
                    offs.append(o)
                    starts.append(s)
                    ends.append(m.end())
                    surfs.append(m.group(0))
                    norms.append(norm)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="object"),
                    "mention_id": pd.Series(mids, dtype="object"),
                    "span_offset": np.asarray(offs, dtype="int32"),
                    "start": np.asarray(starts, dtype="int32"),
                    "end": np.asarray(ends, dtype="int32"),
                    "surface": pd.Series(surfs, dtype="object"),
                    "normalized": pd.Series(norms, dtype="object"),
                }
            )

    return gen


def _distinct_names_gen(pattern: str):
    """mapInPandas generator: text batches → per-partition DISTINCT
    normalized mention names (one small emission per partition).  This
    is a map-side combine: the downstream global distinct shuffles only
    the per-partition name sets, never the mention rows — at 10^12 docs
    the difference is the full mention table vs the (tiny) vocabulary."""

    def gen(batches):
        import re

        from rosette_elasticsearch_plugin_spark.functions.normalize import (
            normalize_py,
        )

        pat = re.compile(pattern)
        seen: set[str] = set()
        for pdf in batches:
            for t in pdf["text"].values:
                if not t:
                    continue
                for m in pat.finditer(t):
                    n = normalize_py(m.group(0))
                    if n:
                        seen.add(n)
        yield pd.DataFrame({"node": pd.Series(sorted(seen), dtype="object")})

    return gen


def distinct_mention_names(
    docs: DataFrame, pattern: str = MENTION_PATTERN
) -> DataFrame:
    """(node) distinct normalized mention names across the corpus,
    without materializing the mention table (see _distinct_names_gen)."""
    spans = text_spans(docs)
    per_part = spans.select("text").mapInPandas(
        _distinct_names_gen(pattern), "node string"
    )
    return per_part.distinct()


def text_spans(docs: DataFrame) -> DataFrame:
    """R1: project out the text spans; media spans are left untouched in
    the original ``spans`` column.  Document order is (span.offset,
    char start) and is carried explicitly — no reliance on array order."""
    ex = docs.select(
        "doc_id",
        F.explode(F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text"))).alias("span"),
    )
    return ex.select(
        "doc_id",
        F.col("span.offset").alias("span_offset"),
        F.col("span.text").alias("text"),
    )


def extract_mentions(
    docs: DataFrame,
    gazetteer: DataFrame | None = None,
    pattern: str = MENTION_PATTERN,
) -> DataFrame:
    """P6a+typing: mention rows
    (doc_id, mention_id, span_offset, start, end, surface, normalized,
    source, type).

    ``gazetteer``: optional (normalized, type) dim, joined unhinted
    (AQE broadcasts a small one; a production gazetteer is
    vocabulary-scale); unknown mentions default to 'MISC' (the
    reference would get the type from the service; typing is config
    data here).
    ``pattern``: the mention regex — capitalized sequences by default;
    lowercase corpora (the driver's flat tables) use a token pattern.
    """
    spans = text_spans(docs)
    # flat mapInPandas instead of an array<struct> pandas UDF +
    # posexplode: the nested-return Arrow conversion (Series of lists
    # of dicts) degrades ~9x per row under high task concurrency,
    # while the columnar flat return scales to the hardware ceiling
    # (measured local[8]→local[32]); it also skips the JVM-side
    # explode of 50x-amplified nested rows entirely.
    m = spans.select("doc_id", "span_offset", "text").mapInPandas(
        _mention_rows_gen(pattern), _MENTION_ROWS_SCHEMA
    )
    m = m.withColumn("source", F.lit("statistical"))
    if gazetteer is not None:
        gaz = (
            gazetteer.select(
                F.col(gazetteer.columns[0]).alias("normalized"),
                F.col(gazetteer.columns[1]).alias("type"),
            )
            # one row per name: a duplicate-key gazetteer must type the
            # mention, not multiply it through the join (min(type) is
            # the deterministic pick, mirrored by the flat kernel)
            .groupBy("normalized")
            .agg(F.min("type").alias("type"))
        )
        # NO broadcast hint: a production gazetteer is vocabulary-scale
        # (the same argument that removed the forced eid broadcast from
        # project_entities) — AQE broadcasts it when actually small
        m = m.join(gaz, "normalized", "left").withColumn(
            "type", F.coalesce("type", F.lit("MISC"))
        )
    else:
        m = m.withColumn("type", F.lit("MISC"))
    return m.select(
        "doc_id", "mention_id", "span_offset", "start", "end",
        "surface", "normalized", "source", "type",
    )


@dataclass(frozen=True)
class EntitiesConfig:
    """Mirrors EntitiesProcessor.Parameters (EntitiesProcessor.java:186-191).

    ``sentiment_window``: chars of context on each side of a mention
    used for per-entity sentiment (the ADM sentiment variant returns a
    per-entity label computed from the entity's local context —
    ``sentiment_adm_response.json`` entities[].sentiment — not the
    document label; a window around the mention offsets is our
    deterministic equivalent of that entity-local evidence)."""

    include_offsets: bool = False
    include_translation: bool = False
    translation_language: str = "eng"
    include_sentiment: bool = False
    sentiment_window: int = 40
    # extra TranslationEntry rows appended to the default dictionary
    # (tuple: the config must stay hashable/frozen)
    extra_dictionary: tuple = ()


def project_entities(
    mentions: DataFrame,
    entity_ids: DataFrame | None = None,
    cfg: EntitiesConfig = EntitiesConfig(),
    span_texts: DataFrame | None = None,
    translation_col: Column | None = None,
) -> DataFrame:
    """P6c-P6g: group mentions per (doc, cluster) → one entity row each.

    entity_ids: optional (normalized, entityId) mapping — the resolution
    layer's output (R10) or a KB dim.  Without it, entityId falls back
    to ``T:<normalized>`` (the reference uses the same convention of a
    type-prefixed temporary id when the linker has no QID).

    span_texts: (doc_id, span_offset, text) — required when
    ``cfg.include_sentiment``; each mention's ±sentiment_window chars
    are cut from its own span, and the entity's label is the lexicon
    sentiment of its concatenated mention windows (document order).

    Returns (doc_id, ros_entities: array<struct<...>>).
    """
    m = mentions
    if cfg.include_sentiment:
        if span_texts is None:
            raise ValueError(
                "include_sentiment requires span_texts (doc_id, span_offset, text)"
            )
        w = int(cfg.sentiment_window)
        st = span_texts.select(
            "doc_id", "span_offset", F.col("text").alias("__span_text")
        )
        m = m.join(st, ["doc_id", "span_offset"], "left")
        wstart = F.greatest(F.col("start") + 1 - w, F.lit(1))
        wlen = F.col("end") + w - wstart + 1
        m = m.withColumn(
            "__wtext", F.substring(F.col("__span_text"), wstart, wlen)
        ).drop("__span_text")
    if entity_ids is not None:
        eid = entity_ids.select(
            F.col(entity_ids.columns[0]).alias("normalized"),
            F.col(entity_ids.columns[1]).alias("entityId"),
        )
        # NO broadcast hint: entity_ids is the resolution layer's
        # (normalized, entityId) output — a vocabulary-scale dim that
        # exceeds broadcast limits at the 10^12-doc design point.  AQE
        # converts the join to broadcast at runtime when the dim is
        # actually small (same rationale as assign_cluster_ids).
        m = m.join(eid, "normalized", "left")
        m = m.withColumn(
            "entityId",
            F.coalesce("entityId", F.concat(F.lit("T:"), F.col("normalized"))),
        )
    else:
        m = m.withColumn("entityId", F.concat(F.lit("T:"), F.col("normalized")))

    # absolute document order of a mention = (span_offset, start)
    aggs = [
        F.min(F.struct("span_offset", "start", "end", "surface", "normalized",
                       "type")).alias("head"),
        F.count("*").cast("int").alias("count"),
        F.sort_array(
            F.collect_list(F.struct("span_offset", "start", "end"))
        ).alias("ordered_mentions"),
    ]
    if cfg.include_sentiment:
        # entity context = mention windows concatenated in document order
        aggs.append(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("span_offset", "start", "__wtext")
                        )
                    ),
                    lambda s: s["__wtext"],
                ),
            ).alias("__ctx")
        )
    grouped = m.groupBy("doc_id", "entityId").agg(*aggs)
    # P6c: head mention's *normalized* string is the canonical mention
    # (EntitiesProcessor.java:133-134 mentions.get(headMentionIndex).getNormalized())
    ent = grouped.select(
        "doc_id",
        "entityId",
        F.col("head.normalized").alias("mention"),
        F.col("head.type").alias("type"),
        "count",
        "ordered_mentions",
        F.col("head.span_offset").alias("head_span_offset"),
        F.col("head.start").alias("head_start"),
        *([F.col("__ctx")] if cfg.include_sentiment else []),
    )

    struct_fields = [
        F.col("mention"), F.col("entityId"), F.col("type"), F.col("count")
    ]
    if cfg.include_offsets:
        # P6e: {start,end} per mention in document order (:144-153)
        ent = ent.withColumn(
            "offsets",
            F.transform(
                "ordered_mentions",
                lambda om: F.struct(
                    om["start"].alias("start"), om["end"].alias("end")
                ),
            ),
        )
        struct_fields.append(F.col("offsets"))
    if cfg.include_translation:
        # P6f: RNT only for PERSON/LOCATION/ORGANIZATION, asked with
        # targetLanguage = cfg.translation_language and entityType =
        # the entity's type (EntitiesProcessor.java:156-176).  Stand-in:
        # the sliced translation dictionary (broadcast, matched on the
        # normalized mention + row entity_type), with the deterministic
        # Cyrillic→Latin transliterator as fallback ONLY when the
        # requested language is English.
        from .name_translation import (
            has_cyrillic_col,
            translation_dim,
            transliterate_cyr_col,
        )

        if translation_col is not None:
            xlat = translation_col
        else:
            from ..functions.normalize import normalize_col

            # join key is the NORMALIZED dictionary name — the entity's
            # mention is already normalized (punctuation stripped,
            # diacritics folded), so lower() alone would never match
            # names like "マット・デイモン" (→ "マット デイモン").
            # A dictionary may carry BOTH a typed and a wildcard
            # (entity_type=None) row for one name; a dual match would
            # duplicate the entity row after the join, so the dim is
            # reduced to ONE row per (name, type): wildcard rows are
            # expanded to the three translatable types with lower
            # precedence, then min((precedence, translation)) picks
            # typed-over-wildcard, then lexicographic-min translation.
            base = (
                translation_dim(
                    mentions.sparkSession, list(cfg.extra_dictionary) or None
                )
                .where(F.col("target_language") == cfg.translation_language)
                .select(
                    normalize_col(F.col("name")).alias("__xlat_name"),
                    F.col("entity_type").alias("__xlat_etype"),
                    F.col("translation").alias("__dict_xlat"),
                )
            )
            typed = base.where(F.col("__xlat_etype").isNotNull()).withColumn(
                "__prec", F.lit(0)
            )
            wild = (
                base.where(F.col("__xlat_etype").isNull())
                .withColumn(
                    "__xlat_etype",
                    F.explode(
                        F.array(*[F.lit(t) for t in TRANSLATABLE_TYPES])
                    ),
                )
                .withColumn("__prec", F.lit(1))
            )
            dim = (
                typed.unionByName(wild)
                .groupBy("__xlat_name", "__xlat_etype")
                .agg(
                    F.min(F.struct("__prec", "__dict_xlat"))["__dict_xlat"]
                    .alias("__dict_xlat")
                )
            )
            ent = ent.join(
                F.broadcast(dim),
                (F.col("mention") == F.col("__xlat_name"))
                & (F.col("__xlat_etype") == F.upper("type")),
                "left",
            ).drop("__xlat_name", "__xlat_etype")
            fallback = (
                F.when(has_cyrillic_col(F.col("mention")),
                       transliterate_cyr_col(F.col("mention")))
                if cfg.translation_language == "eng"
                else F.lit(None).cast("string")
            )
            xlat = F.coalesce(F.col("__dict_xlat"), fallback)
        ent = ent.withColumn(
            "translation",
            F.when(F.upper("type").isin(*TRANSLATABLE_TYPES), xlat),
        )
        if translation_col is None:
            ent = ent.drop("__dict_xlat")
        struct_fields.append(F.col("translation"))
    if cfg.include_sentiment:
        # P6g: per-entity sentiment over the entity's OWN mention
        # windows (__ctx) — two entities in one document can disagree,
        # matching the ADM per-entity sentiment lists
        # (sentiment_adm_response.json entities[].sentiment[0].label)
        ent = ent.withColumn("sentiment", sentiment_col(F.col("__ctx")))
        struct_fields.append(F.col("sentiment"))

    per_entity = ent.withColumn("e", F.struct(*struct_fields)).withColumn(
        "order_key",
        F.struct(F.col("head_span_offset"), F.col("head_start")),
    )
    return (
        per_entity.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("order_key", "e"))),
                lambda s: s["e"],
            ).alias("ros_entities")
        )
    )


def _flat_entities_type(cfg: EntitiesConfig) -> T.ArrayType:
    """Return type of the flat-field entities kernel — field ORDER
    matches project_entities' struct_fields exactly, so the single-pass
    and the interleaved paths have identical schemas."""
    fields = [
        T.StructField("mention", T.StringType()),
        T.StructField("entityId", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("count", T.IntegerType()),
    ]
    if cfg.include_offsets:
        fields.append(
            T.StructField(
                "offsets",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("start", T.IntegerType()),
                            T.StructField("end", T.IntegerType()),
                        ]
                    )
                ),
            )
        )
    if cfg.include_translation:
        fields.append(T.StructField("translation", T.StringType()))
    if cfg.include_sentiment:
        fields.append(T.StructField("sentiment", T.StringType()))
    return T.ArrayType(T.StructType(fields))


def _xlat_lookup(cfg: EntitiesConfig):
    """Driver-side build of the P6f dictionary as a plain dict pair —
    the Python mirror of project_entities' reduced broadcast dim
    (typed-over-wildcard, then lexicographic-min translation)."""
    from ..functions.normalize import normalize_py
    from ..functions.translit import has_cyrillic_py
    from .name_translation import (
        DEFAULT_DICTIONARY,
        _as_entry,
        transliterate_cyr_py,
    )

    typed: dict[tuple[str, str], str] = {}
    wild: dict[str, str] = {}
    for r in list(DEFAULT_DICTIONARY) + list(cfg.extra_dictionary):
        e = _as_entry(r)
        if e.target_language != cfg.translation_language:
            continue
        nm = normalize_py(e.name)
        if e.entity_type is None:
            wild[nm] = min(wild.get(nm, e.translation), e.translation)
        else:
            k = (nm, e.entity_type)
            typed[k] = min(typed.get(k, e.translation), e.translation)
    fallback_ok = cfg.translation_language == "eng"

    def lookup(mention: str, etype: str) -> str | None:
        et = etype.upper()
        if et not in TRANSLATABLE_TYPES:
            return None
        v = typed.get((mention, et))
        if v is None:
            v = wild.get(mention)
        if v is not None:
            return v
        if fallback_ok and has_cyrillic_py(mention):
            return transliterate_cyr_py(mention)
        return None

    return lookup


def flat_entities_udf(
    cfg: EntitiesConfig,
    pattern: str = MENTION_PATTERN,
    gazetteer_rows: list[tuple[str, str]] | None = None,
):
    """Single-pass Arrow kernel: text column → ``ros_entities`` array.

    For a FLAT single-text-field document every mention of a doc lives
    in one row, so the whole P6 projection (extraction, grouping, head
    pick, counts, offsets, translation, per-entity sentiment) is
    row-local — one pandas UDF, ZERO shuffles, no joins.  The previous
    implementation routed through the interleaved-span path:
    groupBy(doc, entity) → groupBy(doc) → join-back = two shuffles and
    a join per pipeline stage (r2 verdict "what's wrong #2").
    Reference analogue: per-document processing,
    ``EntitiesProcessor.java:69-99``.

    Null/empty text and zero-mention text both yield NULL (guard 2
    passthrough semantics, identical to the join-path's left join)."""
    gaz: dict[str, str] = {}
    for n_, t_ in gazetteer_rows or []:
        # min(type) per name — same dedupe rule as extract_mentions
        gaz[n_] = min(gaz[n_], t_) if n_ in gaz else t_
    xlat = _xlat_lookup(cfg) if cfg.include_translation else None
    w = int(cfg.sentiment_window)
    inc_off, inc_tr, inc_sent = (
        cfg.include_offsets, cfg.include_translation, cfg.include_sentiment
    )

    def fn(texts: pd.Series) -> pd.Series:
        import re

        from rosette_elasticsearch_plugin_spark.functions.normalize import (
            normalize_py,
        )
        from rosette_elasticsearch_plugin_spark.functions.textstats import (
            sentiment_py,
        )

        pat = re.compile(pattern)
        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            order: list[str] = []
            occs: dict[str, list[tuple[int, int]]] = {}
            for m in pat.finditer(t):
                norm = normalize_py(m.group(0))
                if not norm:
                    continue
                if norm not in occs:
                    occs[norm] = []
                    order.append(norm)  # finditer is ascending-start →
                    # first-seen order == (head_span_offset, head_start)
                occs[norm].append((m.start(), m.end()))
            if not order:
                out.append(None)
                continue
            ents = []
            for norm in order:
                oc = occs[norm]
                etype = gaz.get(norm, "MISC")
                e: dict = {
                    "mention": norm,
                    "entityId": "T:" + norm,
                    "type": etype,
                    "count": len(oc),
                }
                if inc_off:
                    e["offsets"] = [{"start": s, "end": en} for s, en in oc]
                if inc_tr:
                    e["translation"] = xlat(norm, etype)
                if inc_sent:
                    # ±window chars around each mention, doc order —
                    # same slice as project_entities' substring window
                    ctx = " ".join(
                        t[max(s - w, 0): en + w] for s, en in oc
                    )
                    e["sentiment"] = sentiment_py(ctx)
                ents.append(e)
            out.append(ents)
        return pd.Series(out, dtype="object")

    return pandas_udf(fn, _flat_entities_type(cfg))


def entities_flat_stage(spark, sc, cfg_dict: dict):
    """Registry factory for ``ros_entities`` over a FLAT text field —
    the shape every other pipeline processor uses (``build_pipeline``'s
    Stage contract: df → df + target column).  Mirrors the reference
    factory's config surface (``EntitiesProcessor.java:109-127``):
    ``include_offsets / include_translation / translation_language /
    include_sentiment``; ``pattern`` and ``gazetteer`` are the
    deterministic stand-ins for the remote NER model (config data).

    Guard semantics match ``apply_guarded``: occupied target raises at
    build/apply time; null/empty input passes through with a null
    target; a ``<target>__error`` column is added (always null — the
    deterministic extractor cannot fail per-row).

    The enrichment is computed by :func:`flat_entities_udf` in the same
    Arrow pass that extracts mentions — the stage plan contains no
    Exchange (tests/test_pipeline_registry.py asserts this)."""
    from .base import StageConfig, TargetOccupiedError, error_col_name

    sc = sc or StageConfig(target_field="ros_entities")
    target = sc.target_field or "ros_entities"
    ecfg = EntitiesConfig(
        include_offsets=bool(cfg_dict.get("include_offsets", False)),
        include_translation=bool(cfg_dict.get("include_translation", False)),
        translation_language=cfg_dict.get("translation_language", "eng"),
        include_sentiment=bool(cfg_dict.get("include_sentiment", False)),
        sentiment_window=int(cfg_dict.get("sentiment_window", 40)),
        extra_dictionary=tuple(cfg_dict.get("dictionary", ())),
    )
    pattern = cfg_dict.get("pattern", MENTION_PATTERN)
    gaz_rows = cfg_dict.get("gazetteer")
    udf = flat_entities_udf(ecfg, pattern, gaz_rows)

    def stage(df: DataFrame) -> DataFrame:
        if target in df.columns:
            raise TargetOccupiedError(
                f"target field [{target}] already exists in schema"
            )
        return df.withColumn(target, udf(F.col(sc.field))).withColumn(
            error_col_name(target), F.lit(None).cast("string")
        )

    return stage


def entities_stage(
    docs: DataFrame,
    gazetteer: DataFrame | None = None,
    entity_ids: DataFrame | None = None,
    cfg: EntitiesConfig = EntitiesConfig(),
    pattern: str = MENTION_PATTERN,
) -> DataFrame:
    """Full P6: docs (doc_id, spans, ...) → docs + ros_entities column.
    The spans column passes through untouched (R1 invariant)."""
    mentions = extract_mentions(docs, gazetteer, pattern)
    span_texts = text_spans(docs) if cfg.include_sentiment else None
    ents = project_entities(mentions, entity_ids, cfg, span_texts)
    return docs.join(ents, "doc_id", "left")
