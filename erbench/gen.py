"""Seeded input generators with planted truth for the ER benchmark.

The engine only ever sees the documents these functions build; the
truth (which planted entity each surface form belongs to) stays here.

Families follow the resolvability rules of the engine's own corpus
generator (``corpus.make_families``), so pairwise F1 near 1.0 is
reachable from surface forms alone:

* each family is one entity with a canonical ``First Last`` form and
  three variants: initials (``F. Last``), token swap (``Last First``)
  and one mid-token lowercase typo;
* the ``(first initial, last)`` signature is unique across families;
* the first mention of a family in a corpus is its canonical form, so
  variant chains always meet the canonical hub.

The seed's corpus draws last names from a list of 14, which caps it at
~220 families.  Here last names come from a Reed-Solomon [4, 2, 3] code
over 31 syllables: any two of the 961 last names differ in at least
three of their four syllables, so a wide vocabulary does not plant
near-duplicate entities that no resolver could separate.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# syllable onsets with pairwise distinct Double Metaphone codes, so two
# names that differ in a syllable also differ in their phonetic key
_ONSETS = (
    "b", "d", "f", "k", "l", "m", "n", "r", "s", "h", "j", "sh", "th",
    "br", "dr", "fr", "kr", "bl", "fl", "kl", "sl", "sk", "st", "sn",
    "sm", "sp", "thr", "shr", "skr", "str", "spl",
)
_Q = len(_ONSETS)  # 31, prime: (a, b, a+b, a+2b) mod q has distance 3
NAME_POOL = _Q * _Q


def _syllable(pos: int, i: int) -> str:
    # the vowel and coda depend on the position too, so unrelated names
    # share few character shingles and rarely collide in MinHash bands
    return _ONSETS[i] + "aeiou"[(i + 2 * pos) % 5] + ("", "n", "", "r", "l")[pos]


_FILLER = (
    "the report said that ", "according to sources ", "yesterday ",
    "in other news ", "analysts noted ", "meanwhile ", "officials stated ",
)
_POST = " and the story continued. "
_MEDIA = ("image", "audio", "video")
# draw weights of (canonical, initials, swap, typo) for repeat mentions:
# initials variants are kept rare because every ``F. Last`` form lands
# in the phonetic block of its initial letter, whose pair count grows
# with the square of the vocabulary
_SURFACE_WEIGHTS = (0.55, 0.1, 0.2, 0.15)


def last_name(k: int) -> str:
    a, b = divmod(k, _Q)
    code = (a, b, (a + b) % _Q, (a + 2 * b) % _Q)
    return "".join(_syllable(p, s) for p, s in enumerate(code)).capitalize()


# first names spread their initials evenly over single letters (the
# ``F. Last`` variants of one initial share a phonetic block) and put a
# coda between the syllables, so the 4-letter phonetic key of a first
# name depends on both of its syllables
_FIRST_ONSETS = "bdfghjklmnprstvwz"
_CODAS = "lnrmskd"


def first_name(k: int) -> str:
    a, b = divmod(k, _Q)
    return (
        _FIRST_ONSETS[(a + b) % len(_FIRST_ONSETS)] + "aeiou"[a % 5]
        + _CODAS[b % len(_CODAS)] + _ONSETS[a] + "aeiou"[b % 5]
    ).capitalize()


def _typo(rng: random.Random, s: str) -> str:
    """One drop/swap/double at a mid-token lowercase position (a typo on
    a space or capital would change what the extractor sees).  Drawn
    again when it leaves the string unchanged (a swap of equal letters),
    so a typo variant never repeats the canonical form."""
    eligible = [
        i for i in range(1, len(s) - 2)
        if s[i - 1].islower() and s[i].islower() and s[i + 1].islower()
    ]
    while True:
        i = rng.choice(eligible)
        kind = rng.randrange(3)
        if kind == 0:
            out = s[:i] + s[i + 1:]
        elif kind == 1:
            out = s[:i] + s[i + 1] + s[i] + s[i + 2:]
        else:
            out = s[:i] + s[i] + s[i:]
        if out != s:
            return out


@dataclass(frozen=True)
class Family:
    label: str
    canonical: str
    variants: tuple[str, ...]

    @property
    def surfaces(self) -> tuple[str, ...]:
        return (self.canonical, *self.variants)


def make_families(
    firsts: list[int], lasts: list[int], rng: random.Random, prefix: str
) -> list[Family]:
    """One family per (first, last) pool index pair.  Callers pass
    disjoint slices of seeded permutations of ``range(NAME_POOL)``, so
    first and last names are never shared: the signature rule holds by
    construction, and candidate pairs grow with the vocabulary rather
    than with name popularity."""
    fams = []
    for k, (f, l) in enumerate(zip(firsts, lasts, strict=True)):
        first, last = first_name(f), last_name(l)
        canonical = f"{first} {last}"
        variants = (f"{first[0]}. {last}", f"{last} {first}",
                    _typo(rng, canonical))
        fams.append(Family(f"{prefix}{k:05d}", canonical, variants))
    return fams


@dataclass
class Corpus:
    """Generated documents plus the planted truth the checks need."""

    docs: list[tuple]             # (doc_id, [(kind, text, media_ref, offset)])
    surface_counts: Counter       # planted mentions per surface form
    truth: dict[str, str]         # surface form -> family label


def make_docs(
    families: list[Family],
    n_docs: int,
    rng: random.Random,
    mentions_per_doc: tuple[int, int] = (1, 3),
    doc_prefix: str = "d",
) -> Corpus:
    """Interleaved text+media documents naming uniformly drawn families.
    Each text span holds exactly one planted mention between lowercase
    filler, so the only capitalized sequences the extractor can find
    are planted surfaces."""
    seen: set[str] = set()
    docs, counts = [], Counter()
    picks = rng.choices(range(len(families)), k=n_docs * mentions_per_doc[1])
    p = 0
    for d in range(n_docs):
        doc_id = f"{doc_prefix}{d:07d}"
        spans, offset = [], 0
        if rng.random() < 0.5:
            spans.append(("image", None, f"img://{doc_id}/head.png", offset))
            offset += 1
        for m in range(rng.randint(*mentions_per_doc)):
            fam = families[picks[p]]
            p += 1
            if fam.label in seen:
                surface = rng.choices(fam.surfaces, _SURFACE_WEIGHTS)[0]
            else:
                surface = fam.canonical
                seen.add(fam.label)
            counts[surface] += 1
            text = rng.choice(_FILLER) + surface + _POST
            spans.append(("text", text, None, offset))
            offset += len(text)
            if rng.random() < 0.5:
                kind = rng.choice(_MEDIA)
                spans.append((kind, None, f"{kind[:3]}://{doc_id}/{m}", offset))
                offset += 1
        docs.append((doc_id, spans))
    truth = {s: f.label for f in families for s in f.surfaces}
    return Corpus(docs, counts, truth)


def make_delta(
    base: Corpus,
    new: list[Family],
    n_known: int,
    rng: random.Random,
    doc_prefix: str,
) -> Corpus:
    """A delta with a fixed shape: every surface of each new family
    (canonical first) plus ``n_known`` distinct surfaces already seen in
    ``base``, two mentions per document.  So each delta holds exactly
    ``4 * len(new) + n_known`` distinct names, whatever the seed."""
    known = rng.sample(sorted(base.surface_counts), n_known)
    mentions = known + [s for f in new for s in f.surfaces]
    rng.shuffle(mentions)
    for f in new:  # the canonical form goes first within its family
        slots = sorted(mentions.index(s) for s in f.surfaces)
        for i, s in zip(slots, f.surfaces):
            mentions[i] = s
    if len(mentions) % 2:
        raise ValueError("a delta needs an even number of mentions")
    docs, counts = [], Counter(mentions)
    for d in range(len(mentions) // 2):
        doc_id = f"{doc_prefix}{d:07d}"
        spans, offset = [], 0
        for m, surface in enumerate(mentions[2 * d:2 * d + 2]):
            text = rng.choice(_FILLER) + surface + _POST
            spans.append(("text", text, None, offset))
            offset += len(text)
            if rng.random() < 0.5:
                kind = rng.choice(_MEDIA)
                spans.append((kind, None, f"{kind[:3]}://{doc_id}/{m}", offset))
                offset += 1
        docs.append((doc_id, spans))
    truth = dict(base.truth)
    truth.update({s: f.label for f in new for s in f.surfaces})
    return Corpus(docs, counts, truth)


_SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOCS_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", pa.list_(_SPAN_TYPE)),
])


def write_docs_parquet(
    docs: list[tuple], path: str, delta: list[int] | None = None
) -> None:
    """Write documents in the engine's DOCUMENTS layout, with an extra
    ``delta`` column when given."""
    columns = {
        "doc_id": [d for d, _ in docs],
        "spans": [
            [dict(zip(("kind", "text", "media_ref", "offset"), s))
             for s in spans]
            for _, spans in docs
        ],
    }
    schema = DOCS_ARROW_SCHEMA
    if delta is not None:
        columns["delta"] = delta
        schema = schema.append(pa.field("delta", pa.int32()))
    pq.write_table(pa.table(columns, schema=schema), path)
