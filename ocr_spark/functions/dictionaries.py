"""Correction dictionaries and precompiled rule tables.

Loads the DATA extracted from the reference (alfalaq12/OCR) out of
``ocr_spark/data/corrections.json`` (see ``tools/extract_ref_data.py`` for
provenance) and builds the runtime structures the text operators need. All
regexes are compiled ONCE at module import — i.e. once per Python worker
process on the executors — which fixes the reference's
compile-277-regexes-per-document hazard (reference
``dictionary_corrector.py:1140-1151``) without changing output.

Counts asserted by tests/test_dictionaries.py: 585 kamus words, 324 phrase
corrections, 277 multi-word corrections, 27 foreign words, 6 spelling rules,
5 j->y entries.
"""
from __future__ import annotations

import json
import re
from importlib import resources
from typing import Callable

# importlib.resources, not pathlib: the package must load from a --py-files
# zip on executors, where __file__-relative paths are not real directories.
_D = json.loads(
    resources.files("ocr_spark").joinpath("data/corrections.json").read_text("utf-8")
)

#: Known-word dictionary (already includes the Indonesian-name set, matching
#: the reference's merge at dictionary_corrector.py:196). Membership probes
#: only — this is the broadcast-style small side of the semantic semi-join
#: (SURVEY.md §2.4 J1): a frozenset probe inside the UDF instead of a
#: relational join, because 585 entries never justify a shuffle.
KAMUS: frozenset[str] = frozenset(_D["kamus"])

#: Single-token exact correction map (reference dictionary_corrector.py:244-648).
PHRASE_MAP: dict[str, str] = dict(_D["phrase_corrections"])

#: Multi-word correction map in original insertion order. Order matters:
#: rules are applied longest-key-first and Python's sort is stable, so
#: equal-length keys keep insertion order (reference :1140).
MULTI_WORD_MAP: dict[str, str] = dict(_D["multi_word_corrections"])

#: Foreign-word whitelist + old-spelling rules (reference spelling_normalizer.py:16-51).
FOREIGN_WORDS: frozenset[str] = frozenset(_D["foreign_words"])
SPELLING_RULES: list[tuple[str, str]] = [tuple(r) for r in _D["spelling_rules"]]
J_TO_Y: dict[str, str] = dict(_D["j_to_y"])


def _multiword_pattern(key: str) -> re.Pattern:
    # Same pattern construction as the reference (:1148): escape the key,
    # then let every space match any whitespace run (newlines included).
    return re.compile(re.escape(key).replace(r"\ ", " ").replace(" ", r"\s+"), re.IGNORECASE)


class MultiWordRule:
    """One precompiled multi-word correction rule.

    ``chunks`` are the space-free chunks of the key, lowercased, longest
    first: a rule can only match a string whose ``textops._probe_fold``
    form contains every chunk (the pattern's non-whitespace parts are
    literal). ``probe`` is the longest chunk. ``str.find`` on a chunk is
    ~100x cheaper than a regex scan, so the hot loop runs the regex only
    when all chunks occur.
    """

    __slots__ = ("key", "replacement", "pattern", "chunks", "probe")

    def __init__(self, key: str, replacement: str):
        self.key = key
        self.replacement = replacement
        self.pattern = _multiword_pattern(key)
        chunks = dict.fromkeys(c for c in key.lower().split(" ") if c)
        self.chunks = tuple(sorted(chunks, key=len, reverse=True))
        self.probe = self.chunks[0] if self.chunks else ""


#: Rules sorted longest-key-first, ties in insertion order (stable sort) —
#: the application order is part of the equality contract.
MULTI_WORD_RULES: list[MultiWordRule] = [
    MultiWordRule(k, MULTI_WORD_MAP[k])
    for k in sorted(MULTI_WORD_MAP.keys(), key=len, reverse=True)
]

#: Spelling digraph rules, precompiled case-insensitive.
SPELLING_PATTERNS: list[tuple[re.Pattern, str]] = [
    (re.compile(p, re.IGNORECASE), r) for p, r in SPELLING_RULES
]

#: A turn can only be respelled when its ``textops._probe_fold`` form holds
#: one of these: a digraph rule's (literal) pattern or a whole ``J_TO_Y``
#: key; whitelisted foreign words are kept as they are.
SPELLING_NEEDLES: tuple[str, ...] = tuple(p for p, _ in SPELLING_RULES) + tuple(J_TO_Y)

# ---------------------------------------------------------------------------
# Currency / number normalization rule table.
# Semantics mirror reference dictionary_corrector.py:1304-1408; the table
# below is an original re-expression of those published substitution rules.
# ---------------------------------------------------------------------------

_MONTH_NAMES = (
    "januari", "februari", "maret", "april", "mei", "juni", "juli",
    "agustus", "september", "oktober", "november", "desember",
)
#: The lookahead on the months' first letters is implied by the alternation
#: under IGNORECASE, so it changes no match; it lets sre skip positions with
#: one charset test, which halves the month scans.
_MONTHS = (
    "(?=[" + "".join(sorted({m[0] for m in _MONTH_NAMES})) + "])"
    "(" + "|".join(_MONTH_NAMES) + ")"
)

_DIGIT_LOOKALIKES = str.maketrans("lOoIzZsSb", "100122556")
_HAS_LOOKALIKE = re.compile(r"[lOoIzZsS]")
HAS_DIGIT = re.compile(r"\d")


def fix_digit_lookalikes(m: re.Match) -> str:
    """Translate letter-digit lookalikes inside a matched mixed
    letters+digits run (post-``Rp`` amounts): l/I->1, O/o->0, z/Z->2,
    s/S->5, b->6."""
    num = m.group(0)
    if _HAS_LOOKALIKE.search(num) and HAS_DIGIT.search(num):
        return num.translate(_DIGIT_LOOKALIKES)
    return num


def fix_year_lookalikes(m: re.Match) -> str:
    """g->9, l->1, O->0 inside a matched 4-char year-shaped token."""
    return m.group(0).replace("g", "9").replace("l", "1").replace("O", "0")


class CurrencyRule:
    """One currency/number repair: ``pattern`` rewritten by ``repl``, a
    ``Match.expand`` template or a callable on the match.

    ``admits`` is the rule's gate, a necessary condition checked on the
    current text before the scan: the rule can only match a text whose
    ``textops._probe_fold`` haystack (lowercase plus the sre case folds)
    holds one of ``needles``, and, when ``digit`` is set, that has a
    decimal digit (``\\d``).
    """

    __slots__ = ("pattern", "repl", "needles", "digit")

    def __init__(self, pattern: str, repl, needles: tuple[str, ...],
                 digit: bool = False, flags: int = re.IGNORECASE):
        self.pattern = re.compile(pattern, flags)
        self.repl = repl
        self.needles = needles
        self.digit = digit

    def admits(self, fold: str, has_digit: bool) -> bool:
        return (has_digit or not self.digit) and any(map(fold.__contains__, self.needles))


#: The currency/number rules, applied in order.
CURRENCY_RULES: list[CurrencyRule] = [
    # Rp.XXX.-- / Rp.XXX,-- -> "Rp XXX,-"
    CurrencyRule(r"Rp\.?\s*(\d+(?:[.,]\d+)*)\s*[-.,]+\s*[-]+", r"Rp \1,-", ("rp",), digit=True),
    # Rp.XXX / RpXXX -> "Rp XXX"
    CurrencyRule(r"Rp\.?\s*(\d+(?:[.,]\d+)*)", r"Rp \1", ("rp",), digit=True),
    # OCR misreads of the currency marker: Ru. / Rpy
    CurrencyRule(r"Ru\.?\s*(\d+(?:[.,]\d+)*)", r"Rp \1", ("ru",), digit=True),
    CurrencyRule(r"R[Pp]y\.?\s*(\d+(?:[.,]\d+)*)", r"Rp \1", ("rpy",), digit=True),
    # Orphan amount where the marker was lost to noise: "..277" -> "Rp 277"
    CurrencyRule(
        r"(^|\s)[.:]+(\d+(?:[.,]\d+)*)(?=\s|$|[-.,])", r"\1Rp \2", (".", ":"), digit=True
    ),
    # Year repair, month context: "september 962" -> "september 1962"
    CurrencyRule(_MONTHS + r"\s*[,.]*\s*([98]\d{2})(?!\d)", r"\1 1\2", _MONTH_NAMES, digit=True),
    # "97l" -> "1971" (trailing l/I/1 read as the last digit)
    CurrencyRule(
        _MONTHS + r"\s*[,.]*\s*([98]\d)[lI1](?!\d)", r"\1 1\g<2>1", _MONTH_NAMES, digit=True
    ),
    # "ll Maret" -> "11 Maret"
    CurrencyRule(r"\b([lI]{2})\s+" + _MONTHS, r"11 \2", _MONTH_NAMES),
    # Split year "19 71" -> "1971", month context only
    CurrencyRule(
        _MONTHS + r"\s*[,.]*\s*(19|20)\s+(\d{2})(?!\d)", r"\1 \2\3", _MONTH_NAMES, digit=True
    ),
    # Specific amount misread
    CurrencyRule(r"25\s*[,.]\s*[zZ]00", r"25.100", ("25",), digit=True),
    # Spelled-number repairs ([lI1] folds to l, i or 1)
    CurrencyRule(r"\b[Pp][lI1][hbn]\b", r"puluh", tuple("p" + a + b for a in "li1" for b in "hbn")),
    CurrencyRule(r"\b(ke\s*lima|kelima)\s+(ribu|ratus)", r"lima \2", ("lima",)),
    CurrencyRule(r"\bs[o0a]ratus\b", r"seratus", ("ratus",)),
    # Specific name repairs
    CurrencyRule(r"\b[Kk]asm\s*[.,]\s*nem\b", r"Kasminem", ("nem",)),
    CurrencyRule(r"\b[Ss]ukati[l1I]\b", r"Sukati", ("sukati",)),
    CurrencyRule(r"\b[Mm]aineh\b", r"Mainah", ("maineh",)),
    # Lookalike letters in the amount after "Rp " / "Rp." (case-sensitive)
    CurrencyRule(r"(?<=Rp\s)[lOoIzZsS0-9.,]+", fix_digit_lookalikes, ("rp",), flags=0),
    CurrencyRule(r"(?<=Rp\.)[lOoIzZsS0-9.,]+", fix_digit_lookalikes, ("rp",), flags=0),
    # Year-shaped tokens with lookalike letters (case-sensitive)
    CurrencyRule(r"\b1[9g][0-9lOog]{2}\b", fix_year_lookalikes, ("19", "1g"), digit=True, flags=0),
    CurrencyRule(r"\b20[0-9lOo]{2}\b", fix_year_lookalikes, ("20",), digit=True, flags=0),
]

# ---------------------------------------------------------------------------
# Tokenizer / validator patterns shared by the text operators.
# ---------------------------------------------------------------------------

#: Lossless token/whitespace splitter (round-trips via "".join).
TOKEN_SPLIT = re.compile(r"\S+|\s+")
#: prefix-punct / word-core / suffix-punct peel.
PUNCT_PEEL = re.compile(r"^([^\w]*)([\w\-\']+)([^\w]*)$")
#: digits glued to a >=3-letter word, both orders.
NUM_THEN_WORD = re.compile(r"^(\d+)([a-zA-Z]{3,})$")
WORD_THEN_NUM = re.compile(r"^([a-zA-Z]{3,})(\d+)$")

#: fast-path probes for the correction pass (necessary conditions only):
#: a text with no digit-glued run and no phrase-map key occurrence cannot be
#: changed by the (non-fuzzy) word-correction loop, which is then skipped
DIGIT_GLUE_PROBE = re.compile(r"\d[a-zA-Z]{3}|[a-zA-Z]{3}\d")
PHRASE_KEY_PROBE = re.compile(
    r"(?<![\w\-'])(?:"
    + "|".join(sorted(map(re.escape, PHRASE_MAP), key=len, reverse=True))
    + r")(?![\w\-'])"
)
#: mid-token symbol splitter (keeps delimiters).
SYMBOL_SPLIT = re.compile(r"([^\w\-\']+)")
WORD_CORE = re.compile(r"^[\w\-\']+$")
#: >=3-letter runs, the unit of scoring and unknown-word tracking.
LETTER_RUN = re.compile(r"[a-zA-Z]{3,}")

Replacement = str | Callable[[re.Match], str]
