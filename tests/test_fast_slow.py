"""Fast ≡ slow: the extraction core against an oracle with no shortcuts.

Every probe, gate and identity path in ``textops`` claims to be a
necessary-condition shortcut: it skips only work that cannot change the
result. The oracle below therefore applies every T1 (multi-word), T3
(word), T4 (currency) and T5 (spelling) rule unconditionally, carrying spans
with ``_sub_tracked`` alone, and ``extract_turn`` must equal it on every
output column, spans included. No reference checkout is needed.
"""
from __future__ import annotations

import json
import pathlib
import random
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from test_properties import fold_variants

from ocr_spark.functions import dictionaries as D
from ocr_spark.functions.textops import (
    PiecewiseMap,
    _preserve_case_phrase,
    _preserve_case_single,
    _probe_fold,
    _sub_tracked,
    correct_word,
    extract_turn,
    normalize_currency,
    normalize_spelling,
    quality_score,
    unknown_words,
)

_TOKEN = re.compile(r"\S+")


# ---------------------------------------------------------------------------
# The slow oracle.
# ---------------------------------------------------------------------------

def _slow_multiword(text, spans):
    for rule in D.MULTI_WORD_RULES:
        text, spans, _ = _sub_tracked(
            rule.pattern,
            lambda m, r=rule.replacement: _preserve_case_phrase(m.group(0), r),
            text,
            spans,
            kind="phrase",
        )
    return text, spans


def _slow_word_token(token):
    """(rewritten token, word spans relative to its start)."""
    m = D.NUM_THEN_WORD.match(token)
    if m:
        num, word = m.groups()
        fixed = correct_word(word)
        at = len(num) + 1
        return num + " " + fixed, [(at, at + len(fixed))] if fixed != word else []
    m = D.WORD_THEN_NUM.match(token)
    if m:
        word, num = m.groups()
        fixed = correct_word(word)
        return fixed + " " + num, [(0, len(fixed))] if fixed != word else []
    m = D.PUNCT_PEEL.match(token)
    if m:
        prefix, word, suffix = m.groups()
        fixed = correct_word(word)
        rel = [(len(prefix), len(prefix) + len(fixed))] if fixed != word else []
        return prefix + fixed + suffix, rel
    pieces, rel, at = [], [], 0
    for sub in D.SYMBOL_SPLIT.split(token):
        if sub and D.WORD_CORE.match(sub):
            fixed = correct_word(sub)
            if fixed != sub:
                rel.append((at, at + len(fixed)))
            sub = fixed
        pieces.append(sub)
        at += len(sub)
    return "".join(pieces), rel


def _slow_correct(text):
    text, spans = _slow_multiword(text, [])
    word_spans: list = []
    delta = 0

    def fix(m):
        nonlocal delta
        piece, rel = _slow_word_token(m.group(0))
        at = m.start() + delta
        word_spans.extend((at + s, at + e, "word") for s, e in rel)
        delta += len(piece) - len(m.group(0))
        return piece

    text, spans, _ = _sub_tracked(_TOKEN, fix, text, spans)
    return text, len(word_spans), spans + word_spans


def _slow_currency(text, spans):
    for rule in D.CURRENCY_RULES:
        text, spans, _ = _sub_tracked(rule.pattern, rule.repl, text, spans, kind="currency")
    return text, spans


def _slow_spelling_token(token):
    lower = token.lower()
    if lower in D.FOREIGN_WORDS:
        return token
    if lower in D.J_TO_Y:
        repl = D.J_TO_Y[lower]
        return repl.capitalize() if token[0].isupper() else repl
    for pattern, repl in D.SPELLING_PATTERNS:
        token = pattern.sub(lambda m, r=repl: _preserve_case_single(m.group(0), r), token)
    return token


def _slow_spelling(text, spans):
    out, spans, _ = _sub_tracked(
        _TOKEN, lambda m: _slow_spelling_token(m.group(0)), text, spans, kind="spelling"
    )
    changes = sum(1 for o, n in zip(text.split(), out.split()) if o != n)
    return out, changes, spans


def slow_extract_turn(text, use_dictionary=True, use_spelling=True):
    raw = text or ""
    corrected, n_corr, spans = raw, 0, []
    if use_dictionary and raw:
        corrected, n_corr, spans = _slow_correct(raw)
        corrected, spans = _slow_currency(corrected, spans)
    if use_spelling and corrected:
        normalized, n_spell, spans = _slow_spelling(corrected, spans)
    else:
        normalized, n_spell = corrected, 0
    score_input = normalized or corrected or raw
    return {
        "extracted_text": corrected,
        "normalized_text": normalized,
        "dictionary_corrections": n_corr,
        "spelling_changes": n_spell,
        "quality": quality_score(score_input, None, n_corr),
        "unknown_words": unknown_words(score_input),
        "spans": spans,
    }


FLAGS = [(True, True), (True, False), (False, True)]


def _assert_fast_is_slow(text, flags=FLAGS):
    for use_dict, use_spell in flags:
        fast = extract_turn(text, use_dictionary=use_dict, use_spelling=use_spell)
        slow = slow_extract_turn(text, use_dictionary=use_dict, use_spelling=use_spell)
        assert fast.keys() == slow.keys()
        for k in fast:
            assert fast[k] == slow[k], (k, use_dict, use_spell, text[:200])


# ---------------------------------------------------------------------------
# The fuzz: fragments that drive every rule family and every sre case fold.
# ---------------------------------------------------------------------------

_MONTH_NAMES = list(D._MONTH_NAMES)
#: characters IGNORECASE folds onto ASCII letters that str.lower() does not
#: (ſ ı İ), letters whose lowercase is ASCII (Kelvin K) or not (Angstrom Å),
#: a bare combining dot, and a non-ASCII decimal digit (\d matches it)
_FOLDS = ["ſ", "ı", "İ", "\u212a", "\u212b", "\u0307", "i\u0307", "\u0663"]
_FRAGMENTS = (
    _FOLDS
    + list("0123456789")
    + ["19", "20", "25", "00", "962", "97l", "1g8O", "20O1", "5OO", "l2", "z00"]
    + ["Rp", "rp", "RP", "Rp.", "Rp ", "Ru", "Ru.", "Rpy", "RPy"]
    + _MONTH_NAMES
    + [m.title() for m in _MONTH_NAMES[:6]] + [m.upper() for m in _MONTH_NAMES[6:]]
    + ["ll", "lI", "l", "I", "O", "o", "g", "z", "S", "b"]
    + ["lima", "ke lima", "kelima", "ribu", "ratus", "soratus", "s0ratus",
       "Kasm", "nem", "Sukati", "sukatil", "Maineh", "plh", "P1n", "pIb"]
    + ["oe", "dj", "tj", "nj", "sj", "ch", "OE", "Dj", "CH", "ja", "Ja", "JA"]
    + sorted(D.J_TO_Y) + sorted(D.FOREIGN_WORDS)[:8]
    + ["djalan", "tjinta", "njonja", "sjarat", "chusus", "oetama"]
    + sorted(D.PHRASE_MAP)[:40] + sorted(D.KAMUS)[:20]
    + ["12menit", "jam3", "tahun1985", "a/b", "x--y", "(kata)", "'s"]
    + [".", "..", ":", ",", "-", "--", ",-", ".--", "/", "!", "?", "(", ")", "—"]
    + [" ", " ", " ", "  ", "\n", "\t", " "]
)


@st.composite
def _folded_key(draw):
    """A multi-word key, maybe recased, maybe with one letter swapped for a
    character that IGNORECASE folds onto it."""
    key = draw(st.sampled_from(sorted(D.MULTI_WORD_MAP)))
    key = draw(st.sampled_from([key, key.upper(), key.title()]))
    return draw(st.sampled_from([key, *fold_variants(key)]))


_pieces = st.one_of(
    st.sampled_from(_FRAGMENTS),
    st.sampled_from(_FRAGMENTS),
    _folded_key(),
    st.text(st.characters(max_codepoint=0x2FF), max_size=3),
)
_turns = st.tuples(st.lists(_pieces, max_size=24), st.sampled_from(["", " "])).map(
    lambda parts_sep: parts_sep[1].join(parts_sep[0])
)


@settings(max_examples=600, deadline=None, derandomize=True)
@given(_turns)
def test_fast_equals_slow(text):
    _assert_fast_is_slow(text)


@pytest.mark.parametrize(
    "text",
    [
        None, "", " ", "\ud800", "Rp \udfff 5OO djalan", "ſj", "Sİc", "sıc erat",
        "Rp.5OO.--", "..277 ribu", "september 962", "ll Maret 19 71", "25,z00",
        "kelima ribu", "Kasm. nem", "sukatil", "Maineh", "ja", "JANG Djakarta",
        "tahun l985, Rp l2.345", "ſeptember 97l",
    ],
)
def test_fast_equals_slow_fixed_cases(text):
    _assert_fast_is_slow(text)


# ---------------------------------------------------------------------------
# Each shortcut pinned on its own: a necessary condition must hold on every
# text its rule changes, with the sre case folds swapped in letter by letter.
# ---------------------------------------------------------------------------

def _variants(example):
    for text in (example, example.upper(), example.title()):
        yield text
        yield from fold_variants(text)


_CURRENCY_EXAMPLES = (
    ["Rp.500.--", "rp 1.250,-", "Rp5", "Rp\u0663", "Ru.500", "ru 7", "Rpy 500",
     "RPY7", " ..277 ", ":5,", "25,z00", "25 . Z00", "p1h", "Plh", "pIn",
     "kelima ribu", "ke lima ratus",
     "soratus", "s0ratus", "Kasm. nem", "kasm,nem", "Sukatil", "sukati1",
     "Maineh", "Rp l2.345", "Rp.5OO", "Rp 1S", "1g85", "19l2", "20O1", "2O01"]
    + [f"{m} 962" for m in _MONTH_NAMES]
    + [f"{m}, 97l" for m in _MONTH_NAMES]
    + [f"{m} 9\u0663\u0663" for m in _MONTH_NAMES]
    + [f"ll {m}" for m in _MONTH_NAMES]
    + [f"{m} 19 71" for m in _MONTH_NAMES]
)


def test_currency_gates_are_necessary():
    misses = []
    for rule in D.CURRENCY_RULES:
        hits = 0
        for example in _CURRENCY_EXAMPLES:
            for text in _variants(example):
                if rule.pattern.search(text):
                    hits += 1
                    has_digit = D.HAS_DIGIT.search(text) is not None
                    if not rule.admits(_probe_fold(text), has_digit):
                        misses.append((rule.pattern.pattern, text))
        assert hits, rule.pattern.pattern  # every rule is exercised
    assert not misses, misses[:10]


def test_currency_stage_equals_slow():
    for example in _CURRENCY_EXAMPLES:
        for text in _variants(example):
            assert normalize_currency(text, [(0, 1, "word")]) == _slow_currency(
                text, [(0, 1, "word")]
            ), text


def test_month_lookahead_changes_no_match():
    """The ``(?=[...])`` before the month alternation is implied by it under
    IGNORECASE: the rules find the same matches without it."""
    look = re.compile(r"\(\?=\[[a-z]+\]\)")
    rules = [r for r in D.CURRENCY_RULES if look.search(r.pattern.pattern)]
    assert len(rules) == 4
    texts = [t for ex in _CURRENCY_EXAMPLES for t in _variants(ex)] + _FRAGMENTS
    texts += [" ".join(_FRAGMENTS[i:i + 9]) for i in range(len(_FRAGMENTS))]
    for rule in rules:
        bare = re.compile(look.sub("", rule.pattern.pattern), rule.pattern.flags)
        for text in texts:
            got = [(m.span(), m.groups()) for m in rule.pattern.finditer(text)]
            assert got == [(m.span(), m.groups()) for m in bare.finditer(text)], text


def test_spelling_skip_is_necessary():
    """A turn the slow spelling pass changes holds a ``SPELLING_NEEDLES``
    needle in its fold; the needles are literal lowercase strings."""
    assert all(n.isascii() and n.isalpha() and n.islower() for n in D.SPELLING_NEEDLES)
    words = (
        sorted(D.J_TO_Y) + [p for p, _ in D.SPELLING_RULES]
        + ["djalan", "tjinta", "njonja", "sjarat", "chusus", "oetama", "kasih", "Ja,"]
    )
    changed, misses = 0, []
    for word in words:
        for text in _variants(word):
            for turn in (text, f"x {text} y", text + "\n"):
                slow = _slow_spelling(turn, [])
                if slow[0] != turn:
                    changed += 1
                    if not any(n in _probe_fold(turn) for n in D.SPELLING_NEEDLES):
                        misses.append(turn)
                assert normalize_spelling(turn, []) == slow, turn
    assert changed > 50
    assert not misses, misses[:10]


# ---------------------------------------------------------------------------
# The span map: storing only rewritten segments changes no mapped offset.
# ---------------------------------------------------------------------------

def _dense_map(segments):
    """The map as it was when every segment was stored, unchanged ones
    included: ``p`` in an unchanged segment shifts, clamped to its end."""
    from bisect import bisect_right

    starts = [s[0] for s in segments]

    def dense(p):
        i = bisect_right(starts, p) - 1
        if i < 0:
            return p
        old_s, old_e, new_s, new_e, changed = segments[i]
        if not changed:
            return min(new_e, new_s + (p - old_s))
        return new_s if p < old_e else new_e

    return dense


@settings(max_examples=400, deadline=None, derandomize=True)
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5), st.booleans()), max_size=16))
def test_changed_only_map_equals_dense_map(pieces):
    segments, sparse = [], PiecewiseMap()
    old = new = 0
    for old_len, new_len, changed in pieces:
        if not changed:
            new_len = old_len
        segments.append((old, old + old_len, new, new + new_len, changed))
        if changed:
            sparse.add(old, old + old_len, new, new + new_len)
        old += old_len
        new += new_len
    dense = _dense_map(segments)
    for p in range(old + 1):
        assert sparse.map(p) == dense(p), (p, segments)


# ---------------------------------------------------------------------------
# Hostile sizes (empty, missing and lone-surrogate turns are fixed cases above).
# ---------------------------------------------------------------------------

def test_two_megabyte_token_equals_slow():
    rng = random.Random(7)
    token = "".join(rng.choice("abcdjtoeRpru0123456789.,-/ſİ") for _ in range(2 << 20))
    _assert_fast_is_slow(token, flags=[(True, True)])


def test_megabyte_prose_equals_slow():
    fixtures = json.loads((pathlib.Path(__file__).parent / "fixtures" / "golden.json").read_text())
    unit = "\n\n".join(dict.fromkeys(fx["input"] for fx in fixtures))
    prose = unit * ((1 << 20) // len(unit) + 1)
    assert len(prose) >= 1 << 20
    _assert_fast_is_slow(prose, flags=[(True, True)])
