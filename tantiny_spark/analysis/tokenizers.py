"""Tokenizer families matching the reference's three analyzers.

Reference: /root/reference/src/tokenizer.rs:27-65 and
/root/reference/lib/tantiny/tokenizer.rb:5-26.

- ``simple``   = SimpleTokenizer → RemoveLongFilter(40) → LowerCaser
  (tokenizer.rs:27-33)
- ``stemmer``  = simple + Snowball stemmer for a language (tokenizer.rs:35-45);
  supported language codes mirror /root/reference/src/helpers.rs:18-40.
- ``ngram``    = character n-grams min..max over the raw text, optionally
  prefix-only, NO lowercasing (tokenizer.rs:47-65).

These are pure-Python functions. The build's Arrow-batched analyzer
(``tantiny_spark.build._flat_analyzer``) calls them executor-side, and queries
call the same functions driver-side, so query-time and index-time analysis
are identical (tokenizer.rb:24-26).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

from tantiny_spark.errors import UnknownTokenizer
from tantiny_spark.analysis import unicode_alnum
from tantiny_spark.analysis import (
    porter2,
    snowball_ar,
    snowball_da,
    snowball_de,
    snowball_el,
    snowball_es,
    snowball_fi,
    snowball_fr,
    snowball_hu,
    snowball_it,
    snowball_nl,
    snowball_no,
    snowball_pt,
    snowball_ro,
    snowball_ru,
    snowball_sv,
    snowball_ta,
    snowball_tr,
)

# Tantivy's SimpleTokenizer splits on char::is_alphanumeric() boundaries.
# Rust's is_alphanumeric covers the derived Alphabetic property, which
# (unlike Python's \w) includes Other_Alphabetic combining marks — Indic
# vowel signs, Arabic harakat, Hebrew niqqud. Python's [^\W_] would split
# e.g. Tamil words at every matra; the generated positive class matches
# Rust exactly (see analysis/unicode_alnum.py for provenance).
_TOKEN_RE = re.compile(f"[{unicode_alnum.WORD_CHAR_CLASS}]+")

# Splitting is the analyzer's hot loop. CPython's `re` scans a large
# explicit class (600+ ranges) linearly per character — measured 4.7x
# slower than [^\W_] — so _split_words dispatches:
#   * ASCII text (str.isascii() is O(1) — CPython stores the flag): a plain
#     [0-9A-Za-z]+ regex. Exact, because the class's only sub-0x80 ranges
#     ARE 0-9/A-Z/a-z (Rust alnum on ASCII), and the ASCII flag guarantees
#     no other codepoints are present.
#   * anything else: vectorized numpy membership — codepoints via utf-32
#     view, range lookup via searchsorted on the SAME generated table,
#     maximal runs from the boundary diff. Identical tokens to
#     _TOKEN_RE.findall by construction (property-tested).
_ASCII_TOKEN_RE = re.compile(r"[0-9A-Za-z]+")


def _parse_class_ranges():
    import numpy as np

    s = unicode_alnum.WORD_CHAR_CLASS
    starts, ends = [], []
    i = 0
    while i < len(s):
        a = ord(s[i])
        if i + 2 < len(s) and s[i + 1] == "-":
            b = ord(s[i + 2])
            i += 3
        else:
            b = a
            i += 1
        starts.append(a)
        ends.append(b)
    st = np.array(starts, dtype=np.uint32)
    en = np.array(ends, dtype=np.uint32)
    # generator emits sorted, disjoint ranges — searchsorted relies on it
    assert (st[1:] > en[:-1]).all()
    return st, en


_RANGE_STARTS, _RANGE_ENDS = _parse_class_ranges()


def _split_words(text: str) -> list[str]:
    if text.isascii():
        return _ASCII_TOKEN_RE.findall(text)
    import numpy as np

    try:
        cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    except UnicodeEncodeError:  # lone surrogates: take the exact slow path
        return _TOKEN_RE.findall(text)
    idx = np.searchsorted(_RANGE_STARTS, cp, side="right") - 1
    ok = (idx >= 0) & (cp <= _RANGE_ENDS[np.maximum(idx, 0)])
    padded = np.empty(len(ok) + 2, dtype=bool)
    padded[0] = padded[-1] = False
    padded[1:-1] = ok
    bounds = np.flatnonzero(padded[1:] != padded[:-1])
    return [text[bounds[i]: bounds[i + 1]] for i in range(0, len(bounds), 2)]

# RemoveLongFilter::limit(40) keeps tokens whose UTF-8 byte length is < 40
# (tokenizer.rs:29).
_MAX_TOKEN_BYTES = 40

# Language codes accepted by the reference (src/helpers.rs:18-40).
SUPPORTED_LANGUAGES = (
    "ar", "da", "nl", "en", "fi", "fr", "de", "el", "hu", "it",
    "no", "pt", "ro", "ru", "es", "sv", "ta", "tr",
)

_STEMMERS = {
    "ar": snowball_ar.stem,
    "da": snowball_da.stem,
    "de": snowball_de.stem,
    "en": porter2.stem,
    "es": snowball_es.stem,
    "fi": snowball_fi.stem,
    "fr": snowball_fr.stem,
    "it": snowball_it.stem,
    "nl": snowball_nl.stem,
    "no": snowball_no.stem,
    "pt": snowball_pt.stem,
    "ro": snowball_ro.stem,
    "ru": snowball_ru.stem,
    "sv": snowball_sv.stem,
    "el": snowball_el.stem,
    "hu": snowball_hu.stem,
    "tr": snowball_tr.stem,
    "ta": snowball_ta.stem,
}


def _lowercase(t: str) -> str:
    """Char-wise lowercase, matching Tantivy's LowerCaser (per-char
    ``char::to_lowercase``): Python's str.lower() applies the Unicode
    Final_Sigma context rule ('ΚΟΣΜΟΣ' → 'κοσμος'), the Rust char-wise
    conversion does not ('κοσμοσ') — Greek tokens must match the
    reference's. Only tokens containing 'Σ' can differ (Final_Sigma is the
    sole context-dependent rule in default case conversion), so the slow
    path is gated on it."""
    if "Σ" in t:
        return "".join(c.lower() for c in t)
    return t.lower()


def _simple_terms(text: str) -> list[str]:
    return [
        _lowercase(t)
        for t in _split_words(text)
        if len(t.encode("utf-8")) < _MAX_TOKEN_BYTES
    ]


# --- optional token filters (the Tantivy TokenFilter family) ---------------

#: non-decomposable Latin letters NFKD cannot fold (the classic supplement
#: every accent folder carries — Lucene ASCIIFoldingFilter rows)
_FOLD_SUPPLEMENT = {
    "ß": "ss", "æ": "ae", "œ": "oe", "ø": "o", "đ": "d", "ð": "d",
    "þ": "th", "ł": "l", "ħ": "h", "ŋ": "n", "ı": "i", "ĸ": "k",
}


@lru_cache(maxsize=65536)
def _fold_token(t: str) -> str:
    """Accent folding (Tantivy AsciiFoldingFilter, src/tokenizer/
    ascii_folding_filter.rs): NFKD-decompose, drop combining marks, map the
    non-decomposable supplements — 'café' → 'cafe', 'straße' → 'strasse'.
    Non-Latin scripts (CJK, Cyrillic, ...) pass through unchanged. NFKD
    also folds compatibility forms (ligatures, fullwidth) the Lucene table
    folds one-by-one."""
    if t.isascii():
        return t
    import unicodedata

    out = []
    for ch in unicodedata.normalize("NFKD", t):
        if unicodedata.combining(ch):
            continue
        out.append(_FOLD_SUPPLEMENT.get(ch, ch))
    return "".join(out) or t


@dataclass(frozen=True)
class Tokenizer:
    """A serializable tokenizer spec; ``terms(text)`` runs the analyzer.

    Frozen dataclass so it can be captured in UDF closures and hashed into
    registry keys.
    """

    kind: str  # simple | stemmer | ngram
    language: str = "en"
    min_gram: int = 2
    max_gram: int = 10
    prefix_only: bool = False
    #: StopWordFilter (tantivy src/tokenizer/stop_word_filter.rs): tokens
    #: dropped after lowercasing, BEFORE stemming. NOTE positions compact —
    #: a phrase matches across removed stopwords ("quick fox" matches
    #: "quick the fox"), the classic stopped-phrase behavior.
    stop_words: tuple = ()
    #: AsciiFoldingFilter: accent-fold the FINAL tokens (after stemming,
    #: the cross-language-safe order) — 'café' and 'cafe' unify.
    ascii_folding: bool = False
    #: SynonymFilter (the Lucene SynonymFilter contract, restricted to
    #: token→token normalization so positions are preserved 1:1): each
    #: (variant, canonical) pair rewrites a lowercased token AFTER stop
    #: words and BEFORE stemming — both index- and query-time streams go
    #: through the same map, so searching either surface form matches the
    #: union. Multi-word (graph) synonyms are deliberately out of scope:
    #: they would break the flat positions contract (position = stream
    #: index) that phrase queries and the terms()-parity UDFs rely on.
    synonyms: tuple = ()

    def terms(self, text: str) -> list[str]:
        if text is None:
            return []
        if self.kind == "simple":
            out = _simple_terms(text)
        elif self.kind == "stemmer":
            out = _simple_terms(text)
        elif self.kind == "ngram":
            if self.stop_words or self.ascii_folding or self.synonyms:
                raise UnknownTokenizer(
                    "ngram tokenizer does not take stop_words/ascii_folding/"
                    "synonyms (it has no word stream to filter)"
                )
            return _ngrams(text, self.min_gram, self.max_gram, self.prefix_only)
        else:
            raise UnknownTokenizer(self.kind)
        if self.stop_words:
            sw = self._stop_set()
            out = [t for t in out if t not in sw]
        if self.synonyms:
            syn = _syn_map(self.synonyms)
            out = [syn.get(t, t) for t in out]
        if self.kind == "stemmer":
            stem = _stem_fn(self.language)
            out = [stem(t) for t in out]
        if self.ascii_folding:
            out = [_fold_token(t) for t in out]
        return out

    def _stop_set(self) -> frozenset:
        return _stop_frozen(self.stop_words)

    # --- constructors mirroring Tokenizer.new(kind, **opts) (tokenizer.rb:9-22)
    @staticmethod
    def default() -> "Tokenizer":
        return Tokenizer("simple")

    @staticmethod
    def new(kind: str, **opts) -> "Tokenizer":
        filters = {
            "stop_words": tuple(opts.get("stop_words", ()) or ()),
            "ascii_folding": bool(opts.get("ascii_folding", False)),
            "synonyms": _norm_synonyms(opts.get("synonyms", ()) or ()),
        }
        if kind == "simple":
            return Tokenizer("simple", **filters)
        if kind == "stemmer":
            language = str(opts.get("language", "en"))
            if language not in SUPPORTED_LANGUAGES:
                raise UnknownTokenizer(f"stemmer language '{language}'")
            return Tokenizer("stemmer", language=language, **filters)
        if kind == "ngram":
            if any(filters.values()):
                raise UnknownTokenizer(
                    "ngram tokenizer does not take "
                    "stop_words/ascii_folding/synonyms"
                )
            return Tokenizer(
                "ngram",
                min_gram=int(opts["min"]),
                max_gram=int(opts["max"]),
                prefix_only=bool(opts.get("prefix_only", False)),
            )
        raise UnknownTokenizer(kind)


@lru_cache(maxsize=None)
def _stop_frozen(words: tuple) -> frozenset:
    return frozenset(words)


def _norm_synonyms(synonyms) -> tuple:
    """Normalize a synonyms spec ({variant: canonical} dict or iterable of
    (variant, canonical) pairs) into the frozen, sorted pair tuple the
    Tokenizer dataclass stores. Both sides are lowercased (the stream the
    filter sees is post-LowerCaser) and must each be exactly ONE token of
    the simple analyzer — anything else could never match / never be
    emitted coherently, so fail loud at construction time."""
    pairs = synonyms.items() if isinstance(synonyms, dict) else synonyms
    out = {}
    for variant, canonical in pairs:
        v, c = _lowercase(str(variant)), _lowercase(str(canonical))
        for side in (v, c):
            if _split_words(side) != [side]:
                raise UnknownTokenizer(
                    f"synonym entry {side!r} is not a single simple-analyzer "
                    "token (multi-word/graph synonyms are not supported)"
                )
        if v in out and out[v] != c:
            raise UnknownTokenizer(
                f"conflicting synonym targets for {v!r}: {out[v]!r} vs {c!r}"
            )
        out[v] = c
    return tuple(sorted(out.items()))


@lru_cache(maxsize=None)
def _syn_map(pairs: tuple) -> dict:
    return dict(pairs)


def _stem_fn(language: str):
    # All 18 reference languages (helpers.rs:18-40) are implemented.
    return _cached_stemmer(language)


@lru_cache(maxsize=None)
def _cached_stemmer(language: str):
    base = _STEMMERS[language]
    cache: dict[str, str] = {}

    def cached(token: str) -> str:
        out = cache.get(token)
        if out is None:
            out = base(token)
            cache[token] = out
        return out

    return cached


def _ngrams(text: str, min_gram: int, max_gram: int, prefix_only: bool) -> list[str]:
    """Character n-grams over the raw text (no lowercasing, no word split),
    like tantivy's NgramTokenizer (tokenizer.rs:47-65). Golden:
    'Morrowind' min=3 max=10 prefix_only → Mor..Morrowind
    (spec/tantiny/tokenizer_spec.rb:41-48)."""
    chars = list(text)
    n = len(chars)
    out: list[str] = []
    starts = [0] if prefix_only else range(n)
    for i in starts:
        for size in range(min_gram, max_gram + 1):
            if i + size > n:
                break
            out.append("".join(chars[i : i + size]))
    return out
