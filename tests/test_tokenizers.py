"""Golden tokenizer tests — ports of spec/tantiny/tokenizer_spec.rb:20-49."""

import pytest

from tantiny_spark.analysis.tokenizers import SUPPORTED_LANGUAGES, Tokenizer
from tantiny_spark.errors import UnknownTokenizer


def test_simple_golden():
    # tokenizer_spec.rb:23-30
    tok = Tokenizer.new("simple")
    assert tok.terms("Well, not even last night's storm could wake you.") == [
        "well", "not", "even", "last", "night", "s", "storm", "could", "wake", "you",
    ]


def test_russian_stemmer_golden():
    # tokenizer_spec.rb:32-39
    tok = Tokenizer.new("stemmer", language="ru")
    assert tok.terms("Ну ты и соня, тебя даже вчерашний шторм не разбудил!") == [
        "ну", "ты", "и", "сон", "теб", "даж", "вчерашн", "шторм", "не", "разбуд",
    ]


def test_ngram_prefix_golden():
    # tokenizer_spec.rb:41-48 — no lowercasing
    tok = Tokenizer.new("ngram", min=3, max=10, prefix_only=True)
    assert tok.terms("Morrowind") == [
        "Mor", "Morr", "Morro", "Morrow", "Morrowi", "Morrowin", "Morrowind",
    ]


def test_ngram_all_positions():
    tok = Tokenizer.new("ngram", min=2, max=3, prefix_only=False)
    assert tok.terms("abcd") == ["ab", "abc", "bc", "bcd", "cd"]


def test_english_stemmer():
    # north_star pins en_stem = lowercase + Snowball English
    tok = Tokenizer.new("stemmer", language="en")
    assert tok.terms("Ones two threes") == ["one", "two", "three"]
    assert tok.terms("running consistency") == ["run", "consist"]


def test_porter2_known_vocabulary():
    from tantiny_spark.analysis.porter2 import stem

    expected = {
        "caresses": "caress", "ponies": "poni", "ties": "tie", "cats": "cat",
        "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "hopping": "hop", "filing": "file",
        "happy": "happi", "sky": "sky", "relational": "relat",
        "electriciti": "electr", "generously": "generous", "dying": "die",
        "news": "news", "communication": "communic",
    }
    for word, out in expected.items():
        assert stem(word) == out, word


def test_long_token_filter():
    # RemoveLongFilter::limit(40): tokens >= 40 bytes dropped (tokenizer.rs:29)
    tok = Tokenizer.new("simple")
    keep = "a" * 39
    drop = "b" * 40
    assert tok.terms(f"{keep} {drop} ok") == [keep, "ok"]


def test_unknown_tokenizer_raises():
    with pytest.raises(UnknownTokenizer):
        Tokenizer.new("bogus")
    with pytest.raises(UnknownTokenizer):
        Tokenizer.new("stemmer", language="xx")


def test_language_registry_matches_reference():
    # src/helpers.rs:18-40 — the 18 supported codes
    assert len(SUPPORTED_LANGUAGES) == 18
    assert "en" in SUPPORTED_LANGUAGES and "ru" in SUPPORTED_LANGUAGES


def test_simple_split_rust_alnum_parity():
    """The word-char class matches Rust char::is_alphanumeric (what
    Tantivy's SimpleTokenizer splits on), not Python's narrower \\w:
    Other_Alphabetic combining marks — Indic matras, Arabic harakat,
    Hebrew niqqud — are word characters; viramas and punctuation split."""
    t = Tokenizer.new("simple")
    # Tamil: vowel signs (Mc/Mn, Other_Alphabetic) stay inside the token;
    # the virama U+0BCD is NOT Alphabetic, so it splits — Rust behavior.
    assert t.terms("புத்தகங்கள்") == ["புத", "தகங", "கள"]
    # Arabic with harakat (fatha/kasra/damma/sukun, Mn Other_Alphabetic)
    assert t.terms("مَرْحَبًا") == ["مَرْحَبًا"]
    # Hebrew with niqqud
    assert t.terms("שָׁלוֹם") == ["שָׁלוֹם"]
    # Devanagari: matras kept, virama splits
    assert t.terms("नमस्ते") == ["नमस", "ते"]
    # plain ASCII unchanged; underscore still splits (not alphanumeric)
    assert t.terms("foo_bar Baz-9") == ["foo", "bar", "baz", "9"]
    # combining acute (Diacritic, NOT Other_Alphabetic) still splits,
    # exactly like Rust: 'e' + U+0301 is two chars, U+0301 not a word char
    assert t.terms("éx") == ["e", "x"]


def test_word_char_class_is_positive_and_pinned():
    """unicode_alnum.WORD_CHAR_CLASS contains no \\w / negation — the
    tokenizer charset is pinned data, identical across CPython versions."""
    from tantiny_spark.analysis.unicode_alnum import WORD_CHAR_CLASS

    assert "\\w" not in WORD_CHAR_CLASS and "^" not in WORD_CHAR_CLASS
    import re

    pat = re.compile(f"[{WORD_CHAR_CLASS}]")
    for ch, ok in [
        ("a", True), ("9", True), ("_", False), (" ", False),
        ("ா", True),   # Tamil matra aa (Mc, Other_Alphabetic)
        ("்", False),  # Tamil virama (Mn, not Alphabetic)
        ("َ", True),   # Arabic fatha (Mn, Other_Alphabetic)
        ("́", False),  # combining acute (Mn, not Alphabetic)
        ("Ⓐ", True),   # circled A (So, Other_Alphabetic)
    ]:
        assert bool(pat.match(ch)) == ok, hex(ord(ch))


def test_lowercase_is_charwise_like_rust():
    """Tantivy's LowerCaser lowercases per char (char::to_lowercase), so
    the Unicode Final_Sigma rule does NOT apply: word-final Greek Σ becomes
    σ, not ς. Python's str.lower() is context-sensitive — the tokenizer
    must use the char-wise conversion to emit the reference's terms."""
    t = Tokenizer.new("simple")
    assert t.terms("ΚΟΣΜΟΣ") == ["κοσμοσ"]  # NOT κοσμος
    assert t.terms("κοσμος") == ["κοσμος"]  # pre-lowered ς passes through
    # 1:M expansions match (İ → i + combining dot above)
    assert t.terms("İzmir x") == ["i̇zmir", "x"]


def test_split_words_matches_class_regex_property():
    """_split_words (ASCII regex fast path + numpy range-membership path)
    must produce exactly _TOKEN_RE.findall's tokens on adversarial
    ASCII/Unicode mixes incl. combining marks (Indic matras, niqqud,
    harakat) — the generated-class semantics are the contract."""
    import random
    from tantiny_spark.analysis import tokenizers as T

    random.seed(7)
    pools = [
        "abc XYZ 012 _-. \t\n",
        "héllo wörld ñoño ÇA",
        "русский текст слова",
        "தமிழ் சொற்கள் வார்த்தை",
        "עִבְרִית נִקּוּד",
        "العَرَبِيَّة حَرَكَات",
        "ΚΟΣΜΟΣ ελληνικά",
        "日本語テキスト 中文字符",
        "mix3d ascii and ユニコード tοgether!",
        "²¼ superscripts ① circled",
    ]
    for _ in range(2000):
        n = random.randint(0, 60)
        s = "".join(random.choice(random.choice(pools)) for _ in range(n))
        assert T._split_words(s) == T._TOKEN_RE.findall(s), repr(s)
