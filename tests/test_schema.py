"""Schema tests — ports of spec/tantiny/schema_spec.rb:8-43."""

import pytest

from tantiny_spark.analysis.tokenizers import Tokenizer
from tantiny_spark.errors import UnknownField
from tantiny_spark.schema import IndexSchema


def test_field_registration_per_type():
    s = IndexSchema()
    s.id("imdb_id")
    s.facet("category")
    s.string("title")
    s.text("description")
    s.integer("duration")
    s.double("rating")
    s.date("release_date")
    assert s.id_field == "imdb_id"
    assert s.fields == {
        "imdb_id": "id",
        "description": "text",
        "title": "string",
        "duration": "integer",
        "rating": "double",
        "release_date": "date",
        "category": "facet",
    }


def test_default_id():
    # schema.rb:17 — id defaults to :id
    assert IndexSchema().id_field == "id"


def test_per_field_tokenizer_fallback():
    # schema_spec.rb:35-43 — field tokenizer falls back to index default
    default = Tokenizer.new("stemmer", language="ru")
    s = IndexSchema(default_tokenizer=default)
    en = Tokenizer.new("stemmer", language="en")
    s.text("a", tokenizer=en)
    s.text("b")
    assert s.tokenizer_for("a") is en
    assert s.tokenizer_for("b") is default


def test_unknown_field_raises():
    s = IndexSchema()
    s.text("t")
    with pytest.raises(UnknownField):
        s.kind_of("nope")


def test_coercion():
    # index.rb:71-76
    s = IndexSchema()
    s.text("t")
    s.integer("i")
    s.double("d")
    assert s.coerce("t", 42) == "42"
    assert s.coerce("i", "42") == 42
    assert s.coerce("d", "4.5") == 4.5
    assert s.coerce("id", 7) == "7"
    assert s.coerce("t", None) is None


def test_iso8601_date_coercion():
    # helpers_spec.rb:5-8 — dates ingest as ISO-8601 strings
    from datetime import datetime

    s = IndexSchema()
    s.date("d")
    assert s.coerce("d", "1998-12-01T00:00:00+00:00") == datetime(
        1998, 12, 1, tzinfo=__import__("datetime").timezone.utc
    )
    assert s.coerce("d", "2022-01-05T10:30:00Z").hour == 10
    assert s.coerce("d", datetime(2000, 1, 1)) == datetime(2000, 1, 1)


def test_roundtrip_json():
    s = IndexSchema(default_tokenizer=Tokenizer.new("stemmer", language="en"))
    s.id("k")
    s.text("a", tokenizer=Tokenizer.new("ngram", min=2, max=4, prefix_only=True))
    s.string("b")
    s.facet("c")
    back = IndexSchema.from_json(s.to_json())
    assert back.id_field == "k"
    assert back.fields == s.fields
    assert back.tokenizer_for("a") == Tokenizer("ngram", min_gram=2, max_gram=4, prefix_only=True)
    assert back.default_tokenizer.language == "en"
