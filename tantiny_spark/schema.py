"""Typed document schema, mirroring the reference's schema DSL.

Reference: /root/reference/lib/tantiny/schema.rb (field kinds at :5-13, DSL
methods at :35-51) and its Tantivy mapping in /root/reference/src/index.rs:59-99.

Seven field kinds: id, text (tokenized, freqs+positions), string (single exact
term), integer (i64 fast field), double (f64 fast field), date (fast field),
facet (hierarchical path). The id field is the only stored field; its schema
key is renamed to the literal "id" internally (index.rs:148).

Spark mapping: the schema drives both the ``docs`` table layout (fast-field
columns + one fieldnorm byte column per text field) and the tokenizer choice
for the posting build.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from datetime import date, datetime

from pyspark.sql import types as T

from tantiny_spark.analysis.tokenizers import Tokenizer
from tantiny_spark.errors import UnknownField

FIELD_KINDS = ("id", "text", "string", "integer", "double", "date", "facet", "json")

#: Spark column type of each field kind (pending-document rows)
SPARK_TYPES = {
    "id": T.StringType(),
    "text": T.StringType(),
    "string": T.StringType(),
    "integer": T.LongType(),
    "double": T.DoubleType(),
    "date": T.TimestampType(),
    "facet": T.StringType(),
    "json": T.StringType(),
}


@dataclass
class IndexSchema:
    """Field registry. Built via the same verbs as the Ruby DSL
    (schema.rb:35-51): ``id``, ``text``, ``string``, ``integer``, ``double``,
    ``date``, ``facet``.

    ``id_field`` holds the *source* attribute name (default "id",
    schema.rb:17); internally documents are keyed by the literal column "id"
    exactly like index.rs:148.
    """

    default_tokenizer: Tokenizer = dc_field(default_factory=Tokenizer.default)
    id_field: str = "id"
    text_fields: list = dc_field(default_factory=list)
    string_fields: list = dc_field(default_factory=list)
    integer_fields: list = dc_field(default_factory=list)
    double_fields: list = dc_field(default_factory=list)
    date_fields: list = dc_field(default_factory=list)
    facet_fields: list = dc_field(default_factory=list)
    json_fields: list = dc_field(default_factory=list)
    field_tokenizers: dict = dc_field(default_factory=dict)

    # --- DSL verbs -------------------------------------------------------
    def id(self, name: str) -> "IndexSchema":
        self.id_field = name
        return self

    def text(self, name: str, tokenizer: Tokenizer | None = None) -> "IndexSchema":
        self.text_fields.append(name)
        if tokenizer is not None:
            # validate at schema-definition time: a wrong type here would
            # otherwise only surface deep inside an executor-side UDF
            if not isinstance(tokenizer, Tokenizer):
                raise TypeError(
                    f"text field '{name}': tokenizer must be a Tokenizer "
                    f"(e.g. Tokenizer.new('stemmer', language='de')), got "
                    f"{type(tokenizer).__name__}"
                )
            self.field_tokenizers[name] = tokenizer
        return self

    def string(self, name: str) -> "IndexSchema":
        self.string_fields.append(name)
        return self

    def integer(self, name: str) -> "IndexSchema":
        self.integer_fields.append(name)
        return self

    def double(self, name: str) -> "IndexSchema":
        self.double_fields.append(name)
        return self

    def date(self, name: str) -> "IndexSchema":
        self.date_fields.append(name)
        return self

    def facet(self, name: str) -> "IndexSchema":
        self.facet_fields.append(name)
        return self

    def json(self, name: str, tokenizer: Tokenizer | None = None) -> "IndexSchema":
        """JSON-object field (the Tantivy ``add_json_field`` family): the
        column holds a JSON object (as a JSON string, or any Spark complex
        type — ``to_json`` is applied at ingest); every non-null leaf is
        path-expanded into typed terms under this one field name (see
        :mod:`tantiny_spark.analysis.jsonpath`). Text leaves tokenize with
        ``tokenizer`` (default: the index default)."""
        self.json_fields.append(name)
        if tokenizer is not None:
            if not isinstance(tokenizer, Tokenizer):
                raise TypeError(
                    f"json field '{name}': tokenizer must be a Tokenizer, "
                    f"got {type(tokenizer).__name__}"
                )
            self.field_tokenizers[name] = tokenizer
        return self

    # --- introspection ---------------------------------------------------
    @property
    def fields(self) -> dict:
        out = {self.id_field: "id"}
        for kind in ("text", "string", "integer", "double", "date", "facet", "json"):
            for name in getattr(self, f"{kind}_fields"):
                out[name] = kind
        return out

    def kind_of(self, name: str) -> str:
        kind = self.fields.get(name)
        if kind is None:
            raise UnknownField(name)
        return kind

    def tokenizer_for(self, field: str) -> Tokenizer:
        """Per-field tokenizer with index-default fallback (schema.rb:29-31)."""
        return self.field_tokenizers.get(field, self.default_tokenizer)

    # --- value coercion (index.rb:71-76) ----------------------------------
    def coerce(self, field: str, value):
        """Type coercion applied before indexing, mirroring
        lib/tantiny/index.rb:71-76 (text/string/facet→str, integer→int,
        double→float, date→ISO-8601 / datetime)."""
        if value is None:
            return None
        kind = self.kind_of(field)
        if kind == "json":
            # dict → canonical JSON string; strings pass through and are
            # validated (fail loud) inside the analyzer at build time
            if isinstance(value, dict):
                return json.dumps(value, ensure_ascii=False)
            return str(value)
        if kind in ("id", "text", "string", "facet"):
            return str(value)
        if kind == "integer":
            return int(value)
        if kind == "double":
            return float(value)
        if kind == "date":
            if isinstance(value, datetime):
                return value
            if isinstance(value, date):
                return datetime(value.year, value.month, value.day)
            return datetime.fromisoformat(str(value).replace("Z", "+00:00"))
        raise UnknownField(field)

    # --- (de)serialization so the schema persists with the index ----------
    def to_json(self) -> str:
        def tok(t: Tokenizer) -> dict:
            return {
                "kind": t.kind,
                "language": t.language,
                "min_gram": t.min_gram,
                "max_gram": t.max_gram,
                "prefix_only": t.prefix_only,
                "stop_words": list(t.stop_words),
                "ascii_folding": t.ascii_folding,
                "synonyms": [list(p) for p in t.synonyms],
            }

        return json.dumps(
            {
                "id_field": self.id_field,
                "text_fields": self.text_fields,
                "string_fields": self.string_fields,
                "integer_fields": self.integer_fields,
                "double_fields": self.double_fields,
                "date_fields": self.date_fields,
                "facet_fields": self.facet_fields,
                "json_fields": self.json_fields,
                "default_tokenizer": tok(self.default_tokenizer),
                "field_tokenizers": {
                    k: tok(v) for k, v in self.field_tokenizers.items()
                },
            }
        )

    @staticmethod
    def from_json(blob: str) -> "IndexSchema":
        d = json.loads(blob)

        def tok(td: dict) -> Tokenizer:
            return Tokenizer(
                kind=td["kind"],
                language=td["language"],
                min_gram=td["min_gram"],
                max_gram=td["max_gram"],
                prefix_only=td["prefix_only"],
                # .get: schemas persisted before token filters existed
                stop_words=tuple(td.get("stop_words", ())),
                ascii_folding=bool(td.get("ascii_folding", False)),
                synonyms=tuple(
                    (v, c) for v, c in td.get("synonyms", ())
                ),
            )

        return IndexSchema(
            default_tokenizer=tok(d["default_tokenizer"]),
            id_field=d["id_field"],
            text_fields=list(d["text_fields"]),
            string_fields=list(d["string_fields"]),
            integer_fields=list(d["integer_fields"]),
            double_fields=list(d["double_fields"]),
            date_fields=list(d["date_fields"]),
            facet_fields=list(d["facet_fields"]),
            # .get: schemas persisted before json fields existed stay loadable
            json_fields=list(d.get("json_fields", [])),
            field_tokenizers={k: tok(v) for k, v in d["field_tokenizers"].items()},
        )
