"""JSON-object field support: path expansion + typed term encoding.

Tantivy-family feature (tantivy src/schema/json_object_options.rs and the
``json_path_writer`` in src/postings/json_postings_writer.rs): a ``json``
field indexes an arbitrary nested JSON object by expanding every leaf into
terms of the form ``path <SEP> <type-marker> <value>`` under the ONE json
field name. Text leaves are tokenized with the field's tokenizer (positions
recorded, so phrases work within a leaf); integers / doubles / booleans
become single typed terms. Queries compile onto the EXISTING plan algebra —
a json term query is a plain :class:`~tantiny_spark.plan.Term` on the
encoded term, a json phrase a plain Phrase, path-exists a Prefix — so the
executor, the sorted (field, term, doc_id) postings layout and the
Parquet min/max pruning all apply unchanged.

Like Tantivy, the fieldnorm of a json field is per (doc, field) — ONE value
covering every text token indexed under the field for that document — so
every posting row of the field for a doc carries the same ``norm_id``
(quantized total text-token count) and BM25 over json text behaves exactly
like BM25 over a text field whose document length is the json value's total
token count.

Encoding notes:

- ``JSON_SEP`` is ``\\x01`` (a valid single-byte UTF-8 control char): it
  survives Parquet/Arrow strings AND DuckDB ``chr(1)`` so contract oracles
  can reconstruct encoded terms.
- Nested object paths join keys with ``.`` (the Tantivy query syntax);
  array elements share their parent path (multi-valued field semantics) and
  text positions CONTINUE across elements of the same path, so a phrase
  cannot falsely match across two separate array elements only if the
  caller leaves a gap — we advance by 1 between elements, matching the
  engine's multi-value position stream.
- Keys containing ``.`` or the separator would make paths ambiguous; the
  walk fails loud instead of silently mangling them.
"""

from __future__ import annotations

import json
import re
from typing import Iterator

#: separator between the JSON path and the typed value inside a term
JSON_SEP = "\x01"

#: type markers following the separator
MARK_STR = "s"
MARK_INT = "i"
MARK_FLOAT = "f"
MARK_BOOL = "b"
MARK_DATE = "d"

#: strict RFC3339 datetime — the ONLY string shape date-inferred at ingest
#: (Tantivy's json field tries DateTime::from_rfc3339 on string leaves,
#: reference date parse at src/index.rs:173-174; a bare "2026-01-01" or a
#: word stays text, so inference can never eat ordinary tokens)
_RFC3339_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(?:\.\d{1,9})?"
    r"(?:[Zz]|[+-]\d{2}:\d{2})"
)


def parse_rfc3339_micros(text: str):
    """Epoch microseconds for a strict-RFC3339 string, else None. Naive
    arithmetic in UTC — no platform localtime involved, so build and query
    agree on every executor."""
    import calendar
    from datetime import datetime, timezone

    if not _RFC3339_RE.fullmatch(text):
        return None
    try:
        dt = datetime.fromisoformat(text.upper().replace("Z", "+00:00"))
    except ValueError:
        return None
    dt = dt.astimezone(timezone.utc)
    return calendar.timegm(dt.utctimetuple()) * 1_000_000 + dt.microsecond


def datetime_micros(dt) -> int:
    """Epoch microseconds for a datetime/date query value; naive datetimes
    are UTC (the date fast-field convention, schema.coerce)."""
    import calendar
    from datetime import date, datetime, timezone

    if isinstance(dt, datetime):
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc)
        return calendar.timegm(dt.utctimetuple()) * 1_000_000 + dt.microsecond
    if isinstance(dt, date):
        return calendar.timegm(dt.timetuple()) * 1_000_000
    raise TypeError(f"expected datetime/date, got {type(dt).__name__}")


def encode_json_term(path: str, marker: str, value: str) -> str:
    """The dictionary term for a (path, typed value) pair."""
    return f"{path}{JSON_SEP}{marker}{value}"


def encode_typed(value) -> tuple:
    """(marker, canonical text) for a non-string scalar leaf. The SAME
    canonicalization runs at build and query time, so queries match by
    construction. bool is checked before int (bool subclasses int);
    datetime/date query values canonicalize to the epoch-microsecond date
    term the ingest-side RFC3339 inference produces."""
    import datetime as _dt

    if isinstance(value, bool):
        return MARK_BOOL, "true" if value else "false"
    if isinstance(value, (_dt.datetime, _dt.date)):
        return MARK_DATE, str(datetime_micros(value))
    if isinstance(value, int):
        return MARK_INT, str(value)
    if isinstance(value, float):
        if value != value or value in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite number {value!r} in json field")
        if value.is_integer():
            # JSON does not distinguish 2.0 from 2 reliably across writers;
            # integral floats canonicalize to the integer term (Tantivy's
            # coercion when the value fits i64)
            return MARK_INT, str(int(value))
        return MARK_FLOAT, repr(value)
    raise TypeError(f"unsupported json leaf type {type(value).__name__}")


def _check_key(key) -> str:
    if not isinstance(key, str):
        raise ValueError(f"json object key must be a string, got {key!r}")
    if "." in key or JSON_SEP in key:
        raise ValueError(
            f"json object key {key!r} contains '.' or the path separator — "
            "ambiguous with the path syntax; rename the key before indexing"
        )
    return key


def walk_json(obj) -> Iterator[tuple]:
    """Yield ``(path, leaf)`` for every non-null leaf of a parsed JSON
    object, depth-first in document order. ``path`` is the dot-joined key
    chain; array elements repeat the parent path (multi-valued). Raises on
    non-object roots and unsafe keys — loud, not mangled."""
    if not isinstance(obj, dict):
        raise ValueError(
            f"json field value must be a JSON object at the root, got "
            f"{type(obj).__name__}"
        )
    stack = [("", obj)]
    while stack:
        prefix, node = stack.pop()
        if isinstance(node, dict):
            # reversed: stack pop order == document order
            for key in reversed(list(node.keys())):
                child = node[key]
                k = _check_key(key)
                path = f"{prefix}.{k}" if prefix else k
                stack.append((path, child))
        elif isinstance(node, list):
            for el in reversed(node):
                stack.append((prefix, el))
        elif node is None:
            continue
        else:
            yield prefix, node


def json_postings(raw: str, tokenizer) -> tuple:
    """Analyze one json field value: parse ``raw``, walk leaves, tokenize
    text leaves with ``tokenizer`` and return
    ``(acc, n_text_tokens)`` where ``acc`` maps encoded term →
    positions list. Positions are per-path streams that CONTINUE across
    repeated values of the same path (gap 1 between values). Raises
    ``ValueError`` on malformed JSON (fail loud at ingest, like Tantivy)."""
    try:
        obj = json.loads(raw)
    except json.JSONDecodeError as e:
        raise ValueError(f"json field: malformed JSON value: {e}") from e
    acc: dict = {}
    next_pos: dict = {}
    n_tokens = 0
    for path, leaf in walk_json(obj):
        if isinstance(leaf, str):
            micros = parse_rfc3339_micros(leaf)
            if micros is not None:
                # strict-RFC3339 string leaf → ONE typed date term (epoch
                # micros), like Tantivy's json date inference; not a text
                # token, so it never counts toward the json fieldnorm
                term = encode_json_term(path, MARK_DATE, str(micros))
                if term not in acc:
                    acc[term] = [next_pos.get(path, 0)]
                continue
            tokens = tokenizer.terms(leaf)
            base = next_pos.get(path, 0)
            for i, tok in enumerate(tokens):
                term = encode_json_term(path, MARK_STR, tok)
                acc.setdefault(term, []).append(base + i)
            next_pos[path] = base + len(tokens) + 1
            n_tokens += len(tokens)
        else:
            marker, text = encode_typed(leaf)
            term = encode_json_term(path, marker, text)
            if term not in acc:
                acc[term] = [next_pos.get(path, 0)]
    return acc, n_tokens
