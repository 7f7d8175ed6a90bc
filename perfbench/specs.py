"""Schemas the benchmark validates with, one per workload family."""

from __future__ import annotations

SOURCES = ["web", "books", "code", "wiki", "forums"]

ROW_LOCAL = {
    "$id": "https://example.org/specs/token-sequences",
    "type": "object",
    "required": ["doc_id", "tokens", "n_tok", "source"],
    "properties": {
        "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
        "tokens": {"type": "array", "minItems": 1, "maxItems": 2048,
                   "items": {"type": "integer", "minimum": 0, "maximum": 50256}},
        "n_tok": {"type": "integer", "minimum": 1, "maximum": 2048},
        "source": {"enum": SOURCES},
    },
}

# Row-local keywords plus every set-check operator the pipeline runs.
FLAGSHIP = {
    **ROW_LOCAL,
    "x-unique": ["doc_id"],
    "x-ref": {"source": "source_dict.source"},
    "x-drift": {"n_tok": {"per": "source", "test": "ks", "alpha": 0.01}},
}
DRIFT_ALPHA = 0.01
DRIFT_BINS = 256
DRIFT_HI = 2048.0

# JSON documents: the row-local token spec, so the typed bulk and the
# shapeless remainder are judged by the same rules.
JSON_DOC = ROW_LOCAL
