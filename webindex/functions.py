"""Scalar function library — the reference's F-group (SURVEY.md §2.7) as
JVM-side column expressions (whole-stage codegen; no Python).

Each function cites the reference behavior it reproduces. These are the
utilities the reference applies per-record in plain Python; here they are
vectorized Catalyst expressions usable in any DataFrame pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# F1/F2 — base64 id encoding (reference: src/nmr_FAIR_DOs/utils.py:130-167;
# PIDs are base64(DOI/URL) before registration, chemotion.py:317-319)


def encode_base64(col: Column | str) -> Column:
    """UTF-8 -> base64 string. Spark's base64() inserts RFC-2045 line breaks
    every 76 chars on some codepaths; the reference uses unchunked
    base64.b64encode — strip any whitespace to match."""
    return F.regexp_replace(F.base64(F.encode(F.col(col) if isinstance(col, str) else col, "utf-8")), r"[\r\n]", "")


def decode_base64(col: Column | str) -> Column:
    return F.decode(F.unbase64(col), "utf-8")


# F3 — multi-format timestamp parsing (reference: utils.py:170-211 tries
# 5 formats in order; first hit wins)

_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
]


def parse_datetime(col: Column | str) -> Column:
    """Order-preserving format fallback chain -> timestamp (null if none
    match, where the reference raises — nulls route to the quarantine table
    instead of aborting a 10^12-row job)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(fmt)) for fmt in _FORMATS])


# F4 — deterministic URL/name normalization (reference: utils.py:281-340
# checkTextIsSimilar's rule chain: lowercase, strip spaces/scheme/www,
# extensions, legalcode, licenses->license, trailing slash)


def normalize_url(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"\s+", "")
    c = F.regexp_replace(c, r"^https?://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    c = F.regexp_replace(c, r"legalcode$", "")
    c = F.regexp_replace(c, r"\.(json|html|txt|md|xml|rdf)$", "")
    c = F.regexp_replace(c, r"\blicenses\b", "license")
    c = F.regexp_replace(c, r"/+$", "")
    return c


# F8 — JSON parse/serialize (reference: pid_record_entry.py:69-78 attempts
# json.loads on string values; :115 serializes dict values on export)


def try_parse_json(col: Column | str, schema: str) -> Column:
    return F.from_json(F.col(col) if isinstance(col, str) else col, schema)


def to_json_str(col: Column | str) -> Column:
    return F.to_json(F.col(col) if isinstance(col, str) else col)


# F9 — dotted key flattening (reference: elasticsearch.py:94-113 flattens
# nested entries to 'parent.child' keys). For a map column:


def flatten_map_keys(col: Column | str, parent: str) -> Column:
    """map<k,v> -> map<'parent.k', v> (transform_keys, no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform_keys(c, lambda k, _: F.concat(F.lit(parent + "."), k))

