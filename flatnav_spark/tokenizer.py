"""Code-aware tokenizer, the analog of flatnav's data transform step
(``DistanceInterface::transformData``, include/flatnav/distances/
DistanceInterface.h:40-44): the deterministic function that maps raw input
into the representation the index stores.

Two modes:

- ``simple``: ``[a-z0-9]+`` runs of ``lower(content)``. Exactly expressible
  in Spark SQL (``regexp_extract_all``) AND DuckDB — used for the
  oracle-checked driver-contract queries.
- ``code`` (default): splits identifiers on non-alphanumerics, then on
  ``snake_case`` and ``camelCase`` boundaries; emits lowercased subtokens
  plus the whole lowercased identifier when it had internal structure, so
  ``parseHTTPResponse`` is findable as ``parse``, ``http``, ``response``
  and ``parsehttpresponse``.

The tokenizer is a pure function (unit-testable without Spark) wrapped in
an Arrow-vectorized pandas UDF — never a per-row Python UDF.
"""

from __future__ import annotations

import re
from typing import List

import pandas as pd

SIMPLE_RE = re.compile(r"[a-z0-9]+")
RAW_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")
# camelCase / acronym / digit-run subtoken splitter:
#   "parseHTTPResponse2" -> parse, HTTP, Response2 ; "snake_case" -> snake, case
CAMEL_RE = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+")

# ASCII fast path (r6): translating separators to space and splitting is
# C-level and ~17% faster than re.findall on the build corpus; for ASCII
# input it yields exactly the regex's token runs ([A-Za-z0-9_]+ resp.
# [a-z0-9]+ — every other ASCII char is a separator). Non-ASCII content
# falls back to the regex, so semantics are unchanged everywhere.
_RAW_SEP_TBL = str.maketrans({
    chr(i): " " for i in range(128)
    if not (chr(i).isalnum() and chr(i).isascii()) and chr(i) != "_"
})
_SIMPLE_SEP_TBL = str.maketrans({
    chr(i): " " for i in range(128)
    if chr(i) not in "abcdefghijklmnopqrstuvwxyz0123456789"
})


def _raw_tokens(content: str):
    """Runs of [A-Za-z0-9_]+, via the C-level fast path when ASCII."""
    if content.isascii():
        return content.translate(_RAW_SEP_TBL).split()
    return RAW_TOKEN_RE.findall(content)


def _simple_tokens(lowered: str):
    """Runs of [a-z0-9]+ over an already-lowercased string."""
    if lowered.isascii():
        return lowered.translate(_SIMPLE_SEP_TBL).split()
    return SIMPLE_RE.findall(lowered)

TOKENIZER_MODES = ("simple", "code")


def tokenize_simple(content: str) -> List[str]:
    """Lowercase alphanumeric runs. SQL-parity mode."""
    if not content:
        return []
    return _simple_tokens(content.lower())


# raw-token -> emitted-tokens memo. Zipf vocabularies make the hit rate
# ~100%; capped so a pathological corpus can't grow worker memory unbounded.
_CODE_CACHE: dict = {}
_CODE_CACHE_MAX = 1_000_000


def _split_raw(raw: str) -> List[str]:
    parts = CAMEL_RE.findall(raw)
    if len(parts) > 1:
        out = [p.lower() for p in parts]
        out.append(raw.replace("_", "").lower())
        return out
    return [parts[0].lower() if parts else raw.lower()]


def tokenize_code(content: str) -> List[str]:
    """Identifier-aware tokens: subtokens from camelCase/snake_case splits,
    plus the whole identifier (lowercased) when it split into >1 part."""
    if not content:
        return []
    cache = _CODE_CACHE
    out: List[str] = []
    for raw in _raw_tokens(content):
        toks = cache.get(raw)
        if toks is None:
            # fast path: already a single all-lowercase/digit token
            if raw.islower() or raw.isdigit():
                if "_" not in raw:
                    toks = [raw]
                else:
                    toks = _split_raw(raw)
            else:
                toks = _split_raw(raw)
            if len(cache) < _CODE_CACHE_MAX:
                cache[raw] = toks
        out.extend(toks)
    return out


def tokenize_simple_positions(content: str) -> List[tuple]:
    """(term, pos) pairs, pos = 0-based index in the token STREAM —
    the positional-postings source for ``simple`` mode. Exactly mirrors
    the SQL formulation posexplode(regexp_extract_all(lower(text)))."""
    if not content:
        return []
    return [(t, i) for i, t in enumerate(_simple_tokens(content.lower()))]


def tokenize_code_positions(content: str) -> List[tuple]:
    """(term, pos) pairs for ``code`` mode, pos = 0-based index of the RAW
    identifier: every subtoken a raw token expands to SHARES its raw
    position. Phrase adjacency is therefore defined over raw tokens: the
    two-word phrase "parse http" does NOT match inside the single
    identifier parseHTTPResponse (its subtokens share one position; the
    phrase requires consecutive positions), while "parseHTTP response"
    emits (parse,0),(http,0),(parsehttp,0),(response,1) and matches any
    doc whose raw stream contains that identifier sequence."""
    if not content:
        return []
    cache = _CODE_CACHE
    out: List[tuple] = []
    for i, raw in enumerate(_raw_tokens(content)):
        toks = cache.get(raw)
        if toks is None:
            if raw.islower() or raw.isdigit():
                toks = [raw] if "_" not in raw else _split_raw(raw)
            else:
                toks = _split_raw(raw)
            if len(cache) < _CODE_CACHE_MAX:
                cache[raw] = toks
        out.extend((t, i) for t in toks)
    return out


def tfmap_simple(content: str) -> dict:
    """term -> tf map, ``simple`` mode."""
    from collections import Counter

    if not content:
        return {}
    return dict(Counter(_simple_tokens(content.lower())))


def tfmap_code(content: str) -> dict:
    """term -> tf map, ``code`` mode — the build-path hot loop.

    Implementation note (r6): a distinct-raw-first variant (count raw
    tokens C-level, expand each distinct raw once, accumulate counts in a
    Python dict) was prototyped and measured ~20% SLOWER than this
    expand-then-Counter form on the zipf corpus (3.1 vs 2.6 s / 20k docs,
    3 interleaved repeats): per-item Python dict get/set costs more than
    list.extend + one C-level Counter pass, even at ~1.7x fewer items.
    Pinned equivalent to Counter(tokenize_code) by tests/test_tokenizer."""
    from collections import Counter

    return dict(Counter(tokenize_code(content))) if content else {}


_TOKENIZERS = {"simple": tokenize_simple, "code": tokenize_code}
_TFMAP_FNS = {"simple": tfmap_simple, "code": tfmap_code}
_POS_TOKENIZERS = {"simple": tokenize_simple_positions,
                   "code": tokenize_code_positions}


def get_pos_tokenizer(mode: str):
    try:
        return _POS_TOKENIZERS[mode]
    except KeyError:  # pragma: no cover
        raise ValueError(f"unknown tokenizer mode {mode!r}; expected one of {TOKENIZER_MODES}")


def get_tokenizer(mode: str):
    try:
        return _TOKENIZERS[mode]
    except KeyError:  # pragma: no cover
        raise ValueError(f"unknown tokenizer mode {mode!r}; expected one of {TOKENIZER_MODES}")


def tokenize_series(contents: pd.Series, mode: str = "code") -> pd.Series:
    """Vectorized (per-Arrow-batch) tokenization of a pandas Series of str."""
    fn = get_tokenizer(mode)
    return contents.map(lambda c: fn(c) if isinstance(c, str) else [])


def make_tfmap_udf(mode: str = "code"):
    """Arrow-vectorized pandas UDF: content:string -> map<string,int> of
    term -> term frequency. Emitting pre-counted maps instead of raw token
    arrays cuts the Arrow transfer ~3x (unique terms vs all tokens) and
    removes the downstream groupBy shuffle entirely — the per-doc count is
    the B2 ``add`` analog (Index.h:353-378) done inside the Arrow batch.
    Counting is ``_TFMAP_FNS[mode]`` (expand, then one Counter pass)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        fn = _TFMAP_FNS[mode]
    except KeyError:  # pragma: no cover
        raise ValueError(
            f"unknown tokenizer mode {mode!r}; expected one of {TOKENIZER_MODES}")

    @F.pandas_udf(T.MapType(T.StringType(), T.IntegerType()))
    def tfmap_udf(contents: pd.Series) -> pd.Series:
        return contents.map(lambda c: fn(c) if isinstance(c, str) else {})

    return tfmap_udf
