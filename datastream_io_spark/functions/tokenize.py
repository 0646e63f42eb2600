"""T1 — tokenizers (SURVEY.md §2.3).

Two analysis chains, each a *pure function of the content string*
(rank-identity requires an identical chain end to end, SURVEY.md §2.5
Q1), written twice on purpose:

  1. :func:`tokenize_arrow`, the columnar build kernel: a whole Arrow
     column of contents → one integer term code per token. Every index
     build runs it — the in-process build (``driver_build``), the Spark
     segment job (``postings.term_stats_fused``, ``mapInArrow``) and
     streaming ingest — and :func:`tokenize_series` is a view over it
     for the pandas UDFs.
  2. :func:`tokenize_code` / :func:`tokenize_simple`, per string: the
     query parser and the brute-force golden scorer (tests), and the
     independent oracle the kernel is property-tested against.

``simple``: lowercase, split on ``[^a-z0-9_]+`` — equals whitespace split
on the ``documents`` fixture (31-word lowercase vocabulary, FIXTURES.md §1)
and is DuckDB-oracle-expressible as
``list_filter(regexp_split_to_array(lower(text),'[^a-z0-9_]+'), t -> t<>'')``.
Lowercasing is Python's ``str.lower`` in both chains (full Unicode case
mapping: ``'İ'.lower()`` is ``'i̇'``, where Arrow's ``utf8_lower`` gives
``'i'``).

``code``: source-code aware — extract identifiers ``[A-Za-z0-9_]+``, emit
the lowercased identifier, and when it decomposes (snake_case / camelCase /
digit boundaries) also emit the lowercased sub-tokens. So ``parseConfig``
→ ``['parseconfig', 'parse', 'config']``: both the query ``parseConfig``
and the query ``parse config`` match. Golden-tested (no SQL oracle).
"""

from __future__ import annotations

import re
from functools import lru_cache
from itertools import chain
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from datastream_io_spark.operators.codec import ranges

_SIMPLE_RE = re.compile(r"[a-z0-9_]+")
_IDENT_RE = re.compile(r"[A-Za-z0-9_]+")
# camelCase / ALLCAPS / digit-run boundaries inside one identifier segment
_CAMEL_RE = re.compile(r"[A-Z]+(?=[A-Z][a-z0-9])|[A-Z]?[a-z]+|[A-Z]+|[0-9]+")


def tokenize_simple(text: str) -> list[str]:
    """Pure simple tokenizer; identical semantics to the DuckDB oracle."""
    return _SIMPLE_RE.findall(text.lower())


def _split_ident(ident: str) -> list[str]:
    parts: list[str] = []
    for seg in ident.split("_"):
        if seg:
            parts.extend(m.lower() for m in _CAMEL_RE.findall(seg))
    return parts


@lru_cache(maxsize=1 << 20)
def _expand_ident(ident: str) -> tuple[str, ...]:
    """ident → (lowered whole, *sub-tokens if it decomposes). Memoized:
    identifier frequency is Zipfian, so within an Arrow batch (and
    across batches in a long-lived Python worker) almost every lookup
    is a cache hit — this is the hot inner loop of the build."""
    low = ident.lower()
    parts = _split_ident(ident)
    if len(parts) > 1:
        return (low, *parts)
    return (low,)


def tokenize_code(text: str) -> list[str]:
    """Pure code tokenizer: whole identifier + sub-tokens when it splits."""
    out: list[str] = []
    for ident in _IDENT_RE.findall(text):
        out.extend(_expand_ident(ident))
    return out


def tokenize_simple_col(col: Column) -> Column:
    """JVM-only variant of ``simple`` (zero-UDF fast path, whole-stage
    codegen): split + filter empties. Semantically identical to
    :func:`tokenize_simple`."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9_]+"), lambda t: t != "")


class Tokens(NamedTuple):
    """Token stream of a column of contents. Doc ``i`` owns
    ``codes[bounds[i]:bounds[i + 1]]`` (in token order); ``vocab[c]`` is
    the term of code ``c``, codes numbered in order of first appearance
    in the stream."""
    codes: np.ndarray   # int64, one per token
    bounds: np.ndarray  # int64, n_docs + 1
    vocab: pa.Array     # string


def _is_word_byte(d: np.ndarray, mode: str) -> np.ndarray:
    """``[A-Za-z0-9_]`` (code) / ``[a-z0-9_]`` (simple) per UTF-8 byte.
    Every byte of a non-ASCII character is ≥ 0x80, so a byte test is the
    character test of the ``_IDENT_RE`` / ``_SIMPLE_RE`` patterns."""
    letter = (d | np.uint8(0x20)) if mode == "code" else d
    return ((letter - np.uint8(97) < 26) | (d - np.uint8(48) < 10)
            | (d == 95))


def _words(content: pa.Array, mode: str) -> tuple[pa.Array, np.ndarray]:
    """Every word (maximal run of word bytes inside one value) of a
    string column, in order, and each value's word range
    ``[bounds[i], bounds[i + 1])``: ``re.findall`` of the whole column
    as one numpy scan over its data buffer. The words are the word bytes
    compacted, with offsets at the run ends."""
    if content.null_count:
        content = content.fill_null("")
    content = content.cast(pa.string())
    _, obuf, dbuf = content.buffers()
    off = np.frombuffer(obuf, np.int32)[
        content.offset:content.offset + len(content) + 1].astype(np.int64)
    d = (np.frombuffer(dbuf, np.uint8)[off[0]:off[-1]] if dbuf is not None
         else np.zeros(0, np.uint8))
    off -= off[0]
    w = _is_word_byte(d, mode)
    cut = np.zeros(d.size + 1, bool)  # a word never crosses a value edge
    cut[off] = True
    pad = np.concatenate(([False], w, [False]))
    starts = np.flatnonzero(w & (~pad[:-2] | cut[:-1]))
    ends = np.flatnonzero(w & (~pad[2:] | cut[1:])) + 1
    offsets = np.concatenate(([0], np.cumsum(ends - starts)))
    words = pa.StringArray.from_buffers(
        starts.size, pa.py_buffer(offsets.astype(np.int32)),
        pa.py_buffer(d[w]))
    return words, np.searchsorted(starts, off)


def tokenize_arrow(content, mode: str) -> Tokens:
    """The columnar analysis kernel: ``tokenize_code`` /
    ``tokenize_simple`` of every value of a string column at once (nulls
    have no tokens). The words come from one numpy scan of the column's
    bytes (:func:`_words`) and are dictionary-encoded, so
    ``_expand_ident`` runs once per *distinct* identifier; each word's
    term codes are then gathered from the dictionary's expansions in
    one numpy CSR step."""
    if mode not in ("code", "simple"):
        raise ValueError(f"unknown tokenizer mode: {mode}")
    if isinstance(content, pa.ChunkedArray):
        content = content.combine_chunks()
    if mode == "simple":
        content = pa.array([None if v is None else v.lower()
                            for v in content.to_pylist()], pa.string())
    words, word_bounds = _words(content, mode)
    enc = pc.dictionary_encode(words)
    idx = enc.indices.to_numpy().astype(np.int64)
    if mode == "simple":
        return Tokens(idx, word_bounds, enc.dictionary)
    expansions = list(map(_expand_ident, enc.dictionary.to_pylist()))
    n_terms = np.fromiter(map(len, expansions), np.int64, len(expansions))
    terms = pc.dictionary_encode(pa.array(
        list(chain.from_iterable(expansions)), pa.string()))
    cnt = n_terms[idx]
    src = ranges((np.cumsum(n_terms) - n_terms)[idx], cnt)
    return Tokens(terms.indices.to_numpy().astype(np.int64)[src],
                  np.concatenate(([0], np.cumsum(cnt)))[word_bounds],
                  terms.dictionary)


def tokenize_series(s: pd.Series, mode: str) -> pd.Series:
    """:func:`tokenize_arrow` as a Series of token lists (nulls → []),
    for the pandas UDFs below."""
    tok = tokenize_arrow(pa.array(s, pa.string(), from_pandas=True), mode)
    flat = np.asarray(tok.vocab.to_pylist(), object)[tok.codes].tolist()
    b = tok.bounds.tolist()
    return pd.Series([flat[b[i]:b[i + 1]] for i in range(len(s))],
                     index=s.index, dtype=object)


@F.pandas_udf(ArrayType(StringType()))
def tokenize_simple_udf(s: pd.Series) -> pd.Series:
    return tokenize_series(s, "simple")


@F.pandas_udf(ArrayType(StringType()))
def tokenize_code_udf(s: pd.Series) -> pd.Series:
    return tokenize_series(s, "code")


def tokenizer_for(mode: str):
    """(pure_fn, udf) pair for a tokenizer mode."""
    if mode == "simple":
        return tokenize_simple, tokenize_simple_udf
    if mode == "code":
        return tokenize_code, tokenize_code_udf
    raise ValueError(f"unknown tokenizer mode: {mode}")
