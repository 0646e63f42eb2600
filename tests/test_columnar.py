"""Spark-free property tests of the columnar build kernels against their
independent scalar oracles: the Arrow token stream vs the per-string
tokenizers, the lane-parallel XXH64 vs the scalar one, the columnar
block encoder vs its single-run dict form, the fused tf kernel vs a
token-by-token count, and the dictionary's idf column vs one
``idf_py`` call per term."""

import random
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from datastream_io_spark.functions.bm25 import idf_py
from datastream_io_spark.functions.tokenize import (
    tokenize_arrow,
    tokenize_code,
    tokenize_series,
    tokenize_simple,
)
from datastream_io_spark.functions.xxhash import (
    xxhash64_bytes,
    xxhash64_many,
)
from datastream_io_spark.operators.codec import (
    BLOCKS_ARROW,
    encode_blocks,
    encode_runs,
)
from datastream_io_spark.operators.driver_build import _dictionary
from datastream_io_spark.operators.postings import term_stats_arrow

ORACLE = {"code": tokenize_code, "simple": tokenize_simple}

# İ lowercases to i + U+0307 in Python (Arrow's utf8_lower gives 'i'),
# K is the Kelvin sign (lowercases to ASCII 'k'), é here is e + U+0301
ADVERSARIAL = [
    None, "", " ", "__", "_", "a", "İ", "İstanbul", "KELVIN", "Kx",
    "straße STRASSE", "café café", "中文 词项 中a文", "x中y",
    "  leading", "trailing  ", "--a--b--", "\n\tparseConfig\r\n",
    "HTTPServer2 v10_2beta 123abc abc123 0x1F", "snake_caseAndCamel",
    "a" * 65, "Ab" * 40 + "_" + "9" * 70, "___x___", "ΣΑΣ σας ς",
    "ﬁle ﬀ", "ǅungla", "ID_Ǆ", "🙂emoji🙂 x", "a\x00b", "€100_000",
]


def _alphabet_docs(seed, n):
    rng = random.Random(seed)
    alpha = "aZ_09 .-\n()İKßé́中ΣﬁxyzXYZ"
    return [None if rng.random() < 0.03 else
            "".join(rng.choices(alpha, k=rng.randint(0, 80)))
            for _ in range(n)]


def _stream(content, mode):
    tok = tokenize_arrow(pa.array(content, pa.string()), mode)
    vocab = tok.vocab.to_pylist()
    assert len(set(vocab)) == len(vocab)
    b = tok.bounds
    return [[vocab[c] for c in tok.codes[b[i]:b[i + 1]]]
            for i in range(len(content))]


@pytest.mark.parametrize("mode", ["code", "simple"])
def test_arrow_token_stream_equals_scalar_tokenizer(mode):
    docs = ADVERSARIAL + _alphabet_docs(1, 2000)
    want = [[] if d is None else ORACLE[mode](d) for d in docs]
    assert _stream(docs, mode) == want
    assert tokenize_series(pd.Series(docs), mode).tolist() == want
    # a sliced column (non-zero Arrow offset) and a chunked one
    col = pa.array(docs, pa.string())
    tok = tokenize_arrow(col.slice(7, 50), mode)
    got = tokenize_arrow(pa.chunked_array([col[7:30], col[30:57]]), mode)
    assert np.array_equal(tok.bounds, got.bounds)
    assert np.array_equal(tok.codes, got.codes)
    assert tok.vocab.equals(got.vocab)


@pytest.mark.parametrize("mode", ["code", "simple"])
def test_codes_follow_first_appearance(mode):
    """Term codes number terms in order of first appearance — the row
    order of every segment the build writes depends on it."""
    docs = _alphabet_docs(2, 300)
    tok = tokenize_arrow(pa.array(docs, pa.string()), mode)
    first = list(dict.fromkeys(
        t for d in docs if d is not None for t in ORACLE[mode](d)))
    assert tok.vocab.to_pylist() == first
    assert tokenize_arrow(pa.array([None, ""], pa.string()),
                          mode).codes.size == 0


def test_xxhash64_many_every_length_class():
    rng = random.Random(7)
    lengths = [0, 1, 3, 4, 7, 8, 31, 32, 33, 64, 65, 100, 257]
    vals = [bytes(rng.getrandbits(8) for _ in range(n))
            for n in lengths for _ in range(8)]
    vals += ["é中" * k for k in range(20)]
    arr = pa.array([v if isinstance(v, bytes) else v.encode()
                    for v in vals], pa.binary())
    seeds = np.array([rng.getrandbits(64) for _ in vals], np.uint64)
    want = [xxhash64_bytes(v, int(s)) for v, s in zip(arr.to_pylist(),
                                                      seeds)]
    assert xxhash64_many(arr, seeds).tolist() == want
    assert xxhash64_many(arr).tolist() == [xxhash64_bytes(v)
                                           for v in arr.to_pylist()]
    # string input hashes its UTF-8 bytes; a slice keeps its offset
    strs = pa.array(["", "a", "é中" * 9, "x" * 40], pa.string())
    assert xxhash64_many(strs.slice(1)).tolist() == [
        xxhash64_bytes(s.encode()) for s in strs.to_pylist()[1:]]
    assert xxhash64_many(pa.array([], pa.string())).size == 0


def test_xxhash64_many_chained_seeds_skip_nulls():
    rng = random.Random(3)

    def value():
        if rng.random() < 0.25:
            return None
        return "".join(rng.choices("ab_é中", k=rng.randint(0, 70)))

    rows = [tuple(value() for _ in range(3)) for _ in range(500)]
    h = np.uint64(42)
    for c in range(3):
        h = xxhash64_many(pa.array([r[c] for r in rows], pa.string()), h)
    for i, r in enumerate(rows):
        want = 42
        for v in r:
            if v is not None:
                want = xxhash64_bytes(v.encode(), want)
        assert int(h[i]) == want, r


def _random_runs(rng, n_runs, positions):
    lens = rng.choice([1, 1, 2, 5, 127, 128, 129, 255, 256, 257, 600],
                      n_runs)
    ids = np.concatenate([np.sort(rng.choice(1 << 40, n, replace=False))
                          for n in lens]).astype(np.int64)
    ends = np.cumsum(lens)
    tfs = rng.integers(1, 9, ids.size)
    dls = rng.integers(1, 1 << 20, ids.size)
    pos = None
    if positions:
        pos = np.concatenate([np.sort(rng.choice(1 << 21, t, replace=False))
                              for t in tfs])
    return ids, tfs, dls, ends - lens, ends, pos


@pytest.mark.parametrize("positions", [False, True])
def test_columnar_encode_equals_dict_form(positions):
    rng = np.random.default_rng(11 + positions)
    for _ in range(12):
        ids, tfs, dls, starts, ends, pos = _random_runs(
            rng, int(rng.integers(1, 30)), positions)
        enc = encode_runs(ids, tfs, dls, starts, ends, positions=pos)
        assert enc.blocks.type == BLOCKS_ARROW
        assert len(enc) == starts.size
        pstart = np.cumsum(tfs) - tfs
        for r, (s, e) in enumerate(zip(starts, ends)):
            run_pos = None
            if positions:
                run_pos = pos[pstart[s]:pstart[e - 1] + tfs[e - 1]]
            want = encode_blocks(ids[s:e], tfs[s:e], dls[s:e],
                                 positions=run_pos)
            assert enc[r] == want
            # build.blocks_bytes_col's definition, recounted
            assert enc.payload_bytes[r] == sum(
                len(b["docs"]) + len(b["tfs"]) + len(b["dls"])
                + len(b["poss"] or b"") for b in want)
            assert [b["n"] for b in want] == (
                [128] * ((e - s - 1) // 128) + [(e - s - 1) % 128 + 1])


def test_encode_empty_runs():
    enc = encode_runs(np.zeros(0, np.int64), np.zeros(0), np.zeros(0),
                      np.zeros(3, np.int64), np.zeros(3, np.int64))
    assert enc.to_pylist() == [[], [], []]
    assert enc.payload_bytes.tolist() == [0, 0, 0]


def test_blocks_arrow_is_the_spark_blocks_type():
    from pyspark.sql.pandas.types import to_arrow_type

    from datastream_io_spark.operators.build import BLOCKS_TYPE

    assert to_arrow_type(BLOCKS_TYPE) == BLOCKS_ARROW


@pytest.mark.parametrize("mode", ["code", "simple"])
def test_term_stats_equals_token_count(mode):
    docs = ADVERSARIAL + _alphabet_docs(5, 400)
    doc_ids = np.arange(len(docs), dtype=np.int64) * 3 + 1000
    stats = term_stats_arrow(doc_ids, pa.array(docs, pa.string()), mode,
                             positions=True)
    streams = [[] if text is None else ORACLE[mode](text) for text in docs]
    rank = {t: i for i, t in enumerate(dict.fromkeys(
        t for toks in streams for t in toks))}
    want = []
    for d, toks in zip(doc_ids, streams):
        at = defaultdict(list)
        for i, t in enumerate(toks):
            at[t].append(i)
        want += [(int(d), t, len(at[t]), len(toks), at[t])
                 for t in sorted(at, key=rank.get)]
    vocab = stats.vocab.to_pylist()
    ends = np.cumsum(stats.tf)
    got = [(int(d), vocab[c], int(f), int(n),
            stats.positions[e - f:e].tolist())
           for d, c, f, n, e in zip(stats.doc_id, stats.code, stats.tf,
                                    stats.dl, ends)]
    # rows come doc-major, a doc's terms in the batch's first-appearance
    # order (the term code order)
    assert got == want
    assert term_stats_arrow(np.arange(2), pa.array([None, " "]), mode,
                            False) is None


@pytest.mark.parametrize("n_docs", [1, 400, 7_654_321])
def test_dictionary_idf_equals_per_term_idf_py(n_docs):
    """The idf column, computed once per distinct df, is bit for bit the
    per-term ``idf_py`` (the same libm ``log1p``); df sums over several
    posting runs of a term, and most dfs repeat."""
    rng = np.random.default_rng(n_docs)
    n_terms = 3000
    runs = rng.integers(1, 4, n_terms)
    run_df = rng.integers(1, min(n_docs, 60) + 1, int(runs.sum()))
    terms = np.repeat([f"t{i:05d}" for i in range(n_terms)], runs)
    postings = pa.table({"term": pa.array(terms, pa.string()),
                         "df": pa.array(run_df, pa.int64()),
                         "cf": pa.array(2 * run_df, pa.int64())})
    d = _dictionary(postings, n_docs)
    df = d.column("df").to_numpy()
    want = np.array([idf_py(int(x), n_docs) for x in df], np.float64)
    assert d.num_rows == n_terms and len(np.unique(df)) < n_terms / 10
    assert np.array_equal(d.column("idf").to_numpy().view(np.int64),
                          want.view(np.int64))
