"""Dictionary-scale expansion sidecars (VERDICT r3 Missing #2):
dict_sorted (prefix range scan) and dict_ngrams (positional-multiset
q-gram count filter). Contracts: results IDENTICAL to the full
dictionary scans, bounded reads (gram-bucket partition pruning,
StartsWith pushdown on the range files), sound on repeated-gram terms
(where a distinct-set count filter would falsely prune), and stale
sidecars fall back with a warning after the dictionary changes.

These dictionaries are small, so by default they live on the driver and
expand from its vocabulary; the tests that exercise the sidecars and the
Spark dictionary scans place them past the driver gate (``spark_dict``)
and check that the driver vocabulary gives the same answers."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from datastream_io_spark.operators.build import build_index
from datastream_io_spark.operators.dictindex import (
    GRAM_N,
    build_term_sidecars,
    fuzzy_candidates_df,
    fuzzy_expansion_rows,
    prefix_expansion_df,
)
from datastream_io_spark.operators.indexed_search import (
    Searcher,
    _levenshtein_leq,
    _levenshtein_within,
    search_fuzzy,
    search_wildcard,
    suggest_terms,
)
from datastream_io_spark.plans import scan_info
from datastream_io_spark.sources.scan import documents_as_corpus
from tests.conftest import SF0001, driver_dict


@pytest.fixture(scope="module")
def sidecar_index(spark, tmp_path_factory):
    """A documents index WITH sidecars, next to the sidecar-less shared
    doc_index (which keeps exercising the fallback paths)."""
    idx = str(tmp_path_factory.mktemp("sidecar_idx"))
    build_index(spark, documents_as_corpus(spark, SF0001), idx,
                n_splits=3, n_buckets=8, tokenizer="simple",
                salt_threshold=50, n_salts=4)
    meta = build_term_sidecars(spark, idx)
    assert meta["n_terms"] > 0
    return idx


def _topk(spark, df):
    return [(r.doc_id, round(r.score, 9)) for r in df.collect()]


def _vocab_terms(spark, idx, q, mode, max_dist=0, cap=None):
    """The driver vocabulary's expansion of ``q`` (df desc, term asc)."""
    with driver_dict():
        s = Searcher(spark, idx)
        assert s._driver_dict
        return [r["term"] for r in s._expand(q, mode, max_dist, cap)]


def test_wildcard_and_suggest_parity_with_fallback(spark, doc_index,
                                                   sidecar_index,
                                                   spark_dict):
    """Sidecar answers == base-dictionary answers (the two indexes are
    built identically from the same corpus) == the driver vocabulary's
    answers."""
    assert prefix_expansion_df(spark, sidecar_index, "s") is not None
    assert prefix_expansion_df(spark, doc_index, "s") is None  # no sidecar
    for prefix in ("s", "w", "me", "zz"):
        a = _topk(spark, search_wildcard(spark, sidecar_index,
                                         f"{prefix}*", 10))
        b = _topk(spark, search_wildcard(spark, doc_index,
                                         f"{prefix}*", 10))
        with driver_dict():
            c = _topk(spark, search_wildcard(spark, doc_index,
                                             f"{prefix}*", 10))
        assert a == b == c, prefix
        sa = [(r.term, r.df) for r in
              suggest_terms(spark, sidecar_index, prefix, 5).collect()]
        sb = [(r.term, r.df) for r in
              suggest_terms(spark, doc_index, prefix, 5).collect()]
        with driver_dict():
            sc = [(r.term, r.df) for r in
                  suggest_terms(spark, doc_index, prefix, 5).collect()]
        assert sa == sb == sc, prefix
        assert [t for t, _ in sa] == _vocab_terms(spark, doc_index, prefix,
                                                  "wildcard", cap=5)


def test_fuzzy_parity_and_short_query_fallback(spark, doc_index,
                                               sidecar_index, spark_dict):
    # "window" (len 6) at d=1 satisfies len ≥ 3+3d → sidecar path
    rows = fuzzy_expansion_rows(spark, sidecar_index, "window", 1, 128)
    assert rows is not None and any(r["term"] == "window" for r in rows)
    # short query → sidecar declines (count filter can't prune) and
    # the caller's band scan answers; results match either way
    assert fuzzy_expansion_rows(spark, sidecar_index, "hast", 2, 128) is None
    for term, d in [("window", 1), ("windoq", 1), ("hast", 2)]:
        a = _topk(spark, search_fuzzy(spark, sidecar_index, term, 10,
                                      max_dist=d))
        b = _topk(spark, search_fuzzy(spark, doc_index, term, 10,
                                      max_dist=d))
        with driver_dict():
            c = _topk(spark, search_fuzzy(spark, doc_index, term, 10,
                                          max_dist=d))
        assert a == b == c, (term, d)


def test_gram_filter_sound_on_repeated_gram_terms(spark, tmp_path):
    """``abcabcabc`` has 7 gram occurrences but only 3 DISTINCT grams —
    a distinct-set count filter would prune its distance-1 neighbor.
    The positional-multiset filter must keep it."""
    import pandas as pd

    docs = pd.DataFrame({
        "repo": ["r"] * 4, "commit": ["c"] * 4, "lang": ["x"] * 4,
        "path": [f"f{i}" for i in range(4)],
        "content": ["abcabcabc common", "abcabcabd common",
                    "zzzzzzzzz common", "unrelatedterm common"],
    })
    idx = str(tmp_path / "tricky")
    build_index(spark, spark.createDataFrame(docs), idx, n_splits=1,
                n_buckets=4, tokenizer="simple")
    build_term_sidecars(spark, idx)
    rows = fuzzy_expansion_rows(spark, idx, "abcabcabc", 1, 128)
    got = sorted(r["term"] for r in rows)
    # ground truth: banded DP over the full dictionary
    dict_terms = [r.term for r in
                  spark.read.parquet(f"{idx}/dict").collect()]
    want = sorted(t for t in dict_terms
                  if _levenshtein_leq(t, "abcabcabc", 1))
    assert got == want == ["abcabcabc", "abcabcabd"]


def test_vectorized_fuzzy_check_matches_scalar_dp():
    """The driver dict's per-length numpy DP keeps exactly the terms the
    scalar banded DP keeps: random vocabularies with non-ASCII, astral,
    U+10FFFF and NUL characters, queries with a lone surrogate, and
    distances 0-3 over every length band."""
    import random

    import numpy as np

    rng = random.Random(7)
    alpha = "abcé\x00\U0010ffff\U00010000z"
    vocab = sorted({"".join(rng.choice(alpha)
                            for _ in range(rng.randint(1, 9)))
                    for _ in range(3000)}, key=len)
    terms = np.asarray(vocab, dtype=object)
    lens = np.array([len(t) for t in vocab], np.int64)
    queries = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
               for _ in range(60)] + ["ab\ud800c", "\udfff"]
    for q in queries:
        for d in range(4):
            lo = np.searchsorted(lens, max(1, len(q) - d), "left")
            hi = np.searchsorted(lens, len(q) + d, "right")
            want = [_levenshtein_leq(t, q, d) for t in terms[lo:hi]]
            got = _levenshtein_within(terms[lo:hi], lens[lo:hi], q, d)
            assert got.tolist() == want, (q, d)


def test_fuzzy_scan_prunes_gram_buckets(spark, sidecar_index, spark_dict):
    """The gram-sidecar candidate scan lists only the query grams'
    ``gram_bucket=K`` directories (the bounded-read contract), and the
    expansion it feeds equals the driver vocabulary's."""
    df = fuzzy_candidates_df(spark, sidecar_index, "window", 1)
    scans = scan_info(df)
    assert scans, "no FileScan found"
    gram_scans = [s for s in scans if "gram_bucket" in s["PartitionFilters"]]
    assert gram_scans, [s["PartitionFilters"] for s in scans]
    rows = fuzzy_expansion_rows(spark, sidecar_index, "window", 1, 128)
    assert [r["term"] for r in rows] == _vocab_terms(
        spark, sidecar_index, "window", "fuzzy", 1, 128)


def test_sorted_dict_prefix_scan_pushes_startswith(spark, sidecar_index,
                                                   spark_dict):
    df = prefix_expansion_df(spark, sidecar_index, "s")
    scans = scan_info(df)
    assert scans and "StartsWith(term,s)" in scans[0]["PushedFilters"]
    assert sorted(r.term for r in df.collect()) == sorted(
        _vocab_terms(spark, sidecar_index, "s", "wildcard"))
    # range-partitioned: multiple term-sorted files, NOT bucket dirs
    files = glob.glob(os.path.join(sidecar_index, "dict_sorted",
                                   "*.parquet"))
    assert len(files) >= 2


def test_stale_sidecars_fall_back_with_warning(spark, sidecar_index,
                                               tmp_path, spark_dict):
    idx = str(tmp_path / "stale_copy")
    shutil.copytree(sidecar_index, idx)
    # simulate a dictionary change (e.g. a merge wave): n_terms moves
    with open(f"{idx}/_INDEX_SUCCESS") as f:
        success = json.load(f)
    success["n_terms"] = success["n_terms"] + 1
    with open(f"{idx}/_INDEX_SUCCESS", "w") as f:
        json.dump(success, f)
    with pytest.warns(UserWarning, match="stale"):
        assert prefix_expansion_df(spark, idx, "s") is None
    with pytest.warns(UserWarning, match="stale"):
        assert fuzzy_expansion_rows(spark, idx, "window", 1, 128) is None
    # and the search surfaces still answer (fallback), identically
    with pytest.warns(UserWarning, match="stale"):
        a = _topk(spark, search_wildcard(spark, idx, "s*", 10))
    b = _topk(spark, search_wildcard(spark, sidecar_index, "s*", 10))
    with driver_dict():
        c = _topk(spark, search_wildcard(spark, idx, "s*", 10))
    assert a == b == c
    # rebuilding the sidecars restores freshness
    build_term_sidecars(spark, idx)
    assert prefix_expansion_df(spark, idx, "s") is not None


def test_merge_and_purge_refresh_sidecars(spark, tmp_path):
    """Dict-rewriting maintenance (incremental merge, purge) rebuilds
    existing sidecars under its own lock — an index that opted in
    never silently degrades to the full-scan fallback."""
    import warnings

    from datastream_io_spark.corpus import corpus_df
    from datastream_io_spark.streaming.incremental import (
        finalize_stream_index,
        ingest_batch,
        merge_stream_batches,
    )

    pdf = corpus_df(spark, 90, n_partitions=2).toPandas()
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    idx = str(tmp_path / "sidx")
    for i in range(2):
        ingest_batch(spark, spark.createDataFrame(pdf.iloc[i*30:(i+1)*30]),
                     i, idx, tokenizer="code")
    finalize_stream_index(spark, idx, n_buckets=8, tokenizer="code")
    build_term_sidecars(spark, idx)
    ingest_batch(spark, spark.createDataFrame(pdf.iloc[60:90]), 2, idx,
                 tokenizer="code")
    merge_stream_batches(spark, idx)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # a stale fallback would warn
        exp = prefix_expansion_df(spark, idx, "pars")
        assert exp is not None and exp.count() > 0
    # and the refreshed sorted dict covers the WAVE's rows (df moved)
    d = {r["term"]: int(r["df"]) for r in
         spark.read.parquet(f"{idx}/dict").collect()}
    sd = {r["term"]: int(r["df"]) for r in
          spark.read.parquet(f"{idx}/dict_sorted").collect()}
    assert sd == d

    # purge refreshes too (dict df shrinks with the victims)
    from datastream_io_spark.operators.build import purge_deleted
    from datastream_io_spark.operators.indexed_search import delete_docs

    delete_docs(spark, idx, doc_ids=[0, 1, 2])
    purge_deleted(spark, idx)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert prefix_expansion_df(spark, idx, "pars") is not None
    d = {r["term"]: int(r["df"]) for r in
         spark.read.parquet(f"{idx}/dict").collect()}
    sd = {r["term"]: int(r["df"]) for r in
          spark.read.parquet(f"{idx}/dict_sorted").collect()}
    assert sd == d

    # an index WITHOUT sidecars stays sidecar-free after maintenance
    idx2 = str(tmp_path / "nosc")
    for i in range(2):
        ingest_batch(spark, spark.createDataFrame(pdf.iloc[i*30:(i+1)*30]),
                     i, idx2, tokenizer="code")
    finalize_stream_index(spark, idx2, n_buckets=8, tokenizer="code")
    ingest_batch(spark, spark.createDataFrame(pdf.iloc[60:90]), 2, idx2,
                 tokenizer="code")
    merge_stream_batches(spark, idx2)
    import os as _os
    assert not _os.path.exists(f"{idx2}/dict_sorted")


def test_index_n_terms_none_when_key_absent(tmp_path):
    """_INDEX_SUCCESS without an n_terms key → None (ADVICE r4: the
    old -1 sentinel read as 'tiny dict' and made the dictionary
    placement pull an arbitrarily large dictionary into the driver)."""
    import json
    import os

    from datastream_io_spark.operators.dictindex import _index_n_terms

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    assert _index_n_terms(idx) is None  # no marker at all
    with open(os.path.join(idx, "_INDEX_SUCCESS"), "w") as f:
        json.dump({"purged": True}, f)
    assert _index_n_terms(idx) is None  # marker without the key
    with open(os.path.join(idx, "_INDEX_SUCCESS"), "w") as f:
        json.dump({"n_terms": 42}, f)
    assert _index_n_terms(idx) == 42


def test_regex_search_parity_and_bruteforce(spark, doc_index,
                                            sidecar_index, spark_dict):
    """r5 regex: sidecar-pruned == base-dict answers (JVM rlike) == the
    driver vocabulary's (Python re.fullmatch); membership and ranking
    equal an independent python re.fullmatch expansion fed to the
    brute-force OR scorer; anchoring is full-match."""
    import re

    from datastream_io_spark.golden import brute_force_topk
    from datastream_io_spark.operators.indexed_search import (
        _regex_literal_prefix, search_regex)
    from tests.conftest import docs_with_text

    assert _regex_literal_prefix("^con.*") == "con"
    assert _regex_literal_prefix("s.*a.*") == "s"
    assert _regex_literal_prefix(".*ser") == ""
    assert _regex_literal_prefix("(a|b)c") == ""
    # soundness: syntax that makes trailing literals optional must
    # shrink (or void) the prefix — review r5 finding
    assert _regex_literal_prefix("scan|sort") == ""
    assert _regex_literal_prefix("mer?ge") == "me"
    assert _regex_literal_prefix("ab*c") == "a"
    assert _regex_literal_prefix("ab+c") == "ab"
    assert _regex_literal_prefix("ab{2}c") == "a"

    corpus = documents_as_corpus(spark, SF0001)
    pdf = docs_with_text(spark, doc_index, corpus).toPandas()
    vocab = sorted({r.term for r in spark.read.parquet(
        f"{doc_index}/dict").select("term").collect()})

    for pat in ("s.*a.*", "w.+w", "me(rge)?", ".*dow", "(scan|sort)",
                "scan|sort", "mer?ge", "zz.*"):
        a = _topk(spark, search_regex(spark, sidecar_index, pat, 10))
        b = _topk(spark, search_regex(spark, doc_index, pat, 10))
        with driver_dict():
            c = _topk(spark, search_regex(spark, doc_index, pat, 10))
        assert a == b == c, pat
        exp_terms = [t for t in vocab if re.fullmatch(pat, t)]
        if exp_terms:
            exp = brute_force_topk(pdf, " ".join(exp_terms), k=10,
                                   mode="or")
            assert [x[0] for x in b] == [e["doc_id"] for e in exp], pat
            for x, e in zip(b, exp):
                assert x[1] == pytest.approx(e["score"], abs=1e-9)
        else:
            assert b == [], pat
    # full-match anchoring: a mid-term fragment matches nothing
    assert _topk(spark, search_regex(spark, doc_index, "indo", 10)) == []
    # verbatim matching: terms are lowercase, uppercase literals miss
    assert _topk(spark, search_regex(spark, doc_index, "WINDOW", 10)) == []
    assert _topk(spark, search_regex(spark, doc_index, "", 10)) == []


def test_regex_expansion_pushes_prefix_and_falls_back(spark,
                                                      sidecar_index,
                                                      spark_dict):
    """r5: a regex with a literal prefix rides the dict_sorted range
    scan (pushed StartsWith → file skipping) when the sidecar is
    fresh; a prefix-less pattern honestly scans — both produce the
    same answers (test_regex_search_parity covers doc_index parity)."""
    from datastream_io_spark.operators.indexed_search import (
        _regex_expansion_df)

    df = _regex_expansion_df(spark, sidecar_index, "s.*a.*")
    scans = scan_info(df)
    assert scans and "StartsWith(term,s)" in scans[0]["PushedFilters"]
    assert "dict_sorted" in scans[0]["raw"]
    # prefix-less: base dict scan, no sidecar
    df2 = _regex_expansion_df(spark, sidecar_index, ".*dow")
    scans2 = scan_info(df2)
    assert scans2 and "dict_sorted" not in scans2[0]["raw"]
    for pat, exp in (("s.*a.*", df), (".*dow", df2)):
        assert sorted(r.term for r in exp.collect()) == sorted(
            _vocab_terms(spark, sidecar_index, pat, "regex")), pat
