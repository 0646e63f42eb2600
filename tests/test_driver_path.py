"""The driver path for small queries: under the single-task gate a query
reads its pruned postings on the driver and runs the per-split kernels
in-process. Its rows, order and scores must equal the distributed
per-split kernels' (gate forced to 0) in every mode, on positional and
non-positional indexes and under broadcast tombstones; it must launch
no Spark job, and its results must never be cached."""

import time

import pytest

from datastream_io_spark.operators import indexed_search as IX
from datastream_io_spark.operators.boolean_search import search_boolean
from tests.conftest import SF0001, reads_under


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _cases(spark, idx, positional):
    cases = {
        "and": lambda s: s.search("window agg", 10, "and"),
        "or": lambda s: s.search("window agg scan", 10, "or"),
        "single_term": lambda s: s.search("window", 10, "and"),
        "doc_cols": lambda s: s.search("window agg", 10, "or",
                                       with_doc_cols=True),
        "cold_and": lambda s: IX.search_indexed(spark, idx, "window agg",
                                                10, "and"),
        "wildcard": lambda s: s.search_wildcard("s*", 10),
        "fuzzy": lambda s: s.search_fuzzy("windw", 10),
        "boolean": lambda s: search_boolean(
            spark, idx, "window AND (agg OR scan) NOT merge", 10),
        "boolean_wild": lambda s: search_boolean(
            spark, idx, "sc* AND NOT window", 10),
        "warm_boolean": lambda s: s.search_boolean(
            "window AND (agg OR scan) NOT merge", 10),
        "warm_boolean_leaves": lambda s: s.search_boolean(
            "(sc* OR windw~1) AND NOT merge", 10),
        "many_and": lambda s: s.search_many(
            {"a": "window agg", "b": "scan merge", "c": "nosuchterm"},
            10, "and"),
        "many_or": lambda s: s.search_many(
            {"a": "window agg", "b": "scan merge"}, 10, "or"),
        "many_boolean": lambda s: s.search_many(
            {"a": "window AND NOT agg", "b": "scan OR merge"}, 10,
            "boolean"),
        "many_wildcard": lambda s: s.search_many(
            {"a": "s", "b": "win"}, 10, "wildcard"),
        "facet": lambda s: s.facet_counts("window agg", "lang", "or"),
        "cold_facet": lambda s: IX.facet_counts(spark, idx, "window",
                                                "lang", "and"),
    }
    if positional:
        cases.update({
            "phrase": lambda s: s.search("window agg", 10, "phrase"),
            "near": lambda s: s.search_near("window agg", 10, slop=1,
                                            ordered=True),
            "boolean_phrase": lambda s: search_boolean(
                spark, idx, '"window agg" OR scan', 10),
            "warm_boolean_phrase": lambda s: s.search_boolean(
                '"window agg" OR scan', 10),
            "many_phrase": lambda s: s.search_many(
                {"a": "window agg", "b": "scan merge"}, 10, "phrase"),
            "facet_phrase": lambda s: s.facet_counts("window agg", "lang",
                                                     "phrase"),
        })
    return cases


def _both_paths(spark, idx, positional, monkeypatch):
    """Every case answered on the driver, then by the distributed
    kernels (fresh Searchers: no plan reuse across the two)."""
    cases = _cases(spark, idx, positional)
    s = IX.Searcher(spark, idx)
    driver = {name: _rows(c(s)) for name, c in cases.items()}
    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    s = IX.Searcher(spark, idx)
    dist = {name: _rows(c(s)) for name, c in cases.items()}
    return driver, dist


def _assert_same(driver, dist):
    for name in driver:
        assert driver[name] == dist[name], name
    # the cases are not vacuous: all but the documented-empty ones hit
    assert sum(bool(v) for v in driver.values()) >= len(driver) - 1


def test_driver_equals_distributed_positional(spark, pos_index,
                                              arrow_reads, monkeypatch):
    driver, dist = _both_paths(spark, pos_index, True, monkeypatch)
    assert reads_under(arrow_reads, pos_index)  # the driver path ran
    _assert_same(driver, dist)


def test_driver_equals_distributed_non_positional(spark, doc_index,
                                                  arrow_reads,
                                                  monkeypatch):
    """Non-positional blocks may lack ``poss`` entirely in the driver's
    pyarrow read; no non-phrase kernel may depend on it."""
    driver, dist = _both_paths(spark, doc_index, False, monkeypatch)
    assert reads_under(arrow_reads, doc_index)
    _assert_same(driver, dist)


@pytest.fixture(scope="module")
def tomb_index(spark, tmp_path_factory):
    from datastream_io_spark.operators.build import build_index
    from datastream_io_spark.sources.scan import documents_as_corpus

    idx = str(tmp_path_factory.mktemp("tomb_index"))
    build_index(spark, documents_as_corpus(spark, SF0001), idx,
                n_splits=2, n_buckets=8, tokenizer="simple",
                positions=True)
    n = IX.delete_docs(spark, idx, where="pmod(doc_id, 11) = 0",
                       max_frac=None)
    assert 0 < n <= IX.TOMB_BROADCAST_MAX_IDS  # broadcast delivery
    return idx


def test_driver_equals_distributed_under_tombstones(spark, tomb_index,
                                                    monkeypatch):
    tomb, tomb_join = IX._tombstone_state(spark, tomb_index)
    assert tomb is not None and tomb_join is None
    dead = set(tomb.value.tolist())
    driver, dist = _both_paths(spark, tomb_index, True, monkeypatch)
    _assert_same(driver, dist)
    for name, rows in driver.items():
        if not name.startswith("facet") and not name.endswith("facet"):
            ids = {r[1] if name.startswith("many") else r[0]
                   for r in rows}
            assert not ids & dead, name


def test_gated_queries_launch_no_spark_job(spark, pos_index):
    """A gated query and its collect() run no Spark job, in every mode
    that needs no display join or Spark-side expansion. Neither do a
    one-shot Searcher's open, the module functions built on it, a warm
    boolean query whose leaves expand from the cached dict, nor
    queries that can match nothing (no term in the dictionary, or
    Σ df = 0 over every leaf)."""
    s = IX.Searcher(spark, pos_index)
    sc = spark.sparkContext
    sc.setJobGroup("driver_path", "gated queries")
    try:
        IX.Searcher(spark, pos_index, dict_cache="spark")
        got = [
            s.search("window agg", 10, "and").collect(),
            s.search("window agg", 10, "phrase").collect(),
            s.search("window", 10, "or").collect(),
            s.search_near("window agg", 10, slop=1).collect(),
            s.search_wildcard("s*", 10).collect(),
            s.search_fuzzy("windw", 10).collect(),
            s.search_many({"a": "window agg", "b": "scan"}, 10,
                          "or").collect(),
            search_boolean(spark, pos_index, "window AND NOT agg",
                           10).collect(),
            IX.search_indexed(spark, pos_index, "window agg", 10,
                              "and").collect(),
            IX.search_near(spark, pos_index, "window agg", 10,
                           slop=1).collect(),
            s.search_boolean("sc* AND NOT windw~1", 10).collect(),
        ]
        none = [
            s.search("zzqqx yyxxq", 10, "or").collect(),
            s.search_wildcard("zzqqx", 10).collect(),
            search_boolean(spark, pos_index, "zzqqx AND yyxxq",
                           10).collect(),
            s.search_many({"a": "zzqqx AND yyxxq", "b": "zzqqx OR qqz*"},
                          10, "boolean").collect(),
        ]
    finally:
        sc.setJobGroup(None, None)
    time.sleep(0.5)  # let the listener bus deliver any job start
    assert all(got) and not any(none)
    assert list(sc.statusTracker().getJobIdsForGroup("driver_path")) == []


def test_repeated_query_rereads_postings(spark, pos_index, arrow_reads,
                                         monkeypatch):
    """A driver-computed frame holds results, so it never enters the
    Searcher's plan cache: every call re-reads the postings. Over the
    gate the lazy plan is still cached."""
    s = IX.Searcher(spark, pos_index)
    root = f"{pos_index}/postings/"

    def n_reads():
        return sum(p.startswith(root) for p in arrow_reads)

    a = s.search("window agg", 10, "and")
    first = n_reads()
    b = s.search("window agg", 10, "and")
    assert first > 0 and n_reads() == 2 * first
    assert a is not b and _rows(a) == _rows(b)
    assert not s._plan_cache

    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    c = s.search("window agg", 10, "and")
    assert s.search("window agg", 10, "and") is c
    assert n_reads() == 2 * first and _rows(c) == _rows(a)
