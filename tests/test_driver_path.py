"""The driver path for small queries: under the single-task gate a query
reads its pruned postings on the driver and runs the per-split kernels
in-process. Its rows, order and scores — and its match counts — must
equal the distributed per-split kernels' (gate forced to 0) in every
mode, on positional and non-positional indexes and under broadcast
tombstones; it must launch no Spark job, make no JVM call (its collect
included), and its results must never be cached."""

import json
import time

import pytest

from datastream_io_spark.operators import indexed_search as IX
from datastream_io_spark.operators import partitioned as P
from datastream_io_spark.operators.boolean_search import (
    count_boolean,
    search_boolean,
)
from datastream_io_spark.sources.scan import documents_as_corpus
from tests.conftest import SF0001, py4j_calls, reads_under


@pytest.fixture(scope="module")
def part_root(spark, tmp_path_factory):
    """A positional partitioned root (one subindex per lang) over the
    documents corpus."""
    root = str(tmp_path_factory.mktemp("driver_path_root"))
    P.build_partitioned_index(spark, documents_as_corpus(spark, SF0001),
                              root, by="lang", n_splits=2, n_buckets=8,
                              tokenizer="simple", positions=True)
    return root


def _rows(df):
    """A case's answer: its rows, or a count as it is."""
    if isinstance(df, int):
        return df
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
        "where_facet": lambda s: s.facet_counts(
            "window agg", "lang", "or", where="pmod(doc_id, 2) = 0"),
        "count_and": lambda s: s.match_count("window agg", "and"),
        "count_or": lambda s: s.match_count("window agg scan", "or"),
        "cold_count": lambda s: IX.match_count(spark, idx, "window",
                                               "and"),
        "count_boolean": lambda s: s.count_boolean(
            "window AND (agg OR scan) NOT merge"),
        "count_boolean_leaves": lambda s: s.count_boolean(
            "(sc* OR windw~1) AND NOT merge"),
        "cold_count_boolean": lambda s: count_boolean(
            spark, idx, "scan OR merge"),
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
            "count_phrase": lambda s: s.match_count("window agg",
                                                    "phrase"),
            "count_boolean_phrase": lambda s: s.count_boolean(
                '"window agg" OR scan'),
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
        if "facet" not in name and "count" not in name:
            ids = {r[1] if name.startswith("many") else r[0]
                   for r in rows}
            assert not ids & dead, name
    # counts are of live docs: the hits of the same query at any depth
    s = IX.Searcher(spark, tomb_index)
    for q, mode in [("window agg", "and"), ("window agg scan", "or"),
                    ("window agg", "phrase")]:
        live = s.search(q, 10**6, mode).collect()
        assert s.match_count(q, mode) == len(live), (q, mode)
    live = s.search_boolean('"window agg" OR scan', 10**6).collect()
    assert driver["count_boolean_phrase"] == len(live)


def test_tombstones_read_on_driver_ship_as_broadcast(spark, tomb_index):
    """A broadcast-size tombstone set is read with pyarrow into a plain
    sorted id array (no JVM call); only a kernel pickled for executors
    turns it into a Spark broadcast, which pickles as a small stub."""
    import numpy as np
    from pyspark.serializers import CloudPickleSerializer

    with py4j_calls(spark) as sent:
        tomb, tomb_join = IX._tombstone_state(spark, tomb_index)
    assert sent == [] and tomb_join is None
    ids = tomb.value
    assert isinstance(ids, np.ndarray) and ids.dtype == np.int64
    assert ids.size and (np.diff(ids) > 0).all()

    big = IX._Tombs(spark, np.arange(100_000, dtype=np.int64))
    try:
        blob = CloudPickleSerializer().dumps(big)
    finally:
        spark.sparkContext._pickled_broadcast_vars.clear()
    assert len(blob) < 1000
    assert (big._broadcast.value == big.value).all()


def test_gated_queries_launch_no_spark_job(spark, pos_index, part_root):
    """A gated query and its collect() run no Spark job, in every mode
    that needs no display join, and so does a gated match count or
    boolean count. Neither do a Searcher's open, the one-shot module
    functions built on it — their lookups and wildcard / fuzzy / regex
    expansions read the small dictionary on the driver, a one-shot
    cross-partition boolean query's and an autocomplete's too — a warm
    boolean query whose leaves expand from the driver vocabulary, an
    explain, nor queries that can match nothing (no term in the
    dictionary, or Σ df = 0 over every leaf)."""
    s = IX.Searcher(spark, pos_index)
    sc = spark.sparkContext
    sc.setJobGroup("driver_path", "gated queries")
    try:
        IX.Searcher(spark, pos_index)
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
            s.match_count("window agg", "or"),
            s.count_boolean("sc* AND NOT windw~1"),
            IX.match_count(spark, pos_index, "window agg", "and"),
            count_boolean(spark, pos_index, "window AND NOT agg"),
            IX.search_wildcard(spark, pos_index, "s*", 10).collect(),
            IX.search_fuzzy(spark, pos_index, "windw", 10).collect(),
            IX.search_regex(spark, pos_index, "s.*a.*", 10).collect(),
            search_boolean(spark, pos_index, "window AND s* NOT agg",
                           10).collect(),
            IX.explain_query(spark, pos_index, "s*",
                             mode="wildcard")["expansion"],
            IX.suggest_terms(spark, pos_index, "s", 5).collect(),
            P.search_boolean_all_partitions(spark, part_root,
                                            "agg AND s*").collect(),
        ]
        none = [
            s.search("zzqqx yyxxq", 10, "or").collect(),
            s.match_count("zzqqx yyxxq", "or"),
            s.count_boolean("zzqqx AND yyxxq"),
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


def test_repeated_query_reads_cached_postings(spark, pos_index,
                                             arrow_reads, monkeypatch):
    """A driver-computed frame holds results, so it never enters the
    Searcher's plan cache: a repeat builds a new frame. Its postings
    come from the process-wide term-rows cache, so the repeat reads no
    file. Over the gate the lazy plan is still cached."""
    s = IX.Searcher(spark, pos_index)
    root = f"{pos_index}/postings/"

    def n_reads():
        return sum(p.startswith(root) for p in arrow_reads)

    a = s.search("window agg", 10, "and")
    first = n_reads()
    b = s.search("window agg", 10, "and")
    assert first > 0 and n_reads() == first
    assert a is not b and _rows(a) == _rows(b)
    assert not s._plan_cache

    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    c = s.search("window agg", 10, "and")
    assert s.search("window agg", 10, "and") is c
    assert n_reads() == first and _rows(c) == _rows(a)


def _warm_gated(s):
    """Warm gated queries of every mode, each with its collect()."""
    return [
        s.search("window agg", 10, "and").collect(),
        s.search("window agg scan", 10, "or").collect(),
        s.search("window agg", 10, "phrase").collect(),
        s.search_near("window agg", 10, slop=1, ordered=True).collect(),
        s.search_wildcard("s*", 10).collect(),
        s.search_fuzzy("windw", 10).collect(),
        s.search_boolean("window AND (agg OR scan) NOT merge",
                         10).collect(),
        s.search_many({"a": "window agg", "b": "scan"}, 10,
                      "or").collect(),
        s.match_count("window agg scan", "or"),
        s.count_boolean("window AND (agg OR scan) NOT merge"),
    ]


@pytest.mark.parametrize("index", ["pos_index", "tomb_index"])
def test_warm_gated_queries_make_no_jvm_call(spark, index, request):
    """A warm gated query and its collect() make zero py4j round trips
    in every mode — with no deletes and with broadcast-size tombstones
    (read with pyarrow, handed to the in-process kernels as an array) —
    and so does an all-absent query. Its count / isEmpty / toPandas /
    toArrow answer from the Arrow table too."""
    idx = request.getfixturevalue(index)
    s = IX.Searcher(spark, idx)
    _warm_gated(s)  # first-call imports stay out of the count
    with py4j_calls(spark) as sent:
        got = _warm_gated(s)
        none = s.search("zzqqx yyxxq", 10, "or").collect()
        df = s.search("window agg", 10, "or")
        shape = (df.count(), df.isEmpty(), len(df.toPandas()),
                 df.toArrow().num_rows, df.columns)
    assert sent == []
    assert all(got) and none == []
    assert shape == (len(df.collect()), False, shape[0], shape[0],
                     ["doc_id", "score"])


def test_driver_dict_open_runs_no_job(spark, pos_index, monkeypatch):
    """Opening a Searcher over a small dictionary places it on the
    driver without reading it: zero Spark jobs and zero py4j round
    trips per open (also when the build recorded no term count and the
    placement counts the dictionary with pyarrow). The vocabulary is
    read with pyarrow on the first expansion, also with no job and no
    py4j call, and holds the Spark read's rows in term order."""
    from datastream_io_spark.operators import dictindex

    s = IX.Searcher(spark, pos_index)
    s.search_wildcard("s*", 10).collect()  # first-call imports
    sc = spark.sparkContext
    sc.setJobGroup("dict_open", "driver dict open")
    try:
        with py4j_calls(spark) as sent:
            s = IX.Searcher(spark, pos_index)
            assert "_vocab" not in vars(s)  # opening read no dictionary
            s.search_wildcard("s*", 10).collect()
            monkeypatch.setattr(dictindex, "_index_n_terms",
                                lambda index_dir: None)
            counted = IX.Searcher(spark, pos_index)
    finally:
        sc.setJobGroup(None, None)
    time.sleep(0.5)  # let the listener bus deliver any job start
    assert sent == []
    assert list(sc.statusTracker().getJobIdsForGroup("dict_open")) == []
    assert s._driver_dict and counted._driver_dict

    want = (spark.read.parquet(f"{pos_index}/dict").toPandas()
            .sort_values("term", ignore_index=True))
    v = s._vocab
    assert v.terms.tolist() == want["term"].tolist()
    assert v.df.tolist() == want["df"].tolist()
    assert v.idf.tolist() == want["idf"].tolist()
    assert v.bucket.tolist() == want["term_bucket"].tolist()
    assert v.lens.tolist() == sorted(len(t) for t in want["term"])
    assert [len(t) for t in v.terms[v.by_len]] == v.lens.tolist()


def test_vocabulary_read_once_per_process(spark, pos_index, tmp_path,
                                          monkeypatch):
    """One-shot expansions over the same ``dict/`` files share one
    vocabulary: the first reads it, the rest read nothing. Changed
    files (another path, a rewritten bucket file) are read afresh, and
    past ``VOCAB_CACHE_MAX_BYTES`` the least recently used vocabulary
    is dropped while the newest stays."""
    import os
    import shutil
    from collections import OrderedDict

    monkeypatch.setattr(IX, "_VOCABS", OrderedDict())
    reads = []
    real = IX._Vocab.read
    monkeypatch.setattr(IX._Vocab, "read",
                        lambda d: (reads.append(d), real(d))[1])

    def expand_all(idx):
        return [_rows(IX.search_wildcard(spark, idx, "s*", 10)),
                _rows(IX.search_fuzzy(spark, idx, "windoq", 10)),
                _rows(IX.search_regex(spark, idx, "ag+", 10))]

    want = expand_all(pos_index)
    assert expand_all(pos_index) == want
    assert IX.Searcher(spark, pos_index).search_wildcard(
        "s*", 10).collect()
    assert reads == [pos_index]

    copy = str(tmp_path / "copy")
    shutil.copytree(pos_index, copy)
    assert expand_all(copy) == want and reads == [pos_index, copy]
    bdir = os.path.join(copy, "dict", "term_bucket=0")
    f = os.path.join(bdir, next(n for n in sorted(os.listdir(bdir))
                                if n.endswith(".parquet")))
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert expand_all(copy) == want and reads == [pos_index, copy, copy]
    assert len(IX._VOCABS) == 3  # the stale entry ages out by LRU

    monkeypatch.setattr(IX, "VOCAB_CACHE_MAX_BYTES", 1)
    assert expand_all(pos_index) == want and len(reads) == 3  # a hit
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 2 * 10**9))
    assert expand_all(copy) == want and len(reads) == 4
    assert len(IX._VOCABS) == 1  # the read evicted all but itself
    assert expand_all(pos_index) == want and reads[-1] == pos_index
    assert len(IX._VOCABS) == 1


def test_unknown_partition_value_makes_no_jvm_call(spark, tmp_path):
    """search_partitioned of a value with no subindex answers an empty
    frame of the hit path's schema; building and collecting it makes
    no py4j round trip (the schema is a StructType: no DDL parse)."""
    root = tmp_path / "manifest_only"
    root.mkdir()
    (root / "partitioned.json").write_text(
        json.dumps({"by": "lang", "values": {"en": 1}}))
    for with_doc_cols in (False, True):
        P.search_partitioned(spark, str(root), "xx", "window",
                             with_doc_cols=with_doc_cols).collect()
        with py4j_calls(spark) as sent:
            df = P.search_partitioned(spark, str(root), "xx", "window",
                                      with_doc_cols=with_doc_cols)
            rows = df.collect()
        assert sent == [] and rows == []
        assert df.schema == IX._empty_topk(spark, with_doc_cols).schema


def test_partitioned_batch_over_gate_skips_subindex_cut(spark, part_root,
                                                        monkeypatch):
    """Over the single-task gate, ``PartitionedSearcher.search_many``
    runs one Spark job, and its subindexes hand ``_merge`` their
    per-split candidates uncut: ``_merge`` cuts each query's global
    top-k in Python, so a per-subindex rank window and single-partition
    sort would be work it redoes. The answers equal the driver path's,
    and the task count is pinned."""
    qs = {"a": "window agg", "b": "scan", "c": "merge sort window"}

    def rows(ps):
        return sorted(tuple(r) for r in ps.search_many(qs, 10,
                                                       "or").collect())

    want = rows(P.PartitionedSearcher(spark, part_root))
    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    ps = P.PartitionedSearcher(spark, part_root)
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("ps_many", "over-the-gate batch")
    try:
        got = rows(ps)
    finally:
        sc.setJobGroup(None, None)
    time.sleep(0.5)  # let the listener bus deliver the job end
    jobs = list(st.getJobIdsForGroup("ps_many"))
    tasks = sum(st.getStageInfo(s).numCompletedTasks
                for j in jobs for s in st.getJobInfo(j).stageIds
                if st.getStageInfo(s) is not None)
    assert got == want
    # 121 tasks with the per-subindex window and single-partition sort
    assert (len(jobs), tasks) == (1, 70)
