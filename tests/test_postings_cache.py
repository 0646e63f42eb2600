"""The process-wide term-rows cache behind the driver reads
(``operators/postings_cache.py``). A repeated gated query reads no
postings or dictionary file, and its rows equal both its cold answer
and the distributed kernels' answer. Deletes stay live. Every rewrite
of an index's files makes the next read miss: a rebuild at the same
path, a streaming merge wave, a compaction and a purge. The byte budget
holds and evicts least recently used entries first, and concurrent
readers of one Searcher get the cold answers."""

import shutil
from concurrent.futures import ThreadPoolExecutor

import pytest

from datastream_io_spark.corpus import corpus_df
from datastream_io_spark.operators import indexed_search as IX
from datastream_io_spark.operators import postings_cache as PC
from datastream_io_spark.operators.boolean_search import search_boolean
from datastream_io_spark.operators.build import build_index, purge_deleted
from tests.conftest import bucket_dirs, reads_under

BOOL_Q = "window AND (agg OR scan) NOT merge"

GATED = {
    "and": lambda s: s.search("window agg", 10, "and"),
    "or": lambda s: s.search("window agg scan", 10, "or"),
    "phrase": lambda s: s.search("window agg", 10, "phrase"),
    "near": lambda s: s.search_near("window agg", 10, slop=1,
                                    ordered=True),
    "wildcard": lambda s: s.search_wildcard("s*", 10),
    "fuzzy": lambda s: s.search_fuzzy("windw", 10),
    "boolean": lambda s: s.search_boolean(BOOL_Q, 10),
    "module_boolean": lambda s: search_boolean(s.spark, s.index_dir,
                                               BOOL_Q, 10),
    "many": lambda s: s.search_many(
        {"a": "window agg", "b": "scan merge", "c": "nosuchterm"}, 10,
        "and"),
}


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _index_reads(paths, idx):
    return (reads_under(paths, idx, "postings")
            | reads_under(paths, idx, "dict"))


@pytest.mark.parametrize("mode", GATED)
def test_repeat_query_reads_no_file(spark, pos_index, arrow_reads,
                                    monkeypatch, mode):
    run = GATED[mode]
    s = IX.Searcher(spark, pos_index)
    cold = _rows(run(s))
    n = len(arrow_reads)
    assert reads_under(arrow_reads, pos_index, "postings")
    if mode == "module_boolean":  # the Spark-dict lookup reads dict/
        assert reads_under(arrow_reads, pos_index, "dict")
    warm = _rows(run(s))
    assert not _index_reads(arrow_reads[n:], pos_index)
    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    dist = _rows(run(IX.Searcher(spark, pos_index)))
    assert cold and cold == warm == dist


def _copy(src, tmp_path):
    dst = str(tmp_path / "idx")
    shutil.copytree(src, dst)
    return dst


def test_delete_after_cached_query_is_live(spark, pos_index, tmp_path,
                                           arrow_reads):
    """Tombstones are resolved per call: a delete drops the doc from the
    next answer while its postings still come from the cache."""
    idx = _copy(pos_index, tmp_path)
    s = IX.Searcher(spark, idx)
    queries = [lambda: s.search("window agg", 10, "or"),
               lambda: search_boolean(spark, idx, BOOL_Q, 10)]
    before = [_rows(q()) for q in queries]
    dead = [rows[0][0] for rows in before]
    IX.delete_docs(spark, idx, doc_ids=dead)
    n = len(arrow_reads)
    after = [_rows(q()) for q in queries]
    assert not reads_under(arrow_reads[n:], idx, "postings")
    for rows in after:
        assert rows and not {d for d, _ in rows} & set(dead)


ANSWERS = {
    "and": lambda s: s.search("parse config", 10, "and"),
    "or": lambda s: s.search("import os error", 10, "or"),
    "boolean": lambda s: search_boolean(s.spark, s.index_dir,
                                        "parse AND NOT error", 10),
}


def _answers(spark, idx):
    s = IX.Searcher(spark, idx)
    return {m: _rows(q(s)) for m, q in ANSWERS.items()}


def _assert_fresh(spark, idx, arrow_reads, monkeypatch, stale=None):
    """A new Searcher re-reads the rewritten postings and answers like
    the distributed kernels over the same files (and unlike ``stale``,
    the answers before the rewrite, when they must differ)."""
    n = len(arrow_reads)
    got = _answers(spark, idx)
    assert reads_under(arrow_reads[n:], idx, "postings")
    with monkeypatch.context() as m:
        m.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
        assert got == _answers(spark, idx)
    if stale is not None:
        assert got != stale
    return got


def test_rebuild_at_same_path_misses(spark, tmp_path, arrow_reads,
                                     monkeypatch):
    """The in-process build always writes ``part-00000.zstd.parquet``:
    the rebuilt index differs from the cached one only in the files'
    inodes, sizes and mtimes."""
    idx = str(tmp_path / "idx")

    def build(n):
        shutil.rmtree(idx, ignore_errors=True)
        build_index(spark, corpus_df(spark, n, n_partitions=2), idx,
                    n_splits=2, n_buckets=4, tokenizer="code")

    build(150)
    old = _answers(spark, idx)
    assert all(old.values())
    build(300)
    _assert_fresh(spark, idx, arrow_reads, monkeypatch, stale=old)


def test_merge_wave_and_compaction_miss(spark, tmp_path, arrow_reads,
                                        monkeypatch):
    from datastream_io_spark.streaming.incremental import (
        compact_stream_index,
        finalize_stream_index,
        ingest_batch,
        merge_stream_batches,
    )

    pdf = corpus_df(spark, 120, n_partitions=2).toPandas()
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    idx = str(tmp_path / "stream")

    def ingest(b):
        ingest_batch(spark, spark.createDataFrame(pdf.iloc[b * 40:
                                                           (b + 1) * 40]),
                     b, idx, tokenizer="code")

    ingest(0)
    ingest(1)
    finalize_stream_index(spark, idx, n_buckets=4, tokenizer="code")
    old = _answers(spark, idx)
    assert all(old.values())
    ingest(2)
    merge_stream_batches(spark, idx)  # a wave adds files to the buckets
    merged = _assert_fresh(spark, idx, arrow_reads, monkeypatch,
                           stale=old)
    compact_stream_index(spark, idx, target_splits=1)  # swaps postings/
    assert _assert_fresh(spark, idx, arrow_reads, monkeypatch) == merged


def test_purge_misses(spark, pos_index, tmp_path, arrow_reads,
                      monkeypatch):
    """Purge rewrites postings without the deleted docs and removes the
    tombstones: stale cached rows would bring the docs back."""
    idx = _copy(pos_index, tmp_path)
    s = IX.Searcher(spark, idx)
    before = _rows(s.search("window agg", 10, "or"))
    dead = [d for d, _ in before[:3]]
    IX.delete_docs(spark, idx, doc_ids=dead)
    purge_deleted(spark, idx)
    n = len(arrow_reads)
    s = IX.Searcher(spark, idx)
    after = _rows(s.search("window agg", 10, "or"))
    assert reads_under(arrow_reads[n:], idx, "postings")
    assert after and not {d for d, _ in after} & set(dead)
    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    assert after == _rows(IX.Searcher(spark, idx).search("window agg", 10,
                                                         "or"))


def test_budget_bounds_bytes_and_evicts_lru(spark, pos_index, arrow_reads,
                                            monkeypatch):
    def read(t):
        (bdir,) = bucket_dirs(pos_index, [t])
        rows = PC.bucket_term_rows(bdir, IX._POSTINGS_COLS, [t])[t]
        assert rows
        return rows

    terms = ["window", "agg", "scan", "merge"]
    size = {}
    for t in terms:
        PC.clear()
        read(t)
        size[t] = PC.cached_bytes()
    # d is the largest entry, so a, b and c fit whenever a, c and d do
    d = max(terms, key=size.get)
    a, b, c = [t for t in terms if t != d]
    budget = size[a] + size[c] + size[d]
    monkeypatch.setattr(PC, "POSTINGS_CACHE_MAX_BYTES", budget)
    PC.clear()
    for t in (a, b, c, a, d):  # a is touched again before d arrives
        read(t)
        assert PC.cached_bytes() <= budget
    n = len(arrow_reads)
    for t in (a, c, d):
        read(t)
    assert len(arrow_reads) == n  # a, c and d stayed cached
    read(b)
    assert len(arrow_reads) == n + 1  # b, least recently used, went

    # an entry over the whole budget is read but never cached
    monkeypatch.setattr(PC, "POSTINGS_CACHE_MAX_BYTES", size[d] - 1)
    PC.clear()
    read(d)
    assert PC.cached_bytes() == 0

    # end to end under a small budget: right answers, bytes in bounds
    want = {m: _rows(q(IX.Searcher(spark, pos_index)))
            for m, q in GATED.items()}
    monkeypatch.setattr(PC, "POSTINGS_CACHE_MAX_BYTES", budget)
    PC.clear()
    s = IX.Searcher(spark, pos_index)
    for _ in range(2):
        for m, q in GATED.items():
            assert _rows(q(s)) == want[m], m
            assert PC.cached_bytes() <= budget


def test_threads_share_one_searcher(spark, pos_index):
    """8 threads query one Searcher from an empty cache (racing misses
    and inserts) and again warm: every answer equals the cold one."""
    s = IX.Searcher(spark, pos_index)
    names = [m for m in GATED if m != "module_boolean"]
    PC.clear()
    cold = {m: _rows(GATED[m](s)) for m in names}
    PC.clear()

    def work(i):
        order = names[i % len(names):] + names[:i % len(names)]
        return [(m, _rows(GATED[m](s))) for m in order * 2]

    with ThreadPoolExecutor(8) as ex:
        for got in ex.map(work, range(16)):
            for m, rows in got:
                assert rows == cold[m], m
