"""Round-6 optimization pins: the single-task rank gate, the warm plan
cache (tombstone liveness), the driver-side dict lookup fast path, and
the partition-local dl dedupe must all be result-invisible."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datastream_io_spark.operators import indexed_search as IX


@pytest.fixture()
def gate_restore():
    old = IX.SINGLE_TASK_MAX_POSTINGS
    yield
    IX.SINGLE_TASK_MAX_POSTINGS = old


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_single_task_gate_parity_all_modes(spark, pos_index,
                                           gate_restore):
    """Identical rows AND order from the 1-task no-exchange rank path
    and the parallel per-split kernel, across every gated surface."""
    cases = [
        lambda s: s.search("window agg", 10, "and"),
        lambda s: s.search("window agg", 10, "or"),
        lambda s: s.search("window agg", 10, "phrase"),
        lambda s: s.search("window agg", 10, "or", with_doc_cols=True),
        lambda s: s.search_near("window agg", 10, slop=1, ordered=True),
        lambda s: s.search_wildcard("s*", 10),
        lambda s: s.search_many({"a": "window agg", "b": "scan merge"},
                                10, "phrase"),
        lambda s: s.facet_counts("window agg", "lang", "and"),
    ]
    outs = {}
    for gate in (IX.SINGLE_TASK_MAX_POSTINGS, 0):
        IX.SINGLE_TASK_MAX_POSTINGS = gate
        s = IX.Searcher(spark, pos_index)  # fresh handle: no plan reuse
        outs[gate] = [_rows(c(s)) for c in cases]
    gates = list(outs)
    assert outs[gates[0]] == outs[gates[1]]


def test_single_task_plan_has_no_exchange(spark, pos_index, arrow_reads,
                                          monkeypatch):
    """Under the gate the query has no rank plan at all: the driver
    reads the query terms' bucket directories and returns a local
    relation (zero Exchange, zero FileScan). Over the gate, a
    single-term query keeps the exchange-free scan → mapInPandas →
    TakeOrdered plan, and a multi-term query pays exactly one
    Exchange — the per-split shuffle, no range exchange for the
    top-k."""
    from datastream_io_spark.plans import plan_summary
    from tests.conftest import bucket_dirs, reads_under

    s = IX.Searcher(spark, pos_index)
    df = s.search("window agg", 10, "and")
    summary = plan_summary(df)
    assert summary["n_exchanges"] == 0 and not summary["scans"]
    got = reads_under(arrow_reads, pos_index)
    assert got and got <= bucket_dirs(pos_index, ["window", "agg"])

    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    s = IX.Searcher(spark, pos_index)
    one = plan_summary(s.search("window", 10, "and"))
    assert one["n_exchanges"] == 0 and one["take_ordered"]
    assert "term_bucket" in one["scans"][0]["PartitionFilters"]
    assert plan_summary(s.search("window agg", 10, "and"))[
        "n_exchanges"] == 1


def test_plan_cache_keeps_deletes_live(spark, tmp_path):
    """A warm Searcher must see a tombstone written AFTER it served the
    same query from its plan cache — tombstone presence bypasses the
    cache (the staleness contract: deletes are LIVE, per query)."""
    from datastream_io_spark.operators.build import build_index
    from datastream_io_spark.operators.indexed_search import (
        Searcher, delete_docs)
    from datastream_io_spark.sources.scan import documents_as_corpus

    idx = str(tmp_path / "idx")
    build_index(spark, documents_as_corpus(spark, "/root/testdata/sf0.001"),
                idx, n_splits=2, n_buckets=8, tokenizer="simple")
    s = Searcher(spark, idx)
    before = [r.doc_id for r in s.search("window agg", 5, "and").collect()]
    assert before
    # same query again → served from the plan cache
    again = [r.doc_id for r in s.search("window agg", 5, "and").collect()]
    assert again == before
    delete_docs(spark, idx, doc_ids=[before[0]])
    after = [r.doc_id for r in s.search("window agg", 5, "and").collect()]
    assert before[0] not in after


def test_lookup_terms_fast_path_matches_spark_path(spark, doc_index,
                                                   spark_dict):
    """The pyarrow pruned-bucket read must return the same dict rows as
    the distributed lookup (which runs when the n_terms gate fails),
    as the same Row type."""
    from pyspark.sql import Row

    from tests.conftest import driver_dict

    terms = ["window", "agg", "scan", "nosuchterm"]
    with driver_dict():
        fast = IX.lookup_terms(spark, doc_index, terms)
    slow = IX.lookup_terms(spark, doc_index, terms)
    for rows in (fast, slow):
        assert rows and all(type(r) is Row for r in rows)
        assert all(r.__fields__ == ["term", "df", "cf", "idf",
                                    "term_bucket"] for r in rows)

    def norm(rows):
        return sorted((r["term"], int(r["df"]), int(r["cf"]),
                       round(float(r["idf"]), 12), int(r["term_bucket"]))
                      for r in rows)

    assert norm(fast) == norm(slow)
    assert {r["term"] for r in fast} == {"window", "agg", "scan"}


def test_dedup_doc_dl_handles_batch_boundaries():
    """One output row per doc even when a doc's tf rows straddle Arrow
    batch boundaries (the carry guard)."""
    from datastream_io_spark.operators.build import _dedup_doc_dl

    b1 = pd.DataFrame({"doc_id": [1, 1, 2, 2, 3], "dl": [5, 5, 7, 7, 9]})
    b2 = pd.DataFrame({"doc_id": [3, 3, 4], "dl": [9, 9, 11]})
    out = pd.concat(list(_dedup_doc_dl(iter([b1, b2]))),
                    ignore_index=True)
    assert out.to_dict("list") == {"doc_id": [1, 2, 3, 4],
                                   "dl": [5, 7, 9, 11]}


def test_split_of_doc_ranges():
    from datastream_io_spark.operators.indexed_search import _split_of_doc

    stats = {"split_offsets": {"0": 0, "1": 100, "2": 100, "3": 150},
             "split_counts": {"0": 100, "1": 0, "2": 50, "3": 10}}
    assert _split_of_doc(stats, 0) == 0
    assert _split_of_doc(stats, 99) == 0
    assert _split_of_doc(stats, 100) == 2  # split 1 is empty
    assert _split_of_doc(stats, 149) == 2
    assert _split_of_doc(stats, 150) == 3
    assert _split_of_doc(stats, -1) is None
    assert _split_of_doc({}, 5) is None
