"""Cross-parallelism determinism (SURVEY.md §5.2, BASELINE.json:14):
identical index content and identical query docIDs + scores regardless
of input partitioning and shuffle-partition count. (local[8] vs
local[32] process-level evidence lives in the bench job — this test
varies every knob available inside one session.)"""

import pytest
from pyspark.sql import functions as F

from datastream_io_spark.corpus import corpus_df
from datastream_io_spark.operators.build import build_index
from datastream_io_spark.operators.indexed_search import search_indexed
from tests.queries_golden import CODE_QUERIES, K

# these tests pin the DISTRIBUTED build (Spark phases, their resume,
# parallelism invariance, fleets); the in-process gate would otherwise
# move their small corpora to the driver
pytestmark = pytest.mark.usefixtures("distributed_build")

N = 400


def _fingerprint(spark, index_dir):
    post = spark.read.parquet(f"{index_dir}/postings")
    rows = post.select(
        "term", "split_id", "df",
        F.md5(F.to_json("blocks")).alias("h"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def _results(spark, idx):
    from datastream_io_spark.operators.indexed_search import (
        search_near, search_regex)

    out = []
    for q, mode in CODE_QUERIES[:4]:
        rows = search_indexed(spark, idx, q, K, mode).collect()
        out.append([(r.doc_id, r.score) for r in rows])
    for q in ["parse config", "import os"]:  # positional determinism too
        rows = search_indexed(spark, idx, q, K, "phrase").collect()
        out.append([(r.doc_id, r.score) for r in rows])
    # r5 surfaces: proximity windows and regex expansion must be as
    # parallelism-invariant as the core modes
    for slop, ordered in [(1, True), (3, False)]:
        rows = search_near(spark, idx, "parse config", K, slop,
                           ordered).collect()
        out.append([(r.doc_id, r.score) for r in rows])
    rows = search_regex(spark, idx, "pars.*", K).collect()
    out.append([(r.doc_id, r.score) for r in rows])
    return out


def test_index_and_results_invariant_to_parallelism(spark, tmp_path):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        configs = [("a", 2, 2), ("b", 16, 32)]  # (name, shuffle parts, input parts)
        fps, results = [], []
        for name, shuffle, nparts in configs:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
            corpus = corpus_df(spark, N, n_partitions=nparts)
            idx = str(tmp_path / name)
            build_index(spark, corpus, idx, n_splits=3, n_buckets=8,
                        tokenizer="code", salt_threshold=100, n_salts=4,
                        positions=True)
            fps.append(_fingerprint(spark, idx))
            results.append(_results(spark, idx))
        assert fps[0] == fps[1], "index bytes differ across parallelism"
        assert results[0] == results[1], "query results differ across parallelism"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_docs_mapping_deterministic(spark, tmp_path):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        maps = []
        for name, shuffle, nparts in [("c", 3, 4), ("d", 24, 16)]:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
            corpus = corpus_df(spark, N, n_partitions=nparts)
            idx = str(tmp_path / name)
            build_index(spark, corpus, idx, n_splits=3, n_buckets=8,
                        tokenizer="code")
            rows = spark.read.parquet(f"{idx}/docs").select(
                "doc_id", "repo", "path", "commit", "dl", "content_sha256"
            ).collect()
            maps.append(sorted(tuple(r) for r in rows))
        assert maps[0] == maps[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
