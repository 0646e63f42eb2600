"""Freeze the golden top-k sets (FIXTURES.md §3) — run ONCE, commit the
outputs. Brute-force pandas scorer over (a) sf0.001 documents, (b) the
600-row synthetic code corpus, in the engine's doc-id space (ids come
from the deterministic phase-A assignment, made global with the frozen
per-split offsets exactly as the build does; scores/ranks are computed
fully independently of the engine's index/query code).

Build params here MUST match tests/conftest.py fixtures."""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from datastream_io_spark.corpus import corpus_df
from datastream_io_spark.golden import brute_force_topk
from datastream_io_spark.operators.build import _absolute_ids, stage_corpus
from datastream_io_spark.session import get_spark
from datastream_io_spark.sources.scan import documents_as_corpus
from tests.queries_golden import CODE_QUERIES, DOC_QUERIES, K

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "golden")


def staged_docs(spark, corpus, n_splits, n_buckets, tokenizer):
    """The staged corpus as pandas [doc_id, repo, path, commit, text]
    with GLOBAL doc ids: staging writes split-local ids, and every
    reader adds the split's frozen offset from staging.json."""
    with tempfile.TemporaryDirectory() as tmp:
        info = stage_corpus(spark, corpus, tmp, n_splits, n_buckets,
                            tokenizer)
        return (
            _absolute_ids(spark.read.parquet(f"{tmp}/staged_corpus"),
                          info, range(n_splits))
            .select("doc_id", "repo", "path", "commit",
                    F.col("content").alias("text"))
            .toPandas()
        )


def freeze(spark, corpus, n_splits, n_buckets, tokenizer, table, queries):
    pdf = staged_docs(spark, corpus, n_splits, n_buckets, tokenizer)
    for i, (query, mode) in enumerate(queries):
        topk = brute_force_topk(pdf, query, K, mode, tokenizer=tokenizer)
        out = {"table": table, "query": query, "mode": mode, "k": K,
               "tokenizer": tokenizer, "topk": topk}
        path = os.path.join(GOLDEN_DIR, f"topk_{table}_{i}.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print(f"froze {path}: {len(topk)} rows")


if __name__ == "__main__":
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    spark = get_spark("freeze_golden", cores=8, shuffle_partitions=8)
    freeze(spark, documents_as_corpus(spark, "/root/testdata/sf0.001"),
           3, 8, "simple", "documents", DOC_QUERIES)
    freeze(spark, corpus_df(spark, 600, n_partitions=8),
           3, 16, "code", "corpus", CODE_QUERIES)
