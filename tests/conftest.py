import contextlib

import pytest

from datastream_io_spark.corpus import corpus_df
from datastream_io_spark.operators import build as B
from datastream_io_spark.operators import indexed_search as IX
from datastream_io_spark.session import get_spark
from datastream_io_spark.sources.scan import documents_as_corpus, load_table

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
CORPUS_SMALL_N = 600


def build_index(spark, corpus, idx, **kw):
    """``build_index`` through the DISTRIBUTED phases (in-process gate
    at 0): the shared fixture indexes keep exercising the Spark build,
    which the suites' plan, layout and fleet assertions pin."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "DRIVER_BUILD_MAX_DOCS", 0)
        return B.build_index(spark, corpus, idx, **kw)


@pytest.fixture()
def distributed_build(monkeypatch):
    """Force every build_index of a test through the distributed
    phases."""
    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_DOCS", 0)


# the default dictionary placement gate, which driver_dict restores
_DICT_GATE = IX.AUTO_DICT_DRIVER_MAX_TERMS


@contextlib.contextmanager
def spark_placed():
    """Inside the block, every dictionary opened is placed past the
    driver gate (``AUTO_DICT_DRIVER_MAX_TERMS`` = 0): lookups and
    wildcard / fuzzy / regex expansion take the Spark paths — the
    bucket-pruned lookup job, the ``dict_sorted/`` and ``dict_ngrams/``
    sidecars, the dictionary scans and the cross-partition union scans
    — as on a dictionary too large for the driver."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(IX, "AUTO_DICT_DRIVER_MAX_TERMS", 0)
        yield


@pytest.fixture()
def spark_dict():
    """:func:`spark_placed` for the whole test."""
    with spark_placed():
        yield


@contextlib.contextmanager
def driver_dict():
    """Inside the block, dictionaries are placed by the default gate
    (a test index's dictionary on the driver), whatever ``spark_dict``
    set: the driver-vocabulary answer to compare the Spark paths
    with."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(IX, "AUTO_DICT_DRIVER_MAX_TERMS", _DICT_GATE)
        yield


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", cores=8, shuffle_partitions=8)


@pytest.fixture(scope="session")
def documents(spark):
    return load_table(spark, SF0001, "documents")


@pytest.fixture(scope="session")
def doc_index(spark, tmp_path_factory):
    """Shared index over sf0.001 documents (simple tokenizer). The tiny
    salt_threshold forces the C4 salting path on this all-hot corpus."""
    idx = str(tmp_path_factory.mktemp("doc_index"))
    corpus = documents_as_corpus(spark, SF0001)
    build_index(spark, corpus, idx, n_splits=3, n_buckets=8,
                tokenizer="simple", salt_threshold=50, n_salts=4,
                source_desc=f"{SF0001}/documents.parquet")
    return idx


@pytest.fixture(scope="session")
def pos_index(spark, tmp_path_factory):
    """Positional documents index (phrase/highlight/boolean suites)."""
    idx = str(tmp_path_factory.mktemp("pos_index"))
    corpus = documents_as_corpus(spark, SF0001)
    build_index(spark, corpus, idx, n_splits=3, n_buckets=8,
                tokenizer="simple", salt_threshold=50, n_salts=4,
                positions=True)
    return idx


@pytest.fixture(scope="session")
def pos_pdf(spark, pos_index):
    corpus = documents_as_corpus(spark, SF0001)
    return docs_with_text(spark, pos_index, corpus).toPandas()


@pytest.fixture(scope="session")
def code_corpus(spark):
    return corpus_df(spark, CORPUS_SMALL_N, n_partitions=8)


@pytest.fixture(scope="session")
def code_index(spark, code_corpus, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("code_index"))
    build_index(spark, code_corpus, idx, n_splits=3, n_buckets=16,
                tokenizer="code", salt_threshold=200, n_salts=4,
                source_desc=f"synthetic corpus n={CORPUS_SMALL_N}")
    return idx


def docs_with_text(spark, index_dir, corpus):
    """Docs table in the index's id space, with text joined back."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{index_dir}/docs")
    return docs.join(corpus, ["repo", "path", "commit"]).select(
        "doc_id", F.col("content").alias("text")
    )


@pytest.fixture()
def arrow_reads(monkeypatch):
    """Every path the driver hands to ``pyarrow.parquet.read_table``
    while the test runs (the driver-side dict and postings reads). The
    process-wide term-rows cache is emptied first, so the test's first
    query of a term reads it whatever earlier tests queried."""
    import pyarrow.parquet as pq

    from datastream_io_spark.operators import postings_cache

    postings_cache.clear()
    seen: list[str] = []
    real = pq.read_table

    def spy(source, *args, **kwargs):
        seen.append(str(source))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy)
    return seen


@contextlib.contextmanager
def py4j_calls(spark):
    """Every py4j round trip (one gateway ``send_command``, from any
    thread) made while the block runs, as the list of commands sent:
    ``with py4j_calls(spark) as sent: ...; assert sent == []``. Memory
    deletes are left out: py4j's finalizer thread sends them whenever
    it gets to proxies that died earlier, and code that made a proxy
    has already made a call to get it."""
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    sent: list[str] = []
    real = client.send_command
    delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counted(command, *args, **kwargs):
        if not command.startswith(delete):
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield sent
    finally:
        del client.send_command


def bucket_dirs(index_dir, terms, sub="postings"):
    """The ``<sub>/term_bucket=K`` directories holding ``terms``."""
    import json
    import os

    from datastream_io_spark.functions.xxhash import term_bucket

    with open(os.path.join(index_dir, "stats.json")) as f:
        n_buckets = int(json.load(f)["n_buckets"])
    return {os.path.join(index_dir, sub,
                         f"term_bucket={term_bucket(t, n_buckets)}")
            for t in terms}


def reads_under(paths, index_dir, sub="postings"):
    """The subset of recorded read paths under ``index_dir/<sub>``."""
    import os

    root = os.path.join(index_dir, sub) + os.sep
    return {p for p in paths if p.startswith(root)}
