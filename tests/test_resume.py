"""C6 kill-resume test (SURVEY.md §5.2): build k of n segments, 'crash',
resume → final index identical to an uninterrupted build; already-done
segments are not rebuilt."""

import os

import pytest
from pyspark.sql import functions as F

from datastream_io_spark.operators.build import build_index
from datastream_io_spark.sources.manifest import done_splits, pending_splits
from datastream_io_spark.sources.scan import documents_as_corpus
from tests.conftest import SF0001

# these tests pin the DISTRIBUTED build (Spark phases, their resume,
# parallelism invariance, fleets); the in-process gate would otherwise
# move their small corpora to the driver
pytestmark = pytest.mark.usefixtures("distributed_build")


def _index_fingerprint(spark, index_dir):
    post = spark.read.parquet(f"{index_dir}/postings")
    rows = post.select(
        "term", "split_id", "df", "cf", "first_doc_id", "last_doc_id",
        F.md5(F.to_json("blocks")).alias("blocks_md5"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_kill_and_resume(spark, tmp_path):
    corpus = documents_as_corpus(spark, SF0001)
    broken = str(tmp_path / "broken")
    clean = str(tmp_path / "clean")

    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, broken, n_splits=4, n_buckets=4,
                    tokenizer="simple", fail_after_splits=2,
                    max_concurrent_splits=1)
    assert len(done_splits(broken)) == 2
    assert pending_splits(broken, 4) != []
    assert not os.path.exists(os.path.join(broken, "_INDEX_SUCCESS"))

    # record staged-tf mtimes: resume must NOT rebuild completed splits
    done_before = sorted(done_splits(broken))
    mtimes = {
        s: os.path.getmtime(os.path.join(broken, "segments", f"split_{s:04d}"))
        for s in done_before
    }

    build_index(spark, corpus, broken, n_splits=4, n_buckets=4,
                tokenizer="simple")  # resume
    assert done_splits(broken) == {0, 1, 2, 3}
    for s in done_before:
        assert os.path.getmtime(
            os.path.join(broken, "segments", f"split_{s:04d}")) == mtimes[s]

    build_index(spark, corpus, clean, n_splits=4, n_buckets=4,
                tokenizer="simple")
    assert _index_fingerprint(spark, broken) == _index_fingerprint(spark, clean)


def test_rerun_is_noop_for_segments(spark, tmp_path):
    corpus = documents_as_corpus(spark, SF0001)
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, n_splits=2, n_buckets=4, tokenizer="simple")
    before = _index_fingerprint(spark, idx)
    mtimes = {
        s: os.path.getmtime(os.path.join(idx, "segments", f"split_{s:04d}"))
        for s in range(2)
    }
    build_index(spark, corpus, idx, n_splits=2, n_buckets=4, tokenizer="simple")
    for s in range(2):
        assert os.path.getmtime(
            os.path.join(idx, "segments", f"split_{s:04d}")) == mtimes[s]
    assert _index_fingerprint(spark, idx) == before


def test_kill_and_resume_positional(spark, tmp_path):
    """C6 with positions=True: resume must pass the frozen-settings
    guard and produce an index byte-identical to an uninterrupted
    positional build (position streams included in the fingerprint)."""
    corpus = documents_as_corpus(spark, SF0001)
    broken = str(tmp_path / "broken_pos")
    clean = str(tmp_path / "clean_pos")

    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, broken, n_splits=3, n_buckets=4,
                    tokenizer="simple", positions=True,
                    fail_after_splits=1, max_concurrent_splits=1)
    assert len(done_splits(broken)) == 1

    # resume MUST repeat the same positions setting (guard test)
    with pytest.raises(ValueError, match="staged with"):
        build_index(spark, corpus, broken, n_splits=3, n_buckets=4,
                    tokenizer="simple", positions=False)
    build_index(spark, corpus, broken, n_splits=3, n_buckets=4,
                tokenizer="simple", positions=True)
    build_index(spark, corpus, clean, n_splits=3, n_buckets=4,
                tokenizer="simple", positions=True)
    assert _index_fingerprint(spark, broken) == _index_fingerprint(spark, clean)

    # and the resumed index answers phrase queries
    from datastream_io_spark.operators.indexed_search import search_indexed
    assert search_indexed(spark, broken, "window agg", 5, "phrase").count() > 0
