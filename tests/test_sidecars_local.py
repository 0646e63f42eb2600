"""Expansion sidecars written in-process. A dictionary placed on the
driver gets its ``dict_sorted/`` and ``dict_ngrams/`` from pyarrow and
numpy, with no Spark job; a dictionary past the gate keeps the Spark
builder. Both writers must give the same schemas and rows, both must
read as fresh, and the in-process files must keep the Spark layout:
term-ordered range files, and ``gram_bucket=K`` directories sorted by
(gram, term)."""

import glob
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datastream_io_spark.operators import dictindex as DI
from datastream_io_spark.operators import indexed_search as IX
from datastream_io_spark.session import get_spark
from tests.conftest import spark_placed

SUBS = ("dict_sorted", "dict_ngrams")

# non-ASCII (2-, 3- and 4-byte UTF-8), repeated grams, and terms under
# three characters, which have no gram
ODD_TERMS = ["naïve", "İstanbul", "i̇stanbul", "東京都庁舎", "東京",
             "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "a𝔘b", "abcabcabc", "abcabcabd", "aaaa", "ab",
             "a", "é", "ünïcödé", "zzzzzzzzz", "mixed_東_ascii", "ÿÿÿÿ"]


def _odd_index(path: str, n_buckets: int = 4) -> str:
    """An index directory holding only a dictionary of ``ODD_TERMS``
    (what the sidecar build reads), laid out like a build's."""
    from datastream_io_spark.functions.bm25 import idf_py
    from datastream_io_spark.functions.xxhash import term_bucket

    os.makedirs(path)
    by_bucket: dict = {}
    for i, t in enumerate(sorted(ODD_TERMS)):
        by_bucket.setdefault(term_bucket(t, n_buckets), []).append(
            (t, i + 1))
    for b, rows in by_bucket.items():
        d = os.path.join(path, "dict", f"term_bucket={b}")
        os.makedirs(d)
        pq.write_table(pa.table({
            "term": pa.array([t for t, _ in rows], pa.string()),
            "df": pa.array([n for _, n in rows], pa.int64()),
            "cf": pa.array([2 * n for _, n in rows], pa.int64()),
            "idf": pa.array([idf_py(n, 40) for _, n in rows], pa.float64()),
        }), os.path.join(d, "part-00000.parquet"))
    with open(os.path.join(path, "_INDEX_SUCCESS"), "w") as f:
        json.dump({"n_terms": len(ODD_TERMS)}, f)
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump({"n_docs": 40, "avgdl": 3.5}, f)
    return path


def _check_local_layout(idx: str) -> None:
    """The in-process files: range files in term order, and one file
    per gram bucket sorted by (gram, term) in binary order."""
    files = sorted(glob.glob(os.path.join(idx, "dict_sorted", "*.parquet")))
    terms = [t for f in files
             for t in pq.read_table(f).column("term").to_pylist()]
    assert terms == sorted(terms, key=str.encode)
    for d in glob.glob(os.path.join(idx, "dict_ngrams", "gram_bucket=*")):
        (f,) = glob.glob(os.path.join(d, "*.parquet"))
        t = pq.read_table(f)
        keys = [(g.encode(), w.encode()) for g, w in zip(
            t.column("gram").to_pylist(), t.column("term").to_pylist())]
        assert keys == sorted(keys)


def _assert_parity(spark, idx: str, tmp_path) -> None:
    """Sidecars of ``idx`` built in-process equal a Spark-built copy's."""
    other = str(tmp_path / "spark_built")
    shutil.copytree(idx, other)
    local_meta = DI.build_term_sidecars(spark, idx)
    with spark_placed():
        spark_meta = DI.build_term_sidecars(spark, other)
    assert local_meta == spark_meta
    _check_local_layout(idx)
    for sub in SUBS:
        assert DI._sidecar_fresh(idx, sub) and DI._sidecar_fresh(other, sub)
        a = spark.read.parquet(os.path.join(idx, sub))
        b = spark.read.parquet(os.path.join(other, sub))
        assert a.schema == b.schema, sub
        assert a.count() == b.count() > 0, sub
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), sub
    with open(os.path.join(idx, "dict_ngrams", "_META.json")) as f:
        local = json.load(f)
    with open(os.path.join(other, "dict_ngrams", "_META.json")) as f:
        assert json.load(f) == local


@pytest.mark.parametrize("fixture", ["code_index", "doc_index"])
def test_local_sidecars_equal_spark_built(spark, fixture, request,
                                          tmp_path):
    """code and ``simple`` tokenizer indexes."""
    idx = str(tmp_path / "local_built")
    shutil.copytree(request.getfixturevalue(fixture), idx)
    _assert_parity(spark, idx, tmp_path)


def test_local_sidecars_equal_spark_built_on_odd_terms(spark, tmp_path):
    """Non-ASCII terms (code points, not bytes, as Spark's ``length``
    and ``substring`` count them), repeated-gram terms and terms too
    short for a gram."""
    idx = _odd_index(str(tmp_path / "odd"))
    _assert_parity(spark, idx, tmp_path)
    g = {(r["term"], r["gram"], r["occ"]): r["term_len"] for r in
         pq.read_table(os.path.join(idx, "dict_ngrams")).to_pylist()}
    assert g[("東京都庁舎", "都庁舎", 0)] == 5
    assert g[("𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "𝔠𝔬𝔡", 0)] == 7
    assert {k[2] for k in g if k[:2] == ("abcabcabc", "abc")} == {0, 1, 2}
    assert {k[2] for k in g if k[:2] == ("aaaa", "aaa")} == {0, 1}
    assert not {t for t, _, _ in g} & {"ab", "a", "é", "東京"}


def test_local_sidecars_rerun_and_crash_repair(spark, tmp_path):
    """A re-run over existing sidecars, and a run after a crash that
    left a half-written ``_tmp`` and a sidecar renamed aside but not
    swapped back, both end with fresh sidecars holding the same
    rows."""
    idx = _odd_index(str(tmp_path / "odd"))
    DI.build_term_sidecars(spark, idx)
    want = {sub: pq.read_table(os.path.join(idx, sub)).sort_by(
        [("term", "ascending")] + ([("gram", "ascending"),
                                    ("occ", "ascending")]
                                   if sub == "dict_ngrams" else []))
        for sub in SUBS}
    DI.build_term_sidecars(spark, idx)
    for sub in SUBS:
        path = os.path.join(idx, sub)
        os.replace(path, path + "_old")  # swap_in's rename-aside, then
        os.makedirs(path + "_tmp")       # a crash mid-write of the next
        open(os.path.join(path + "_tmp", "junk.parquet"), "w").close()
    DI.build_term_sidecars(spark, idx)
    for sub in SUBS:
        path = os.path.join(idx, sub)
        assert DI._sidecar_fresh(idx, sub)
        assert not os.path.exists(path + "_old")
        assert not os.path.exists(path + "_tmp")
        assert pq.read_table(path).sort_by(
            [(c, "ascending") for c in want[sub].column_names
             if c in ("term", "gram", "occ")]).equals(want[sub])


def test_small_dictionary_sidecars_and_session_run_no_job(spark, tmp_path):
    """The sidecars of a driver-placed dictionary and a ``get_spark`` on
    a running session launch no Spark job."""
    idx = str(tmp_path / "local_built")
    shutil.copytree(_odd_index(str(tmp_path / "odd")), idx)
    assert IX._dict_on_driver(idx)
    sc = spark.sparkContext
    sc.setJobGroup("local_sidecars", "in-process sidecars")
    try:
        DI.build_term_sidecars(spark, idx)
        assert get_spark("tests", cores=8, shuffle_partitions=8) is spark
    finally:
        sc.setJobGroup(None, None)
    time.sleep(0.5)  # let the listener bus deliver any job start
    assert list(sc.statusTracker().getJobIdsForGroup(
        "local_sidecars")) == []
    assert all(DI._sidecar_fresh(idx, sub) for sub in SUBS)


def test_vocabulary_reads_fresh_sorted_sidecar_in_file_order(
        spark, tmp_path, monkeypatch):
    """With a fresh ``dict_sorted/`` the vocabulary is read from it in
    file order, with no sort, and equals the sorted ``dict/`` read; a
    stale or out-of-order sidecar falls back to the sort."""
    idx = _odd_index(str(tmp_path / "odd"))
    cols = ["term", "df", "idf", "term_bucket"]
    assert IX._sorted_sidecar(idx, cols) is None  # none built yet
    sorted_read = IX._Vocab.read(idx)
    DI.build_term_sidecars(spark, idx, n_range_parts=3)
    assert IX._sorted_sidecar(idx, cols) is not None

    sorts = []  # the fallback's dict/ read, which it then sorts
    real = IX._dict_dataset
    monkeypatch.setattr(IX, "_dict_dataset",
                        lambda d: (sorts.append(d), real(d))[1])
    v = IX._Vocab.read(idx)
    assert sorts == []
    for field in ("terms", "df", "idf", "bucket", "by_len", "lens"):
        assert np.array_equal(getattr(v, field),
                              getattr(sorted_read, field)), field

    # range files listed out of term order: detected, sorted instead
    files = sorted(glob.glob(os.path.join(idx, "dict_sorted", "*.parquet")))
    os.replace(files[0], os.path.join(idx, "dict_sorted",
                                      "part-99999.zstd.parquet"))
    assert IX._sorted_sidecar(idx, cols) is None
    assert np.array_equal(IX._Vocab.read(idx).terms, sorted_read.terms)
    assert len(sorts) == 1
