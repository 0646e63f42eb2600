"""The in-process build of small corpora: under
``DRIVER_BUILD_MAX_DOCS`` rows and ``DRIVER_BUILD_MAX_BYTES`` of content
build_index stages, segments and finalizes on the driver. A plain scan
of parquet files is read with pyarrow in ZERO Spark jobs; any other
corpus is collected in two (size probe, rows). The index it writes must
equal the distributed build's (gate forced to 0): decoded postings per
(term, split_id), df/cf, dict, docs, stats.json, staging and per-split
manifest metrics. Raw blocks and ``compressed_bytes`` may differ only
where a Spark encode task cut a run at an Arrow batch boundary.
Kill-resume must cross the two paths freely."""

import hashlib
import json
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datastream_io_spark.corpus import corpus_df
from datastream_io_spark.operators import build as B
from datastream_io_spark.operators.codec import (
    decode_block_dls,
    decode_block_positions,
    decode_blocks,
)
from datastream_io_spark.sources.scan import (
    CORPUS_COLS,
    documents_as_corpus,
    scan_corpus,
)
from tests.conftest import SF0001

GATE = B.DRIVER_BUILD_MAX_DOCS
GATE_BYTES = B.DRIVER_BUILD_MAX_BYTES


def _build(spark, monkeypatch, corpus, idx, gate, max_bytes=GATE_BYTES,
           **kw):
    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_DOCS", gate)
    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_BYTES", max_bytes)
    return B.build_index(spark, corpus, idx, **kw)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count assertion")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _json(idx, name):
    with open(os.path.join(idx, name)) as f:
        return json.load(f)


def _postings(idx):
    """(term, split_id) → (df, cf, first, last, blocks, decoded)."""
    out = {}
    for r in pq.read_table(os.path.join(idx, "postings")).to_pylist():
        ids, tfs = decode_blocks(r["blocks"])
        dls = np.concatenate([decode_block_dls(b) for b in r["blocks"]])
        pos = (np.concatenate([decode_block_positions(b)
                               for b in r["blocks"]]).tolist()
               if r["blocks"][0]["poss"] is not None else None)
        out[(r["term"], r["split_id"])] = (
            r["df"], r["cf"], r["first_doc_id"], r["last_doc_id"],
            r["blocks"], (ids.tolist(), tfs.tolist(), dls.tolist(), pos))
    return out


def _table(idx, sub, key):
    t = pq.read_table(os.path.join(idx, sub)).to_pandas()
    part = "term_bucket" if sub == "dict" else "split_id"
    t[part] = t[part].astype(int)  # hive partition column: categorical
    return t.sort_values(key).reset_index(drop=True)


def _cut_runs(idx, n_splits):
    """(split, term) pairs whose runs the distributed encoder cut at an
    Arrow batch boundary: one (term, salt) key in several segment rows."""
    cut = set()
    for s in range(n_splits):
        d = os.path.join(idx, "segments", f"split_{s:04d}")
        if os.path.isdir(d):
            seg = pq.read_table(d, columns=["term", "salt"]).to_pylist()
            n = Counter((r["term"], r["salt"]) for r in seg)
            cut |= {(s, t) for (t, _), c in n.items() if c > 1}
    return cut


def _assert_same_index(drv, dist):
    """Driver-built ``drv`` equals distributed-built ``dist``."""
    for name in ("stats.json", "staging.json"):
        assert _json(drv, name) == _json(dist, name), name
    stats = _json(dist, "stats.json")
    n_splits = stats["n_splits"]
    cut = _cut_runs(dist, n_splits)
    for s in range(n_splits):
        a = _json(drv, f"manifest/split_{s:04d}.json")
        b = _json(dist, f"manifest/split_{s:04d}.json")
        if any(cs == s for cs, _ in cut):
            a.pop("compressed_bytes"), b.pop("compressed_bytes")
        assert a == b, s
    pa_, pb = _postings(drv), _postings(dist)
    assert pa_.keys() == pb.keys() and pa_
    for key in pb:
        a, b = pa_[key], pb[key]
        assert a[:4] == b[:4] and a[5] == b[5], key
        if (key[1], key[0]) not in cut:
            assert a[4] == b[4], key  # byte-identical blocks
    cols = ["term", "df", "cf", "idf", "term_bucket"]
    assert _table(drv, "dict", "term")[cols].equals(
        _table(dist, "dict", "term")[cols])
    da, db = _table(drv, "docs", "doc_id"), _table(dist, "docs", "doc_id")
    assert da.equals(db[list(da.columns)]) and set(da) == set(db)
    ma, mb = _json(drv, "manifest/merge.json"), _json(dist,
                                                     "manifest/merge.json")
    for m in (ma, mb):
        m.pop("phase_sec")
        if cut:
            m.pop("compressed_bytes")
    assert ma == mb


def _crafted_corpus(spark):
    """Duplicate keys whose copies differ in content or only in lang,
    empty and token-less docs, a null content, repeated hot terms."""
    rows = []
    for i in range(60):
        rows.append(("r1", f"p{i}", "c", "py",
                     f"alpha beta hot hot tok{i % 9} word{i}"))
    rows += [
        ("r1", "p1", "c", "py", "a different body entirely"),
        ("r1", "p2", "c", "zz", "alpha beta hot hot tok2 word2"),
        ("r1", "p2", "c", "c", "alpha beta hot hot tok2 word2"),
        ("r2", "empty", "c", "py", ""),
        ("r2", "punct", "c", "py", "... ;; !!"),
        ("r2", "null", "c", "py", None),
    ]
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                      "content"])
    return spark.createDataFrame(
        pdf, "repo string, path string, commit string, lang string, "
             "content string").repartition(3)


CASES = {
    "documents": (lambda sp: documents_as_corpus(sp, SF0001),
                  dict(n_splits=3, n_buckets=8, tokenizer="simple",
                       salt_threshold=50, n_salts=4)),
    "documents_positional": (lambda sp: documents_as_corpus(sp, SF0001),
                             dict(n_splits=3, n_buckets=8,
                                  tokenizer="simple", salt_threshold=50,
                                  n_salts=4, positions=True)),
    "code_positional": (lambda sp: corpus_df(sp, 300, n_partitions=4),
                        dict(n_splits=2, n_buckets=4, tokenizer="code",
                             salt_threshold=20, n_salts=4,
                             positions=True)),
    "crafted_store": (_crafted_corpus,
                      dict(n_splits=2, n_buckets=4, tokenizer="simple",
                           salt_threshold=5, n_salts=3,
                           store_content=True)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_build_equals_distributed(spark, tmp_path, monkeypatch,
                                         case):
    make, kw = CASES[case]
    corpus = make(spark)
    drv, dist = str(tmp_path / "drv"), str(tmp_path / "dist")
    jobs = _jobs(spark, f"drv_{case}", lambda: _build(
        spark, monkeypatch, corpus, drv, GATE, **kw))
    assert len(jobs) == 2  # size probe + corpus collect; all else local
    _build(spark, monkeypatch, corpus, dist, 0, **kw)
    assert not os.path.exists(os.path.join(drv, "staged_corpus",
                                           "_SUCCESS"))  # no Spark write
    _assert_same_index(drv, dist)
    # salting ran on both paths: some in-split hot term has salt > 0
    for idx in (drv, dist):
        salts = pq.read_table(os.path.join(idx, "segments"),
                              columns=["salt"]).column("salt")
        assert max(salts.to_pylist()) > 0, idx
    if case == "crafted_store":
        docs = _table(drv, "docs", "doc_id")
        assert len(docs) == 63  # 66 rows, 3 duplicate keys
        assert (docs.loc[docs.path.isin(["empty", "punct", "null"]),
                         "dl"] == 0).all()
        # survivors: max content_sha256, then max lang
        by_path = docs.set_index("path")
        p1 = max(["alpha beta hot hot tok1 word1",
                  "a different body entirely"],
                 key=lambda c: hashlib.sha256(c.encode()).hexdigest())
        assert by_path.loc["p1", "content"] == p1
        assert by_path.loc["p2", "lang"] == "zz"


def test_gate_boundary_and_distributed_fallbacks(spark, tmp_path,
                                                 monkeypatch):
    """At exactly the gate the build runs two Spark jobs (probe,
    collect); one row over it, with bucket_layout=True, or with a
    source-supplied split_id column, the distributed phases run (many
    jobs) — to the same index."""
    corpus = _crafted_corpus(spark)
    n = corpus.count()
    kw = dict(n_splits=2, n_buckets=4, tokenizer="simple")
    ref = str(tmp_path / "ref")
    assert len(_jobs(spark, "at_gate", lambda: _build(
        spark, monkeypatch, corpus, ref, n, **kw))) == 2
    over = str(tmp_path / "over")
    assert len(_jobs(spark, "over_gate", lambda: _build(
        spark, monkeypatch, corpus, over, n - 1, **kw))) > 3
    _assert_same_index(ref, over)
    fleet = str(tmp_path / "fleet")
    assert len(_jobs(spark, "bucket_layout", lambda: _build(
        spark, monkeypatch, corpus, fleet, GATE, bucket_layout=True,
        **kw))) > 3
    assert any(e.startswith("term_bucket=") for e in os.listdir(
        os.path.join(fleet, "segments", "split_0000")))
    sourced = corpus.withColumn("split_id", B._doc_key_split(2))
    src = str(tmp_path / "src_split")
    assert len(_jobs(spark, "source_split", lambda: _build(
        spark, monkeypatch, sourced, src, GATE, **kw))) > 3
    for idx in (fleet, src):
        _assert_same_index(ref, idx)


@pytest.mark.parametrize("kill_gate,resume_gate", [(GATE, 0), (0, GATE)])
def test_kill_resume_crosses_paths(spark, tmp_path, monkeypatch,
                                   kill_gate, resume_gate):
    """A build killed after one split on one path resumes on the other
    (reading the other path's staged corpus and segments) to the index
    an uninterrupted build writes; the done split is not rebuilt."""
    corpus = documents_as_corpus(spark, SF0001)
    kw = dict(n_splits=3, n_buckets=4, tokenizer="simple", positions=True,
              salt_threshold=50, n_salts=4)
    broken, clean = str(tmp_path / "broken"), str(tmp_path / "clean")
    with pytest.raises(RuntimeError, match="injected failure"):
        _build(spark, monkeypatch, corpus, broken, kill_gate,
               fail_after_splits=1, max_concurrent_splits=1, **kw)
    seg0 = os.path.join(broken, "segments", "split_0000")
    mtime = os.path.getmtime(seg0)
    _build(spark, monkeypatch, corpus, broken, resume_gate, **kw)
    assert os.path.getmtime(seg0) == mtime
    _build(spark, monkeypatch, corpus, clean, GATE, **kw)
    # clean is driver-built: compare it against the resumed index,
    # whose cut runs (if any) come from the distributed segments
    _assert_same_index(clean, broken)


def test_resume_of_finished_driver_build_runs_no_job(spark, tmp_path,
                                                     monkeypatch):
    """Re-invoking a finished small build resumes from staging.json: no
    corpus collect, no segment rebuild, the same index."""
    corpus = _crafted_corpus(spark)
    idx = str(tmp_path / "idx")
    kw = dict(n_splits=2, n_buckets=4, tokenizer="simple")
    _build(spark, monkeypatch, corpus, idx, GATE, **kw)
    before = _postings(idx)
    seg0 = os.path.join(idx, "segments", "split_0000")
    mtime = os.path.getmtime(seg0)
    assert _jobs(spark, "rerun", lambda: _build(
        spark, monkeypatch, corpus, idx, GATE, **kw)) == []
    assert os.path.getmtime(seg0) == mtime
    assert _postings(idx).keys() == before.keys()


def test_content_bytes_over_cap_build_distributed(spark, tmp_path,
                                                  monkeypatch):
    """The row gate alone would pull up to DRIVER_BUILD_MAX_DOCS docs of
    any size into one task result: a few large docs put the corpus over
    the byte cap, so the probe sends it to the distributed phases (to
    the same index), and a resume of its staging stays there too."""
    base = _crafted_corpus(spark)
    big = spark.createDataFrame(
        [("r3", f"big{i}", "c", "py", " ".join([f"bulk{i} alpha"] * 20000))
         for i in range(3)],
        "repo string, path string, commit string, lang string, "
        "content string")
    corpus = base.unionByName(big)
    n_bytes = corpus.selectExpr("sum(octet_length(content))").first()[0]
    cap = n_bytes // 2  # every row fits the row gate, the bytes do not
    kw = dict(n_splits=2, n_buckets=4, tokenizer="simple")
    ref = str(tmp_path / "ref")
    assert len(_jobs(spark, "bytes_fit", lambda: _build(
        spark, monkeypatch, corpus, ref, GATE, max_bytes=n_bytes,
        **kw))) == 2
    over = str(tmp_path / "over")
    assert len(_jobs(spark, "bytes_over", lambda: _build(
        spark, monkeypatch, corpus, over, GATE, max_bytes=cap,
        **kw))) > 3
    assert os.path.exists(os.path.join(over, "staged_corpus", "_SUCCESS"))
    _assert_same_index(ref, over)
    # a staging frozen by the distributed stage resumes distributed
    # while its content is over the cap: segment and finalize jobs run
    broken = str(tmp_path / "broken")
    with pytest.raises(RuntimeError, match="injected failure"):
        _build(spark, monkeypatch, corpus, broken, 0, fail_after_splits=1,
               max_concurrent_splits=1, **kw)
    assert len(_jobs(spark, "resume_over", lambda: _build(
        spark, monkeypatch, corpus, broken, GATE, max_bytes=cap,
        **kw))) > 1
    _assert_same_index(ref, broken)


def _to_parquet(spark, corpus, path):
    """``corpus`` as a parquet table whose column order differs from
    CORPUS_COLS, so ``scan_corpus``'s select is a real projection."""
    corpus.select(*reversed(CORPUS_COLS)).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("case", sorted(CASES))
def test_parquet_corpus_builds_with_no_spark_job(spark, tmp_path,
                                                 monkeypatch, case):
    """A plain parquet scan, bare or through ``scan_corpus``, is read
    with pyarrow: the whole build runs no Spark job, and writes the
    index the distributed build writes (split ids from the chained
    Python xxhash64, sha256 from hashlib, null content included)."""
    make, kw = CASES[case]
    src = str(tmp_path / "src")
    bare = _to_parquet(spark, make(spark), src)
    dist = str(tmp_path / "dist")
    _build(spark, monkeypatch, bare, dist, 0, **kw)
    for name, corpus in (("bare", bare),
                         ("scan", scan_corpus(spark, src))):
        drv = str(tmp_path / name)
        assert _jobs(spark, f"pq_{case}_{name}", lambda: _build(
            spark, monkeypatch, corpus, drv, GATE, **kw)) == []
        _assert_same_index(drv, dist)


def _not_plain_sources(spark, tmp_path):
    """Corpora that must keep the two-job Spark collect, by name."""
    base = _crafted_corpus(spark)
    src = str(tmp_path / "plain")
    pq_corpus = _to_parquet(spark, base, src)
    hive = str(tmp_path / "hive")  # files carry all five columns too
    base.withColumn("part", F.col("lang")).write.partitionBy("part"
                                                            ).parquet(hive)
    typed = str(tmp_path / "typed")  # commit a long, 0 for p0
    base.withColumn("commit", (F.length("path") - 2).cast("long")
                    ).write.parquet(typed)
    sparse = str(tmp_path / "sparse")  # files without the lang column
    base.drop("lang").write.parquet(sparse)
    full_schema = ", ".join(f"{c} string" for c in CORPUS_COLS)
    other_scheme = spark.read.parquet(src)
    # a filesystem pyarrow cannot open: Spark still reads the files
    other_scheme.inputFiles = lambda: ["s3a://bucket/corpus.parquet"]
    return {
        "createDataFrame": base,
        "where": pq_corpus.where(F.col("path") != "p7"),
        "union": pq_corpus.where(F.col("repo") == "r1").unionByName(
            pq_corpus.where(F.col("repo") != "r1")),
        "hive_partitioned": spark.read.parquet(hive),
        "renamed": pq_corpus.withColumnRenamed("lang", "l")
                            .withColumnRenamed("l", "lang"),
        "non_string": spark.read.parquet(typed),
        "missing_column": spark.read.schema(full_schema).parquet(sparse),
        "unknown_scheme": other_scheme,
    }


def test_other_sources_keep_two_job_collect(spark, tmp_path, monkeypatch):
    """Every corpus that is not a plain parquet scan of the five string
    columns (in-memory frame, filter, union, partition column, a
    projection that computes a column, a non-string or absent file
    column, a filesystem pyarrow cannot open) runs exactly the two
    Spark jobs, to the index the distributed build writes."""
    kw = dict(n_splits=2, n_buckets=4, tokenizer="simple")
    sources = _not_plain_sources(spark, tmp_path)
    # DSv2: with parquet off the V1 list the read is a
    # DataSourceV2Relation
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        sources["dsv2"] = spark.read.parquet(str(tmp_path / "plain"))
    finally:
        spark.conf.unset("spark.sql.sources.useV1SourceList")
    for name, corpus in sources.items():
        drv, dist = str(tmp_path / f"{name}_drv"), str(tmp_path / name)
        assert len(_jobs(spark, f"two_{name}", lambda: _build(
            spark, monkeypatch, corpus, drv, GATE, **kw))) == 2, name
        _build(spark, monkeypatch, corpus, dist, 0, **kw)
        _assert_same_index(drv, dist)


def test_over_gate_parquet_corpus_builds_distributed(spark, tmp_path,
                                                     monkeypatch):
    """A parquet corpus one row over the gate (footer row counts) or
    over the byte cap builds with the distributed phases and runs no
    probe job: exactly the jobs of a build with the gate off, to the
    same index."""
    corpus = _to_parquet(spark, _crafted_corpus(spark),
                         str(tmp_path / "src"))
    n = corpus.count()
    n_bytes = corpus.selectExpr("sum(octet_length(content))").first()[0]
    kw = dict(n_splits=2, n_buckets=4, tokenizer="simple")
    ref = str(tmp_path / "ref")
    assert _jobs(spark, "pq_at_gate", lambda: _build(
        spark, monkeypatch, corpus, ref, n, max_bytes=n_bytes,
        **kw)) == []
    off = len(_jobs(spark, "pq_gate_off", lambda: _build(
        spark, monkeypatch, corpus, str(tmp_path / "off"), 0, **kw)))
    for name, gate, cap in (("rows", n - 1, n_bytes),
                            ("bytes", n, n_bytes - 1)):
        over = str(tmp_path / name)
        jobs = _jobs(spark, f"pq_over_{name}", lambda: _build(
            spark, monkeypatch, corpus, over, gate, max_bytes=cap, **kw))
        assert len(jobs) == off > 3, name
        assert os.path.exists(os.path.join(over, "staged_corpus",
                                           "_SUCCESS"))
        _assert_same_index(ref, over)


@pytest.mark.parametrize("kill_gate,resume_gate", [(GATE, 0), (0, GATE)])
def test_parquet_kill_resume_crosses_paths(spark, tmp_path, monkeypatch,
                                           kill_gate, resume_gate):
    """A parquet-sourced build killed after one split on either path
    resumes on the other to the uninterrupted build's index, without
    rebuilding the done split."""
    corpus = _to_parquet(spark, documents_as_corpus(spark, SF0001),
                         str(tmp_path / "src"))
    kw = dict(n_splits=3, n_buckets=4, tokenizer="simple", positions=True,
              salt_threshold=50, n_salts=4)
    broken, clean = str(tmp_path / "broken"), str(tmp_path / "clean")
    with pytest.raises(RuntimeError, match="injected failure"):
        _build(spark, monkeypatch, corpus, broken, kill_gate,
               fail_after_splits=1, max_concurrent_splits=1, **kw)
    seg0 = os.path.join(broken, "segments", "split_0000")
    mtime = os.path.getmtime(seg0)
    _build(spark, monkeypatch, corpus, broken, resume_gate, **kw)
    assert os.path.getmtime(seg0) == mtime
    assert _jobs(spark, "pq_clean", lambda: _build(
        spark, monkeypatch, corpus, clean, GATE, **kw)) == []
    _assert_same_index(clean, broken)
