"""Index-build invariants (SURVEY.md §5.2 test_build):
Σ postings == distinct (term, doc) pairs; df == posting-list length;
manifest metrics match a recount; sha256 invariant; salted build equals
unsalted build (C4 self-oracle); doc ids dense + deterministic."""

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from datastream_io_spark.operators import postings as P
from datastream_io_spark.operators.build import build_index, read_stats
from datastream_io_spark.operators.codec import decode_blocks
from datastream_io_spark.sources.manifest import done_splits, read_split_manifest
from datastream_io_spark.sources.scan import documents_as_corpus
from tests.conftest import SF0001, docs_with_text


def _explode_index(spark, index_dir):
    """Decode the whole index back to (term, doc_id, tf) rows via pandas."""
    rows = spark.read.parquet(f"{index_dir}/postings").collect()
    out = []
    for r in rows:
        ids, tfs = decode_blocks([b.asDict() for b in r.blocks])
        for d, t in zip(ids, tfs):
            out.append((r.term, int(d), int(t)))
    return pd.DataFrame(out, columns=["term", "doc_id", "tf"])


def test_index_equals_plain_tf(spark, doc_index):
    corpus = documents_as_corpus(spark, SF0001)
    docs_text = docs_with_text(spark, doc_index, corpus)
    tok = P.with_tokens(docs_text, "text", "simple", use_udf=False)
    plain = P.term_freq(P.doc_terms(tok)).toPandas()
    decoded = _explode_index(spark, doc_index)
    a = plain.sort_values(["term", "doc_id"]).reset_index(drop=True)
    b = decoded.sort_values(["term", "doc_id"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["term"].values == b["term"].values).all()
    assert (a["doc_id"].values == b["doc_id"].values).all()
    assert (a["tf"].values == b["tf"].values).all()


def test_df_matches_posting_lengths(spark, doc_index):
    post = spark.read.parquet(f"{doc_index}/postings")
    bad = post.where(
        F.col("df") != F.aggregate("blocks", F.lit(0).cast("long"),
                                   lambda acc, b: acc + b["n"])
    ).count()
    assert bad == 0
    # dict df == sum of per-split dfs
    dict_df = spark.read.parquet(f"{doc_index}/dict").groupBy().agg(
        F.sum("df")).collect()[0][0]
    post_df = post.groupBy().agg(F.sum("df")).collect()[0][0]
    assert dict_df == post_df


def test_manifest_metrics_match_recount(spark, doc_index):
    stats = read_stats(doc_index)
    assert done_splits(doc_index) == set(range(stats["n_splits"]))
    seg_totals = (
        spark.read.parquet(f"{doc_index}/postings")
        .groupBy("split_id")
        .agg(F.sum("df").alias("n_postings"),
             F.countDistinct("term").alias("n_terms"),
             F.sum("cf").alias("cf"))
        .collect()
    )
    for r in seg_totals:
        m = read_split_manifest(doc_index, int(r.split_id))
        assert m["status"] == "done"
        assert m["n_postings"] == r.n_postings
        assert m["n_terms"] == r.n_terms
        assert m["cf"] == r.cf
    n_docs = sum(read_split_manifest(doc_index, int(r.split_id))["n_docs"]
                 for r in seg_totals)
    assert n_docs == stats["n_docs"]
    # global merge metrics: compressed bytes recount
    import json
    with open(f"{doc_index}/manifest/merge.json") as f:
        merge = json.load(f)
    from datastream_io_spark.operators.build import blocks_bytes_col

    recount = spark.read.parquet(f"{doc_index}/postings").agg(
        F.sum(blocks_bytes_col("blocks"))
    ).collect()[0][0]
    assert merge["compressed_bytes"] == recount > 0


def test_sha256_invariant(spark, doc_index):
    """Per-row invariant (BASELINE.json:15): docs/ sha matches a fresh
    recompute from the source corpus."""
    corpus = documents_as_corpus(spark, SF0001).withColumn(
        "fresh_sha", F.sha2("content", 256))
    docs = spark.read.parquet(f"{doc_index}/docs")
    joined = docs.join(corpus, ["repo", "path", "commit"])
    assert joined.count() == docs.count()
    assert joined.where(F.col("content_sha256") != F.col("fresh_sha")).count() == 0


def test_doc_ids_dense_and_ordered(spark, doc_index):
    docs = spark.read.parquet(f"{doc_index}/docs").toPandas()
    ids = np.sort(docs["doc_id"].to_numpy())
    assert ids[0] == 0 and ids[-1] == len(ids) - 1
    assert np.array_equal(ids, np.arange(len(ids)))
    # within a split, doc_id order == (repo, path, commit) order
    for _, g in docs.groupby("split_id"):
        g = g.sort_values("doc_id")
        keys = list(zip(g["repo"], g["path"], g["commit"]))
        assert keys == sorted(keys)


def test_salting_was_exercised_and_equals_unsalted(spark, tmp_path,
                                                  distributed_build):
    """documents is adversarially all-hot (FIXTURES.md) — with a tiny
    threshold every term salts; the final index must equal a build with
    salting disabled. Distributed build: the in-process one is pinned
    equal to it by test_driver_build."""
    corpus = documents_as_corpus(spark, SF0001)
    salted_dir, plain_dir = str(tmp_path / "salted"), str(tmp_path / "plain")
    build_index(spark, corpus, salted_dir, n_splits=2, n_buckets=4,
                tokenizer="simple", salt_threshold=10, n_salts=4)
    build_index(spark, corpus, plain_dir, n_splits=2, n_buckets=4,
                tokenizer="simple", salt_threshold=1 << 40, n_salts=4)
    import json
    with open(f"{salted_dir}/manifest/merge.json") as f:
        assert json.load(f)["salt_threshold"] == 10
    # proof salting ran: a salted hot term is encoded as several runs
    # whose partial tail blocks survive the concat-merge, so its merged
    # row has MORE blocks than an unsalted encode would produce
    salted_blocks = {
        (r.term, r.split_id): (len(r.blocks), r.df)
        for r in spark.read.parquet(f"{salted_dir}/postings").collect()
    }
    plain_blocks = {
        (r.term, r.split_id): len(r.blocks)
        for r in spark.read.parquet(f"{plain_dir}/postings").collect()
    }
    extra = [k for k, (nb, df) in salted_blocks.items()
             if df > 10 and nb > plain_blocks[k]]
    assert extra, "no hot term shows salted run structure"
    a = _explode_index(spark, salted_dir).sort_values(["term", "doc_id"])
    b = _explode_index(spark, plain_dir).sort_values(["term", "doc_id"])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_stats_json(doc_index):
    stats = read_stats(doc_index)
    assert stats["n_docs"] == 500
    assert stats["avgdl"] > 0
    assert os.path.exists(os.path.join(doc_index, "_INDEX_SUCCESS"))
    with open(os.path.join(doc_index, "_INDEX_SUCCESS")) as f:
        assert json.load(f)["n_terms"] > 0


def test_stage_dedup_survivor_deterministic(spark, tmp_path):
    """Duplicate (repo,path,commit) keys with DIFFERENT content must
    stage identical survivors at any input partitioning (byte-identity
    of the index depends on it)."""
    import hashlib

    import pandas as pd

    from datastream_io_spark.operators.build import stage_corpus

    base = pd.DataFrame({
        "repo": ["r"] * 4, "path": ["p1", "p1", "p2", "p2"],
        "commit": ["c"] * 4, "lang": ["py"] * 4,
        "content": ["AAA", "BBB", "xx", "yy"],
    })
    outs = []
    for i, nparts in enumerate([1, 7]):
        df = spark.createDataFrame(base).repartition(nparts)
        idx = str(tmp_path / f"i{i}")
        stage_corpus(spark, df, idx, n_splits=2, n_buckets=4,
                     tokenizer="simple")
        staged = spark.read.parquet(f"{idx}/staged_corpus").orderBy("doc_id")
        outs.append([(r.path, r.content, r.content_sha256)
                     for r in staged.collect()])
    assert outs[0] == outs[1]
    assert len(outs[0]) == 2
    by_path = {p: c for p, c, _ in outs[0]}
    # survivor is max(content_sha256), independent of row order
    exp = {}
    for p in ("p1", "p2"):
        cands = base[base.path == p].content.tolist()
        exp[p] = max(cands, key=lambda c: hashlib.sha256(c.encode()).hexdigest())
    assert by_path == exp


def test_stage_resume_rejects_changed_settings(spark, tmp_path):
    """Re-staging with different frozen settings (positions/tokenizer/
    splits) must raise, not silently return the old staging."""
    import pandas as pd
    import pytest

    from datastream_io_spark.operators.build import stage_corpus

    df = spark.createDataFrame(pd.DataFrame({
        "repo": ["r"], "path": ["p"], "commit": ["c"], "lang": ["py"],
        "content": ["hello world"]}))
    idx = str(tmp_path / "idx")
    stage_corpus(spark, df, idx, 2, 4, "simple", positions=False)
    # same settings → silent resume
    stage_corpus(spark, df, idx, 2, 4, "simple", positions=False)
    with pytest.raises(ValueError, match="staged with"):
        stage_corpus(spark, df, idx, 2, 4, "simple", positions=True)
    with pytest.raises(ValueError, match="staged with"):
        stage_corpus(spark, df, idx, 4, 4, "simple", positions=False)


def test_term_stats_fused_equals_operator_chain(spark):
    """The fused tokenize+tf kernel (term_stats_fused) must be
    row-identical to the declarative chain it replaced in the segment
    builder — every mode × positions combination."""
    from datastream_io_spark.corpus import corpus_df

    corpus = corpus_df(spark, 120).limit(120)
    base = P.assign_doc_ids(corpus, ["repo", "path", "commit"]).select(
        "doc_id", "content")

    for mode in ("simple", "code"):
        for positions in (False, True):
            fused = P.term_stats_fused(base, mode, positions)
            tok = P.with_tokens(base, "content", mode=mode, use_udf=True)
            if positions:
                exploded = tok.select(
                    "doc_id",
                    F.size("tokens").cast("long").alias("dl"),
                    F.posexplode("tokens").alias("pos", "term"))
                chain = P.term_freq_positional(
                    exploded, extra_aggs=(F.first("dl").alias("dl"),))
                cols = ["doc_id", "term", "tf", "dl", "positions"]
            else:
                exploded = tok.select(
                    "doc_id",
                    F.size("tokens").cast("long").alias("dl"),
                    F.explode("tokens").alias("term"))
                chain = exploded.groupBy("doc_id", "term").agg(
                    F.count("*").alias("tf"), F.first("dl").alias("dl"))
                cols = ["doc_id", "term", "tf", "dl"]

            got = fused.select(*cols).orderBy("doc_id", "term").collect()
            exp = chain.select(*cols).orderBy("doc_id", "term").collect()
            assert len(got) == len(exp) > 0, (mode, positions)
            for g, e in zip(got, exp):
                assert tuple(g) == tuple(e), (mode, positions, g, e)


def test_docs_one_file_per_split(doc_index):
    """Docs finalize clusters on split_id before the partitioned write,
    so each ``docs/split_id=N`` holds exactly ONE parquet file — the
    query-side display/facet join lists O(n_splits) files, not
    O(n_splits × write_tasks) (the r4 warm-latency regression)."""
    import glob
    import os

    from datastream_io_spark.operators.build import read_stats

    n_splits = read_stats(doc_index)["n_splits"]
    split_dirs = sorted(glob.glob(os.path.join(doc_index, "docs",
                                               "split_id=*")))
    assert len(split_dirs) == n_splits
    for d in split_dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_searcher_caches_resolved_scans(spark, doc_index):
    """The warm Searcher resolves the postings/docs scans ONCE —
    spark.read.parquet re-lists the directory per call (~140 ms at 14
    files, r5 profile), which was the largest warm-query slice. Parity
    with the cold path is covered by the existing search suites; this
    pins the caching itself."""
    from datastream_io_spark.operators.indexed_search import (
        Searcher,
        search_indexed,
    )

    s = Searcher(spark, doc_index)
    assert s._postings_df is not None and s._docs_df is not None
    warm = s.search("scan", 5, "and", with_doc_cols=True).collect()
    cold = search_indexed(spark, doc_index, "scan", 5, "and",
                          with_doc_cols=True).collect()
    assert [tuple(r) for r in warm] == [tuple(r) for r in cold]


def test_freeze_golden_ids_are_global(spark, doc_index):
    """The golden freezer scores in the BUILT index's doc-id space:
    staging writes split-local ids, so the freezer must add each
    split's frozen offset like the build does. doc_index is built with
    the freezer's documents settings (3 splits, 8 buckets, simple)."""
    import importlib.util

    path = os.path.join(os.path.dirname(__file__), "..", "scripts",
                        "freeze_golden.py")
    spec = importlib.util.spec_from_file_location("freeze_golden", path)
    fg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fg)

    frozen = fg.staged_docs(spark, documents_as_corpus(spark, SF0001),
                            3, 8, "simple")
    key = ["doc_id", "repo", "path", "commit"]
    docs = spark.read.parquet(f"{doc_index}/docs")
    assert docs.select("split_id").distinct().count() >= 2
    want = sorted(tuple(r) for r in docs.select(key).collect())
    got = sorted(tuple(r) for r in frozen[key].itertuples(index=False))
    assert got == want


def test_aqe_scope_is_reentrant_across_threads(spark):
    """Overlapping AQE-off scopes on one session (concurrent builds,
    finalize inside a build) share one saved value: a scope that leaves
    while another is open must not switch AQE back on under it, and the
    last one out restores the session's setting."""
    import threading

    from datastream_io_spark.session import aqe_disabled

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    a_in, b_in, a_out = (threading.Event() for _ in range(3))
    seen = {}

    def a():
        with aqe_disabled(spark):
            a_in.set()
            assert b_in.wait(30)
        a_out.set()

    def b():
        assert a_in.wait(30)
        with aqe_disabled(spark):
            b_in.set()
            assert a_out.wait(30)
            seen["after_a_left"] = spark.conf.get(key)
            with aqe_disabled(spark):  # re-entrant on one thread too
                pass
            seen["after_nested"] = spark.conf.get(key)

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert seen == {"after_a_left": "false", "after_nested": "false"}
    assert spark.conf.get(key) == before == "true"

