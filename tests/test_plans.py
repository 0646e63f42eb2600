"""Physical-plan assertions (SURVEY.md §4): the layouts and hints this
engine chose must actually show up in the executed plan — bucket
partition pruning, parquet filter pushdown, TakeOrderedAndProject
top-k, broadcast dimension joins, whole-stage codegen on the scoring
arithmetic."""

import hypothesis.strategies as st
import numpy as np
from hypothesis import given, settings
from pyspark.sql import functions as F

from datastream_io_spark.operators.codec import (
    decode_blocks,
    encode_blocks,
    varint_decode,
    varint_encode,
)
from datastream_io_spark.plans import plan_summary, scan_info
from tests.conftest import SF0001, bucket_dirs, load_table, reads_under


def test_postings_scan_prunes_buckets_and_pushes_term(spark, doc_index):
    post = spark.read.parquet(f"{doc_index}/postings")
    q = post.where(F.col("term_bucket").isin([1, 3])
                   & F.col("term").isin(["window", "agg"]))
    scans = scan_info(q)
    assert scans, "no FileScan found"
    assert "term_bucket" in scans[0]["PartitionFilters"]
    assert "term" in scans[0]["PushedFilters"]


def test_topk_is_take_ordered_not_global_sort(spark, doc_index,
                                            arrow_reads, monkeypatch):
    from datastream_io_spark.operators import indexed_search as IX

    # under the single-task gate the query runs on the driver and
    # reads only the query terms' bucket directories
    assert IX.search_indexed(spark, doc_index, "window agg", 10,
                             "and").collect()
    want = bucket_dirs(doc_index, ["window", "agg"])
    got = reads_under(arrow_reads, doc_index)
    assert got and got <= want, (got, want)

    # over the gate: the distributed plan's top-k is a TakeOrdered
    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    topk = IX.search_indexed(spark, doc_index, "window agg", 10, "and")
    s = plan_summary(topk)
    assert s["take_ordered"], "top-k compiled to a global sort"


def test_dim_join_is_broadcast(spark):
    c = load_table(spark, SF0001, "customer")
    n = load_table(spark, SF0001, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert plan_summary(j)["n_broadcast_joins"] >= 1


def test_scoring_math_is_codegen(spark, documents):
    from datastream_io_spark.functions.bm25 import idf_col, tf_norm_col

    scored = documents.select(
        (idf_col(F.col("doc_id").cast("double"), 500)
         * tf_norm_col(F.col("n_chars").cast("double"),
                       F.col("doc_id").cast("double"), 55.0)).alias("x"))
    s = plan_summary(scored)
    assert s["whole_stage_codegen"]
    # and the constant-only variant folds to a literal at optimization
    folded = documents.select(
        (idf_col(F.lit(10.0), 500)
         * tf_norm_col(F.lit(3.0), F.lit(50.0), 55.0)).alias("x"))
    from datastream_io_spark.plans import executed_plan
    assert "6.19460" in executed_plan(folded)  # Catalyst constant folding


def test_content_column_pruned_on_query_path(spark, doc_index):
    """The query path must never read posting 'blocks' it doesn't need —
    dict lookups read only dict columns."""
    d = spark.read.parquet(f"{doc_index}/dict").select("term", "idf")
    rs = scan_info(d)[0]["ReadSchema"]
    assert "idf" in rs and "cf" not in rs


# --- hypothesis property tests for the codec (C2/C3) ---

@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                min_size=0, max_size=300))
def test_varint_roundtrip_property(vals):
    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(v), v.size), v)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=2**40),
             min_size=1, max_size=400),
    st.integers(min_value=1, max_value=2**20),
)
def test_block_roundtrip_property(gaps, tf_hi):
    ids = np.cumsum(np.array(gaps, dtype=np.int64))
    rng = np.random.default_rng(ids[-1] % (2**32))
    tfs = rng.integers(1, tf_hi + 1, size=ids.size).astype(np.int64)
    dls = rng.integers(1, 10_000, size=ids.size).astype(np.int64)
    blocks = encode_blocks(ids, tfs, dls)
    di, dt = decode_blocks(blocks)
    assert np.array_equal(di, ids)
    assert np.array_equal(dt, tfs)
    off = 0
    for b in blocks:
        assert b["max_doc_id"] == ids[off:off + b["n"]][-1]
        assert b["max_tf"] == tfs[off:off + b["n"]].max()
        off += b["n"]


def test_python_xxhash64_matches_spark(spark):
    """functions.xxhash must be bit-identical to F.xxhash64 (seed 42) —
    the dict partition pruning depends on it. Covers every length-class
    branch (<4, <8, <32, ≥32 bytes) and multibyte UTF-8."""
    import random
    import string

    from datastream_io_spark.functions.xxhash import xxhash64_str

    rng = random.Random(11)
    cases = ["", "a", "abc", "abcd", "abcdefg", "exactly8",
             "sixteen_chars_ab", "thirtyone_bytes_string_here_abc",
             "thirtytwo_bytes_string_here_abcd", "x" * 100,
             "été", "中文词项", "naïve_ident"]
    cases += ["".join(rng.choices(string.printable, k=rng.randint(1, 64)))
              for _ in range(50)]
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({"t": cases}))
    got = {r.t: r.h for r in df.select("t", F.xxhash64("t").alias("h")).collect()}
    for t in cases:
        assert xxhash64_str(t) == got[t], repr(t)


def test_python_chained_xxhash64_matches_spark(spark):
    """functions.xxhash.xxhash64_many must equal F.xxhash64 over one
    column, and with its seeds chained column to column the
    multi-column F.xxhash64("repo", "path", "commit") — the build split
    of a doc key staged without Spark. Nulls leave the seed unchanged:
    rows with null columns in every position, non-ASCII text, and every
    length-class branch (<4, <8, <32, ≥32 bytes) in each column."""
    import itertools
    import random
    import string

    import pyarrow as pa

    from datastream_io_spark.functions.xxhash import xxhash64_many

    values = [None, "", "a", "abc", "abcdefg", "sixteen_chars_ab",
              "thirtytwo_bytes_string_here_abcd", "été", "中文词项",
              "x" * 70]
    rows = list(itertools.product(values, repeat=3))
    rng = random.Random(13)
    rows += [tuple("".join(rng.choices(string.printable + "äß中",
                                       k=rng.randint(0, 80)))
                   for _ in range(3)) for _ in range(100)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string")
    got = df.select("repo", "path", "commit",
                    F.xxhash64("repo").alias("h1"),
                    F.xxhash64("repo", "path", "commit").alias("h")
                    ).collect()
    assert len(got) == len(rows)
    cols = {c: pa.array([r[c] for r in got], pa.string())
            for c in ("repo", "path", "commit")}
    one = xxhash64_many(cols["repo"]).view(np.int64)
    chained = np.uint64(42)
    for c in ("repo", "path", "commit"):
        chained = xxhash64_many(cols[c], chained)
    chained = chained.view(np.int64)
    for i, r in enumerate(got):
        assert one[i] == r.h1, r
        assert chained[i] == r.h, r


def test_dict_lookup_prunes_term_buckets(spark, doc_index):
    """Q2 plan: the dict read filters on the DRIVER-computed term
    bucket, so the scan lists only the query's bucket directories."""
    import json

    from datastream_io_spark.functions.xxhash import term_bucket

    with open(f"{doc_index}/stats.json") as f:
        n_buckets = json.load(f)["n_buckets"]
    terms = ["window", "agg"]
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    d = spark.read.parquet(f"{doc_index}/dict").where(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms))
    scans = scan_info(d)
    assert scans and "term_bucket" in scans[0]["PartitionFilters"]
    # and the driver-side buckets agree with what the index stored
    from datastream_io_spark.operators.indexed_search import lookup_terms
    rows = lookup_terms(spark, doc_index, terms, n_buckets)
    assert {r["term"] for r in rows} == set(terms)
    assert {int(r["term_bucket"]) for r in rows} <= set(buckets)


def test_match_positions_plan_is_shuffle_free(spark, pos_index):
    """Q10 must be a straight pruned-scan → mapInPandas: no Exchange."""
    from datastream_io_spark.operators.indexed_search import match_positions
    from datastream_io_spark.plans import executed_plan, plan_summary

    df = match_positions(spark, pos_index, "window agg", [1, 2, 3])
    assert plan_summary(df)["n_exchanges"] == 0, executed_plan(df)
    scans = scan_info(df)
    assert scans and "term_bucket" in scans[0]["PartitionFilters"]


def test_boolean_search_scans_are_pruned(spark, pos_index, arrow_reads,
                                        monkeypatch):
    """Q11 reads only the tree terms' bucket directories (postings AND
    dict) — on the driver under the single-task gate, and in the
    distributed plan over it."""
    from datastream_io_spark.operators import indexed_search as IX
    from datastream_io_spark.operators.boolean_search import search_boolean

    query = "window AND (agg OR scan) NOT merge"
    terms = ["window", "agg", "scan", "merge"]
    assert search_boolean(spark, pos_index, query, 10).collect()
    for sub in ("postings", "dict"):
        want = bucket_dirs(pos_index, terms, sub)
        got = reads_under(arrow_reads, pos_index, sub)
        assert got and got <= want, (sub, got, want)

    monkeypatch.setattr(IX, "SINGLE_TASK_MAX_POSTINGS", 0)
    df = search_boolean(spark, pos_index, query, 10)
    scans = scan_info(df)
    assert scans, "no FileScan found"
    for s in scans:
        assert "term_bucket" in s["PartitionFilters"], s["raw"]


def test_wildcard_expansion_scan_pushes_startswith(spark, doc_index):
    """Q18 plan: the wildcard expansion's dict scan pushes the
    StartsWith predicate into parquet, so term-sorted row groups
    outside the prefix range skip via min/max stats."""
    d = spark.read.parquet(f"{doc_index}/dict").where(
        F.col("term").startswith("s"))
    scans = scan_info(d)
    assert scans and "StartsWith(term,s)" in scans[0]["PushedFilters"]


def test_fuzzy_expansion_uses_jvm_levenshtein(spark, doc_index):
    """Q20 plan: the fuzzy expansion is pure JVM expression work — the
    levenshtein(threshold) primitive appears in the plan and there is
    no Python/Arrow eval node in the dict scan stage."""
    from datastream_io_spark.plans.explain import executed_plan

    d = spark.read.parquet(f"{doc_index}/dict").where(
        (F.length("term").between(3, 5))
        & (F.levenshtein(F.col("term"), F.lit("hast"), 2) >= 0))
    plan = executed_plan(d)
    assert "levenshtein" in plan.lower()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
