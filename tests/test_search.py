"""Rank-identity tests (SURVEY.md §5.3): both engine paths (relational
Column-math and WAND-indexed) must reproduce the brute-force golden
docIDs exactly and scores to 1e-9, on the all-hot documents corpus and
the heavy-tailed synthetic code corpus."""

import contextlib
import json
import os

import pytest

from datastream_io_spark.golden import brute_force_topk
from datastream_io_spark.operators.indexed_search import search_indexed
from datastream_io_spark.operators.relational_search import search_relational
from datastream_io_spark.sources.scan import documents_as_corpus
from tests.conftest import SF0001, docs_with_text, driver_dict
from tests.queries_golden import CODE_QUERIES, DOC_QUERIES, K

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def _check(engine_rows, expected):
    got = [(int(r.doc_id), float(r.score)) for r in engine_rows]
    assert [g[0] for g in got] == [e["doc_id"] for e in expected]
    for g, e in zip(got, expected):
        assert g[1] == pytest.approx(e["score"], abs=1e-9)


@pytest.fixture(scope="module")
def doc_ctx(spark, doc_index):
    corpus = documents_as_corpus(spark, SF0001)
    docs_text = docs_with_text(spark, doc_index, corpus)
    pdf = docs_text.toPandas()
    return docs_text, pdf


@pytest.fixture(scope="module")
def code_ctx(spark, code_index, code_corpus):
    docs_text = docs_with_text(spark, code_index, code_corpus)
    pdf = docs_text.toPandas()
    return docs_text, pdf


@pytest.mark.parametrize("query,mode", DOC_QUERIES)
def test_documents_rank_identity(spark, doc_index, doc_ctx, query, mode):
    docs_text, pdf = doc_ctx
    expected = brute_force_topk(pdf, query, K, mode, tokenizer="simple")
    _check(search_indexed(spark, doc_index, query, K, mode).collect(), expected)
    _check(search_relational(docs_text, query, K, mode,
                             tokenizer="simple").collect(), expected)


@pytest.mark.parametrize("query,mode", CODE_QUERIES)
def test_code_rank_identity(spark, code_index, code_ctx, query, mode):
    docs_text, pdf = code_ctx
    expected = brute_force_topk(pdf, query, K, mode, tokenizer="code")
    _check(search_indexed(spark, code_index, query, K, mode).collect(), expected)
    _check(search_relational(docs_text, query, K, mode,
                             tokenizer="code").collect(), expected)


@pytest.mark.parametrize("table,queries", [("documents", DOC_QUERIES),
                                           ("corpus", CODE_QUERIES)])
def test_frozen_golden_files(spark, doc_index, code_index, doc_ctx, code_ctx,
                             table, queries):
    """Engine output vs the FROZEN golden JSONs (regression pin — catches
    silent tokenizer/scoring drift that a live brute-force recompute
    would follow along with)."""
    idx = doc_index if table == "documents" else code_index
    for i, (query, mode) in enumerate(queries):
        path = os.path.join(GOLDEN_DIR, f"topk_{table}_{i}.json")
        with open(path) as f:
            frozen = json.load(f)
        assert frozen["query"] == query and frozen["mode"] == mode
        _check(search_indexed(spark, idx, query, K, mode).collect(),
               frozen["topk"])


def test_searcher_matches_search_indexed(spark, doc_index, doc_ctx,
                                         spark_dict):
    """Warm Searcher must equal the cold path exactly, with the
    dictionary on the driver (the default) and past the gate (Spark
    lookups) — and the two placements must agree."""
    from datastream_io_spark.operators.indexed_search import Searcher

    _, pdf = doc_ctx
    answers = []
    for placement in (driver_dict, contextlib.nullcontext):
        with placement():
            s = Searcher(spark, doc_index)
            for query, mode in [("window agg", "and"), ("scan", "or"),
                                ("missingterm scan", "and")]:
                a = [(r.doc_id, r.score)
                     for r in s.search(query, K, mode).collect()]
                b = [(r.doc_id, r.score)
                     for r in search_indexed(spark, doc_index, query, K,
                                             mode).collect()]
                assert a == b
                answers.append(a)
    assert answers[:3] == answers[3:]


def test_display_join(spark, doc_index):
    rows = search_indexed(spark, doc_index, "window agg", 5, "and",
                          with_doc_cols=True).collect()
    assert len(rows) == 5
    assert {"repo", "path", "commit", "lang", "score", "doc_id"} <= set(
        rows[0].asDict())
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_or_kernel_skips_block_decode(monkeypatch):
    """Decode-skipping OR (VERDICT r1 #3): on a skewed disjunction the
    kernel must never doc-decode most of the hot term's blocks, while
    returning the exact brute-force top-k."""
    import numpy as np

    from datastream_io_spark import K1, B
    from datastream_io_spark.operators import indexed_search as IX
    from datastream_io_spark.operators.codec import encode_blocks

    avgdl, dl = 10.0, 10

    def mk(ids, tf):
        ids = np.asarray(ids, np.int64)
        return encode_blocks(ids, np.full(ids.size, tf, np.int64),
                             np.full(ids.size, dl, np.int64))

    rare_blocks = mk(np.arange(10), 5)              # 1 block, high idf
    hot_blocks = mk(np.arange(10_000), 1)           # 79 blocks, low idf
    idf = {"rare": 5.0, "hot": 0.2}
    term_rows = [("rare", rare_blocks), ("hot", hot_blocks)]

    calls = []
    real = IX.decode_block_docs
    monkeypatch.setattr(IX, "decode_block_docs",
                        lambda b: (calls.append(1), real(b))[1])

    ids, scores = IX._wand_split(term_rows, idf, avgdl, 10, "or", 2)

    total_blocks = len(rare_blocks) + len(hot_blocks)
    assert len(calls) < total_blocks / 4, (len(calls), total_blocks)

    # brute-force expectation: docs 0..9 carry both terms
    def tfn(tf):
        return tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))

    exp = 5.0 * tfn(5) + 0.2 * tfn(1)
    assert list(ids) == list(range(10))
    np.testing.assert_allclose(scores, exp, rtol=1e-12)


def test_or_kernel_matches_full_decode_on_random_corpus():
    """Adversarial self-oracle: the decode-skipping OR kernel must equal
    a naive decode-everything scorer on a randomized multi-term corpus
    (ties, singletons, interleaved ranges)."""
    import numpy as np

    from datastream_io_spark.operators import indexed_search as IX
    from datastream_io_spark.operators.codec import decode_blocks, encode_blocks

    rng = np.random.default_rng(7)
    avgdl = 12.0
    terms = {}
    for t, (n, idf) in {"a": (3000, 0.3), "b": (400, 2.0), "c": (37, 6.0),
                        "d": (1, 9.0)}.items():
        ids = np.sort(rng.choice(20_000, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 9, size=n).astype(np.int64)
        dls = rng.integers(4, 40, size=n).astype(np.int64)
        terms[t] = (ids, tfs, dls, idf)

    term_rows = [(t, encode_blocks(i, f, d))
                 for t, (i, f, d, _) in terms.items()]
    idf = {t: v[3] for t, v in terms.items()}

    # naive reference: decode everything, exact-score every doc
    acc: dict[int, float] = {}
    for t, (ids, tfs, dls, w) in terms.items():
        for i, tf, dl in zip(ids, tfs, dls):
            acc[int(i)] = acc.get(int(i), 0.0)
    for t in sorted(terms):
        ids, tfs, dls, w = terms[t]
        for i, tf, dl in zip(ids, tfs, dls):
            from datastream_io_spark import K1, B
            acc[int(i)] += w * (tf * (K1 + 1)
                                / (tf + K1 * (1 - B + B * dl / avgdl)))
    k = 15
    exp = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    ids, scores = IX._wand_split(term_rows, idf, avgdl, k, "or",
                                 len(terms))
    assert list(ids) == [d for d, _ in exp]
    np.testing.assert_allclose(scores, [s for _, s in exp], rtol=1e-12)


def test_filtered_search_vs_bruteforce(spark, pos_index, pos_pdf):
    """Q12: where-filtered top-k must equal filtering the full
    brute-force ranking — including docs the unfiltered per-split cut
    would have dropped."""
    from datastream_io_spark.operators.indexed_search import (
        Searcher,
        search_indexed,
    )

    langs = {int(r.doc_id): r.lang for r in
             spark.read.parquet(f"{pos_index}/docs").collect()}
    lang = sorted(set(langs.values()))[0]
    for q, mode in [("window agg", "or"), ("window agg", "and"),
                    ("window agg", "phrase")]:
        full = brute_force_topk(pos_pdf, q, k=10**6, mode=mode)
        exp = [(r["doc_id"], r["score"]) for r in full
               if langs[r["doc_id"]] == lang][:10]
        got = [(int(r.doc_id), float(r.score)) for r in
               search_indexed(spark, pos_index, q, 10, mode,
                              where=f"lang = '{lang}'").collect()]
        assert [g[0] for g in got] == [e[0] for e in exp], (q, mode)
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], abs=1e-9)
    # warm Searcher parity
    s = Searcher(spark, pos_index)
    a = [(r.doc_id, round(r.score, 9)) for r in
         s.search("window agg", 10, "or",
                  where=f"lang = '{lang}'").collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in
         search_indexed(spark, pos_index, "window agg", 10, "or",
                        where=f"lang = '{lang}'").collect()]
    assert a == b


def test_search_many_matches_individual(spark, doc_index):
    """Q13: every query answered by the one-job batch path must equal
    its individual search_indexed answer; unknown-term AND queries are
    absent from the output."""
    from datastream_io_spark.operators.indexed_search import (
        search_indexed,
        search_many,
    )

    queries = {"q1": "window agg", "q2": "scan", "q3": "merge sort window",
               "q4": "zzznope window"}
    for mode in ("and", "or"):
        batch = search_many(spark, doc_index, queries, k=10, mode=mode)
        got = {}
        for r in batch.collect():
            got.setdefault(r.query_id, []).append(
                (r.doc_id, round(r.score, 9)))
        for qid, q in queries.items():
            exp = [(r.doc_id, round(r.score, 9)) for r in
                   search_indexed(spark, doc_index, q, 10, mode).collect()]
            assert got.get(qid, []) == exp, (qid, mode)


def test_filtered_two_pass_skips_full_decode(spark, pos_index, pos_pdf):
    """r3 (VERDICT what's-wrong #2): a selective-but-not-adversarial
    filter must be answered by the PRUNED first pass (no emit-everything
    decode); an adversarial filter (survivors below the per-split k'
    cut) must fall back — and both must stay exact."""
    from datastream_io_spark.operators import indexed_search as IX

    s = IX.Searcher(spark, pos_index)

    def run(where, k=5, q="window agg", mode="or"):
        df, fell_back = s._filtered_topk(s._plan(q, mode), k, where)
        return [(int(r.doc_id), round(float(r.score), 9))
                for r in df.collect()], fell_back

    full = brute_force_topk(pos_pdf, "window agg", k=10**6, mode="or")

    # mild filter (keeps everything): pass 1 must suffice
    got, fell_back = run("dl >= 0")
    assert not fell_back
    assert got == [(r["doc_id"], round(r["score"], 9)) for r in full[:5]]

    # adversarial filter: only the 3 LOWEST-scoring matches survive —
    # they sit far below every split's k' cut, so pass 2 must run and
    # the answer must still be exact
    worst = [r["doc_id"] for r in full[-3:]]
    ids = ", ".join(str(d) for d in worst)
    got, fell_back = run(f"doc_id IN ({ids})")
    assert fell_back
    exp = sorted(((r["doc_id"], round(r["score"], 9)) for r in full
                  if r["doc_id"] in set(worst)),
                 key=lambda t: (-t[1], t[0]))
    assert got == exp


def test_search_many_phrase_and_boolean(spark, pos_index):
    """r3: batched serving covers phrase and boolean modes — every
    query's rows equal its individual search_indexed / search_boolean
    answer (shared decode cache must not leak between queries)."""
    from datastream_io_spark.operators.boolean_search import search_boolean
    from datastream_io_spark.operators.indexed_search import (
        search_indexed,
        search_many,
    )

    phrase_qs = {"p1": "window agg", "p2": "spark stream batch",
                 "p3": "window", "p4": "zzznope window"}
    batch = search_many(spark, pos_index, phrase_qs, k=10, mode="phrase")
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 9)))
    for qid, q in phrase_qs.items():
        exp = [(r.doc_id, round(r.score, 9)) for r in
               search_indexed(spark, pos_index, q, 10, "phrase").collect()]
        assert got.get(qid, []) == exp, qid

    bool_qs = {"b1": 'window AND (agg OR scan) NOT merge',
               "b2": '"window agg" OR sort',
               "b3": 'window NOT window'}
    batch = search_many(spark, pos_index, bool_qs, k=10, mode="boolean")
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 9)))
    for qid, q in bool_qs.items():
        exp = [(r.doc_id, round(r.score, 9)) for r in
               search_boolean(spark, pos_index, q, 10).collect()]
        assert got.get(qid, []) == exp, qid

    with pytest.raises(ValueError, match="mode"):
        search_many(spark, pos_index, {"x": "a"}, 10, "nope")


def test_dict_cache_auto_selection(spark, doc_index, monkeypatch):
    """r4 (VERDICT wrong #3): the recorded term count places the
    dictionary — on the driver for small dictionaries, in Spark past
    the absolute term threshold — with identical answers either
    way."""
    import datastream_io_spark.operators.indexed_search as IS
    from datastream_io_spark.operators.indexed_search import Searcher

    small = Searcher(spark, doc_index)  # driver (tiny dict)
    assert small._driver_dict
    monkeypatch.setattr(IS, "AUTO_DICT_DRIVER_MAX_TERMS", 0)
    big = Searcher(spark, doc_index)  # spark ("too large")
    assert not big._driver_dict
    for q, mode in [("window agg", "and"), ("scan merge", "or")]:
        a = [(r.doc_id, round(r.score, 9)) for r in
             small.search(q, 10, mode).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             big.search(q, 10, mode).collect()]
        assert a == b, (q, mode)


def test_search_many_wildcard_fuzzy_and_warm(spark, tmp_path):
    """r4 (VERDICT Missing #4): batched serving covers wildcard and
    fuzzy, and the warm Searcher batches EVERY mode with planning from
    the driver dictionary — all parity-checked against the single-query
    answers."""
    from datastream_io_spark.operators.build import build_index
    from datastream_io_spark.operators.dictindex import build_term_sidecars
    from datastream_io_spark.operators.indexed_search import (
        Searcher, search_fuzzy, search_indexed, search_many,
        search_wildcard)
    from datastream_io_spark.sources.scan import documents_as_corpus
    from tests.conftest import SF0001

    idx = str(tmp_path / "many_idx")
    build_index(spark, documents_as_corpus(spark, SF0001), idx,
                n_splits=3, n_buckets=8, tokenizer="simple",
                salt_threshold=50, n_salts=4, positions=True)
    build_term_sidecars(spark, idx)
    warm = Searcher(spark, idx)

    def rows_of(batch):
        got = {}
        for r in batch.collect():
            got.setdefault(r.query_id, []).append(
                (r.doc_id, round(r.score, 9)))
        return got

    wc_qs = {"w1": "s*", "w2": "wind*", "w3": "zzz*"}
    for batch in (search_many(spark, idx, wc_qs, 10, "wildcard"),
                  warm.search_many(wc_qs, 10, "wildcard")):
        got = rows_of(batch)
        for qid, q in wc_qs.items():
            exp = [(r.doc_id, round(r.score, 9)) for r in
                   search_wildcard(spark, idx, q, 10).collect()]
            assert got.get(qid, []) == exp, qid

    fz_qs = {"f1": "windoq", "f2": "hast", "f3": "qqqqqq"}
    for batch in (search_many(spark, idx, fz_qs, 10, "fuzzy",
                              max_dist=1),
                  warm.search_many(fz_qs, 10, "fuzzy", max_dist=1)):
        got = rows_of(batch)
        for qid, q in fz_qs.items():
            exp = [(r.doc_id, round(r.score, 9)) for r in
                   search_fuzzy(spark, idx, q, 10, max_dist=1).collect()]
            assert got.get(qid, []) == exp, qid

    # warm batch parity for the established modes too
    std_qs = {"q1": "window agg", "q2": "scan", "q3": "zzznope window"}
    for mode in ("and", "or", "phrase"):
        got = rows_of(warm.search_many(std_qs, 10, mode))
        cold = rows_of(search_many(spark, idx, std_qs, 10, mode))
        assert got == cold, mode
        for qid, q in std_qs.items():
            exp = [(r.doc_id, round(r.score, 9)) for r in
                   search_indexed(spark, idx, q, 10, mode).collect()]
            assert got.get(qid, []) == exp, (qid, mode)
    bool_qs = {"b1": "window AND (agg OR scan) NOT merge",
               "b2": "window NOT window"}
    assert rows_of(warm.search_many(bool_qs, 10, "boolean")) == \
        rows_of(search_many(spark, idx, bool_qs, 10, "boolean"))


def test_partitioned_index_routing(spark, tmp_path):
    """r3 (VERDICT Missing #4): hot-column partitioned indexes — a
    lang-routed query equals a brute-force BM25 over that lang's subset
    with SUBSET statistics (exactly a fresh build over the filtered
    corpus), unknown values return empty, and resume skips built
    values."""
    from datastream_io_spark.operators.partitioned import (
        build_partitioned_index,
        read_partitioned,
        search_partitioned,
    )
    from datastream_io_spark.sources.scan import documents_as_corpus
    from tests.conftest import SF0001, docs_with_text

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "part_root")
    langs = sorted(r[0] for r in corpus.select("lang").distinct().collect())[:2]
    m = build_partitioned_index(spark, corpus, root, by="lang",
                                values=langs, n_splits=2, n_buckets=8,
                                tokenizer="simple")
    assert sorted(m["values"]) == langs
    for lang in langs:
        sub_pdf = docs_with_text(
            spark, f"{root}/lang={lang}",
            corpus.where(f"lang = '{lang}'")).toPandas()
        exp = brute_force_topk(sub_pdf, "window agg", k=10, mode="and")
        got = search_partitioned(spark, root, lang, "window agg",
                                 10, "and").collect()
        assert [(r.doc_id, round(r.score, 9)) for r in got] == \
            [(e["doc_id"], round(e["score"], 9)) for e in exp], lang
    assert search_partitioned(spark, root, "nope", "window agg",
                              10).count() == 0
    # resume: a second build call over the same values is a fast no-op
    build_partitioned_index(spark, corpus, root, by="lang", values=langs,
                            n_splits=2, n_buckets=8, tokenizer="simple")
    with pytest.raises(ValueError, match="filesystem-safe"):
        build_partitioned_index(spark, corpus, root, by="lang",
                                values=["../evil"])


def test_wildcard_matches_bruteforce_or(spark, doc_index, doc_ctx):
    """Q17: prefix expansion + OR scoring ≡ brute-force OR over every
    corpus term with the prefix."""
    from datastream_io_spark.functions.tokenize import tokenize_simple
    from datastream_io_spark.operators.indexed_search import search_wildcard

    _, pdf = doc_ctx
    vocab = sorted({t for txt in pdf["text"] for t in tokenize_simple(txt)})
    for prefix in ("s", "w", "gr", "val"):
        expanded = [t for t in vocab if t.startswith(prefix)]
        assert expanded, prefix
        expected = brute_force_topk(pdf, " ".join(expanded), K, "or",
                                    tokenizer="simple")
        _check(search_wildcard(spark, doc_index, prefix + "*", K).collect(),
               expected)
    assert search_wildcard(spark, doc_index, "zzzz*", K).count() == 0


def test_wildcard_expansion_cap(spark, doc_index, doc_ctx):
    """max_expansions keeps the highest-df terms (df desc, term asc)."""
    from datastream_io_spark.operators.indexed_search import search_wildcard

    _, pdf = doc_ctx
    d = spark.read.parquet(os.path.join(doc_index, "dict")).toPandas()
    top2 = list(
        d[d["term"].str.startswith("s")]
        .sort_values(["df", "term"], ascending=[False, True])["term"][:2])
    assert len(top2) == 2
    expected = brute_force_topk(pdf, " ".join(top2), K, "or",
                                tokenizer="simple")
    _check(
        search_wildcard(spark, doc_index, "s*", K, max_expansions=2).collect(),
        expected)


def test_facet_counts_match_pandas(spark, doc_index, doc_ctx):
    """Q18: facet counts over the full match set ≡ pandas recount; the
    where= variant restricts the counted docs."""
    from datastream_io_spark.functions.tokenize import tokenize_simple
    from datastream_io_spark.operators.indexed_search import facet_counts

    _, pdf = doc_ctx
    langs = (spark.read.parquet(os.path.join(doc_index, "docs"))
             .select("doc_id", "lang").toPandas())
    pdf = pdf.merge(langs, on="doc_id")
    toks = pdf["text"].map(lambda t: set(tokenize_simple(t)))
    for mode, pred in (
        ("and", lambda s: {"window", "agg"} <= s),
        ("or", lambda s: bool({"window", "agg"} & s)),
    ):
        match = pdf[toks.map(pred).values]
        exp = (match.groupby("lang").size().sort_values(ascending=False))
        got = {r["lang"]: r["n_docs"] for r in facet_counts(
            spark, doc_index, "window agg", "lang", mode=mode).collect()}
        assert got == exp.to_dict(), mode

    wexp = (pdf[toks.map(lambda s: {"window", "agg"} <= s).values]
            .query("lang != 'en'").groupby("lang").size().to_dict())
    wgot = {r["lang"]: r["n_docs"] for r in facet_counts(
        spark, doc_index, "window agg", "lang", mode="and",
        where="lang <> 'en'").collect()}
    assert wgot == wexp
    assert facet_counts(spark, doc_index, "nosuchterm", "lang").count() == 0


def test_search_all_partitions_matches_unpartitioned(
        spark, pos_index, tmp_path):
    """r5: the global cross-partition top-k merges per-subindex
    candidates under plan-time GLOBAL statistics (Σdf, Σn_docs,
    Σsum_dl), so it must equal an unpartitioned index over the same
    corpus to 1e-9 — for and/or/phrase, at different n_splits, and
    with deletes applied to one subindex — with the dictionaries on the
    driver (the default) and past the gate (one union scan looks the
    terms up over every subindex), and the two placements agree."""
    import time as _time

    from datastream_io_spark.operators.indexed_search import delete_docs
    from datastream_io_spark.operators.partitioned import (
        build_partitioned_index, search_all_partitions)
    from tests.conftest import spark_placed

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "gap_root")
    build_partitioned_index(spark, corpus, root, by="lang", n_splits=2,
                            n_buckets=8, tokenizer="simple",
                            positions=True)

    def key(rows):
        return sorted((r["path"], round(r["score"], 9)) for r in rows)

    # job-count contract: the display read is the ONE job at any
    # number of partition values (AQE off for the union collect;
    # explicit docs schema — no per-subindex inference job): the
    # small dictionaries are looked up on the driver, and each
    # subindex's Σ df passes the single-task gate, so it ranks on the
    # driver and the merge runs in Python. Past the dictionary gate the
    # lookup adds ONE union-scan job. The caller's collect is
    # included: the result is a local relation
    sc = spark.sparkContext
    st = sc.statusTracker()
    answers = {}
    for placement, n_lookup_jobs in ((contextlib.nullcontext, 0),
                                     (spark_placed, 1)):
        with placement():
            for q, mode in [("window agg", "and"), ("window agg", "or"),
                            ("window agg", "phrase"), ("scan", "or"),
                            ("zzznope window", "and")]:
                g = search_all_partitions(spark, root, q, 10, mode,
                                          with_doc_cols=True).collect()
                m = search_indexed(spark, pos_index, q, 10, mode,
                                   with_doc_cols=True).collect()
                assert key(g) == key(m), (placement, q, mode)
                answers.setdefault((q, mode), []).append(key(g))

            group = f"gap_jobs_{n_lookup_jobs}"
            sc.setJobGroup(group, "job-count assertion")
            assert search_all_partitions(spark, root, "window agg", 5,
                                         "and", with_doc_cols=True
                                         ).collect()
            _time.sleep(0.5)
            n_jobs = len(st.getJobIdsForGroup(group))
            sc.setJobGroup(None, None)
            assert n_jobs == 1 + n_lookup_jobs, (placement, n_jobs)
    for case, (driver, spark_side) in answers.items():
        assert driver == spark_side, case

    # r5: proximity across the root == proximity on the mono index
    from datastream_io_spark.operators.indexed_search import search_near
    for slop, ordered in [(1, True), (2, False)]:
        g = search_all_partitions(spark, root, "window agg", 10, "near",
                                  with_doc_cols=True, slop=slop,
                                  ordered=ordered).collect()
        m = search_near(spark, pos_index, "window agg", 10, slop,
                        ordered, with_doc_cols=True).collect()
        assert key(g) == key(m) and g, (slop, ordered)

    # column contract: by-column leads, lang not duplicated in doc cols
    got = search_all_partitions(spark, root, "window agg", 3, "and",
                                with_doc_cols=True)
    assert got.columns == ["lang", "doc_id", "repo", "path", "commit",
                           "score"]
    assert search_all_partitions(spark, root, "window agg", 3).columns \
        == ["lang", "doc_id", "score"]

    # deletes inside one subindex are honored by the global merge
    sub = os.path.join(root, "lang=de")
    delete_docs(spark, sub, where="pmod(doc_id, 2) = 0", max_frac=None)
    dead = {r["path"] for r in spark.read.parquet(
        os.path.join(sub, "docs"))
        .where("pmod(doc_id, 2) = 0").select("path").collect()}
    assert dead
    g = search_all_partitions(spark, root, "window agg", 500, "or",
                              with_doc_cols=True).collect()
    assert g and not ({r["path"] for r in g} & dead)


def test_partitioned_facets_equal_global_without_docs_join(
        spark, doc_index, tmp_path):
    """r4 (VERDICT wrong #1): when the facet column is the partition
    key, facet counts come from per-subindex match counters — no doc_id
    join anywhere. Parity with the global path is exact (membership is
    score-independent), and corrupting every subindex docs/ file proves
    the docs table is never read."""
    import glob

    from datastream_io_spark.operators.indexed_search import (
        facet_counts, match_count)
    from datastream_io_spark.operators.partitioned import (
        build_partitioned_index, facet_counts_partitioned,
        search_partitioned)
    from datastream_io_spark.sources.scan import documents_as_corpus
    from tests.conftest import SF0001

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "facet_root")
    build_partitioned_index(spark, corpus, root, by="lang",
                            n_splits=2, n_buckets=8, tokenizer="simple")
    for q, mode in [("window agg", "and"), ("window agg", "or"),
                    ("nosuchterm", "and")]:
        glob_counts = [(r["lang"], r["n_docs"]) for r in
                       facet_counts(spark, doc_index, q, "lang",
                                    mode=mode).collect()]
        part_counts = [(r["lang"], r["n_docs"]) for r in
                       facet_counts_partitioned(spark, root, q,
                                                mode=mode).collect()]
        assert part_counts == glob_counts, (q, mode)
    # match_count is consistent with the facet sum
    total = sum(n for _, n in [(r["lang"], r["n_docs"]) for r in
                facet_counts_partitioned(spark, root,
                                         "window agg").collect()])
    assert total == match_count(spark, doc_index, "window agg", "and")

    # the partitioned path must never touch docs/: corrupt every
    # subindex docs file and count anyway
    victims = glob.glob(f"{root}/lang=*/docs/**/*.parquet",
                        recursive=True)
    assert victims
    for v in victims:
        with open(v, "wb") as f:
            f.write(b"NOT PARQUET")
    got = [(r["lang"], r["n_docs"]) for r in
           facet_counts_partitioned(spark, root, "window agg").collect()]
    assert got and got == [(r["lang"], r["n_docs"]) for r in
                           facet_counts(spark, doc_index, "window agg",
                                        "lang").collect()]
    # ...while the ranked search path (which DOES read docs for display
    # columns) is unaffected when not asking for them
    assert search_partitioned(spark, root, got[0][0], "window agg",
                              5).count() == 5


def test_facet_counts_respect_tombstones(spark, tmp_path):
    """Deleted docs must vanish from facet counts (kernel-level drop)."""
    from datastream_io_spark.operators.build import build_index
    from datastream_io_spark.operators.indexed_search import (
        delete_docs, facet_counts)

    corpus = documents_as_corpus(spark, SF0001)
    idx = str(tmp_path / "facet_del_idx")
    build_index(spark, corpus, idx, n_splits=2, n_buckets=8,
                tokenizer="simple", salt_threshold=50, n_salts=4)
    before = {r["lang"]: r["n_docs"] for r in facet_counts(
        spark, idx, "window", "lang", mode="or").collect()}
    assert "de" in before
    delete_docs(spark, idx, where="lang = 'de'", max_frac=None)
    after = {r["lang"]: r["n_docs"] for r in facet_counts(
        spark, idx, "window", "lang", mode="or").collect()}
    assert "de" not in after
    assert {k: v for k, v in before.items() if k != "de"} == after


def test_fuzzy_matches_bruteforce_or(spark, doc_index, doc_ctx):
    """Q20: Levenshtein expansion + OR scoring ≡ brute-force OR over
    every corpus term within the distance."""
    from datastream_io_spark.functions.tokenize import tokenize_simple
    from datastream_io_spark.operators.indexed_search import search_fuzzy

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    _, pdf = doc_ctx
    vocab = sorted({t for txt in pdf["text"] for t in tokenize_simple(txt)})
    for probe, d in (("hast", 2), ("kay", 1), ("scann", 1), ("ron", 2)):
        expanded = [t for t in vocab if lev(t, probe) <= d]
        assert expanded, (probe, d)
        expected = brute_force_topk(pdf, " ".join(expanded), K, "or",
                                    tokenizer="simple")
        _check(
            search_fuzzy(spark, doc_index, probe, K, max_dist=d).collect(),
            expected)
    assert search_fuzzy(spark, doc_index, "qqqqqqqq", K).count() == 0
    assert search_fuzzy(
        spark, doc_index, "", K, with_doc_cols=True).columns == [
        "doc_id", "repo", "path", "commit", "lang", "score"]


def test_searcher_wildcard_fuzzy_match_cold_path(spark, doc_index,
                                                 spark_dict):
    """Warm Searcher wildcard/fuzzy ≡ the cold module-level functions,
    with the dictionary on the driver (the default: vocabulary
    expansion, zero extra Spark jobs) and past the gate (Spark
    expansion scans) — and the two placements agree."""
    from datastream_io_spark.operators.indexed_search import (
        Searcher, search_fuzzy, search_wildcard)

    answers = {}
    for placement in (driver_dict, contextlib.nullcontext):
        with placement():
            s = Searcher(spark, doc_index)
            for prefix in ("s", "gr", "zz"):
                a = [(r.doc_id, r.score)
                     for r in s.search_wildcard(prefix, K).collect()]
                b = [(r.doc_id, r.score)
                     for r in search_wildcard(spark, doc_index, prefix,
                                              K).collect()]
                assert a == b, ("wildcard", placement, prefix)
                answers.setdefault(("wildcard", prefix), []).append(a)
            for probe, d in (("hast", 2), ("kay", 1), ("qqq", 1)):
                a = [(r.doc_id, r.score) for r in
                     s.search_fuzzy(probe, K, max_dist=d).collect()]
                b = [(r.doc_id, r.score)
                     for r in search_fuzzy(spark, doc_index, probe, K,
                                           max_dist=d).collect()]
                assert a == b, ("fuzzy", placement, probe)
                answers.setdefault(("fuzzy", probe), []).append(a)
            # cap parity too (the driver vocabulary reimplements the cap)
            a = [(r.doc_id, r.score) for r in
                 s.search_wildcard("s", K, max_expansions=2).collect()]
            b = [(r.doc_id, r.score)
                 for r in search_wildcard(spark, doc_index, "s", K,
                                          max_expansions=2).collect()]
            assert a == b, ("cap", placement)
            answers.setdefault(("cap",), []).append(a)
    for case, (driver, spark_side) in answers.items():
        assert driver == spark_side, case


def test_searcher_facets_match_cold_path(spark, doc_index, spark_dict):
    """Warm Searcher facet_counts ≡ the cold function, with the
    dictionary on the driver and past the gate, incl. where= and the
    empty case — and the two placements agree."""
    from datastream_io_spark.operators.indexed_search import (
        Searcher, facet_counts)

    answers = []
    for placement in (driver_dict, contextlib.nullcontext):
        with placement():
            s = Searcher(spark, doc_index)
            for q, mode, where in (("window agg", "and", None),
                                   ("window", "or", "lang <> 'en'"),
                                   ("nosuchterm", "and", None)):
                a = sorted((r["lang"], r["n_docs"]) for r in
                           s.facet_counts(q, "lang", mode,
                                          where).collect())
                b = sorted((r["lang"], r["n_docs"]) for r in
                           facet_counts(spark, doc_index, q, "lang", mode,
                                        where).collect())
                assert a == b, (placement, q, mode)
                answers.append(a)
    assert answers[:3] == answers[3:]


def test_partitioned_facets_one_job(spark, tmp_path):
    """r5 (VERDICT r4 wrong #3): the partition-key facet path answers
    the WHOLE root in one Spark job — term buckets are pure hashes
    (no dict lookup), every subindex's pruned scan unions into one
    membership kernel. V serial jobs would be the wrong shape at
    hundreds of tenants."""
    from datastream_io_spark.operators.partitioned import (
        build_partitioned_index,
        facet_counts_partitioned,
    )
    from datastream_io_spark.sources.scan import documents_as_corpus
    from tests.conftest import SF0001

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "onejob_root")
    build_partitioned_index(spark, corpus, root, by="lang",
                            n_splits=2, n_buckets=8, tokenizer="simple")
    sc = spark.sparkContext
    sc.setJobGroup("facet_one_job", "one-job facet assertion")
    try:
        got = facet_counts_partitioned(spark, root, "window agg",
                                       "and").collect()
    finally:
        sc.setJobGroup(None, None)
    assert got
    jobs = sc.statusTracker().getJobIdsForGroup("facet_one_job")
    # one REAL job (the union-scan + kernel + count query, AQE off
    # inside the function) + the trivial LocalTableScan collect of the
    # ≤V returned rows — constant at any V, never O(values)
    assert len(jobs) <= 2, jobs


def test_facet_counts_grouped_parity(spark, doc_index):
    """r5 (VERDICT r4 Missing #4): the no-match-set-join facet path for
    non-partition columns matches the global join path exactly —
    including under live deletes — and emits only per-(split, value)
    counters."""
    import shutil

    from datastream_io_spark.operators.indexed_search import (
        delete_docs,
        facet_counts,
        facet_counts_grouped,
    )

    for q, mode in [("window agg", "and"), ("window agg", "or"),
                    ("scan", "and"), ("nosuchterm", "and")]:
        want = [(r["lang"], r["n_docs"]) for r in
                facet_counts(spark, doc_index, q, "lang", mode).collect()]
        got = [(r["lang"], r["n_docs"]) for r in
               facet_counts_grouped(spark, doc_index, q, "lang",
                                    mode).collect()]
        assert got == want, (q, mode)

    # live tombstones resolve inside the kernel identically
    victim = doc_index + "_facetg"
    shutil.rmtree(victim, ignore_errors=True)
    shutil.copytree(doc_index, victim)
    delete_docs(spark, victim, where="lang = 'de'", max_frac=None)
    want = [(r["lang"], r["n_docs"]) for r in
            facet_counts(spark, victim, "window agg", "lang",
                         "and").collect()]
    got = [(r["lang"], r["n_docs"]) for r in
           facet_counts_grouped(spark, victim, "window agg", "lang",
                                "and").collect()]
    assert got == want and all(v != "de" for v, _ in got)
    shutil.rmtree(victim, ignore_errors=True)


def test_more_like_this_matches_bruteforce(spark, pos_index, pos_pdf):
    """r5 MLT: term selection = top tf·idf of the source doc (python
    reference recomputes df/idf from the corpus), ranking = BM25 OR
    over the selected terms minus the source doc."""
    import math
    from collections import Counter

    from datastream_io_spark.functions.tokenize import tokenizer_for
    from datastream_io_spark.operators.indexed_search import (
        mlt_terms, more_like_this)

    pure, _ = tokenizer_for("simple")
    n = len(pos_pdf)
    toks = {int(r.doc_id): pure(r.text) for r in pos_pdf.itertuples()}
    df = Counter()
    for t in toks.values():
        df.update(set(t))

    corpus = documents_as_corpus(spark, SF0001)
    for src in sorted(toks)[:3]:
        tf = Counter(toks[src])
        exp_sel = [t for _, t in sorted(
            (-tf[t] * math.log1p((n - df[t] + 0.5) / (df[t] + 0.5)), t)
            for t in tf)[:20]]
        got_sel = mlt_terms(spark, pos_index, src, 20, corpus=corpus)
        assert got_sel == exp_sel, src

        exp = [e for e in brute_force_topk(
            pos_pdf, " ".join(exp_sel), k=11, mode="or")
            if e["doc_id"] != src][:10]
        got = more_like_this(spark, pos_index, src, 10, 20,
                             corpus=corpus).collect()
        assert [r.doc_id for r in got] == [e["doc_id"] for e in exp]
        for g, e in zip(got, exp):
            assert g.score == pytest.approx(e["score"], abs=1e-9)
        assert all(r.doc_id != src for r in got)

    with pytest.raises(ValueError, match="not in index"):
        mlt_terms(spark, pos_index, 10**9, 20, corpus=corpus)
    with pytest.raises(ValueError, match="store_content"):
        mlt_terms(spark, pos_index, next(iter(sorted(toks))), 20)


def test_warm_near_regex_and_batched_modes_parity(spark, pos_index):
    """r5: warm Searcher near/regex and the 'near'/'regex' batched
    modes all equal their cold single-query answers."""
    from datastream_io_spark.operators.indexed_search import (
        Searcher, search_many, search_near, search_regex)

    s = Searcher(spark, pos_index)

    def key(df):
        return [(r.doc_id, round(r.score, 9)) for r in df.collect()]

    nears = {"n1": ("window agg", 1, False), "n2": ("agg window", 2, True),
             "n3": ("scan merge sort", 3, False)}
    for qid, (q, slop, ordered) in nears.items():
        cold = key(search_near(spark, pos_index, q, 10, slop, ordered))
        assert key(s.search_near(q, 10, slop, ordered)) == cold, qid

    for slop, ordered in [(1, False), (2, True)]:
        batch = search_many(
            spark, pos_index,
            {qid: q for qid, (q, _, _) in nears.items()}, 10, "near",
            slop=slop, ordered=ordered)
        wbatch = s.search_many(
            {qid: q for qid, (q, _, _) in nears.items()}, 10, "near",
            slop=slop, ordered=ordered)
        for df in (batch, wbatch):
            got = {}
            for r in df.collect():
                got.setdefault(r.query_id, []).append(
                    (r.doc_id, round(r.score, 9)))
            for qid, (q, _, _) in nears.items():
                cold = key(search_near(spark, pos_index, q, 10, slop,
                                       ordered))
                assert got.get(qid, []) == cold, (qid, slop, ordered)

    pats = {"r1": "s.*a.*", "r2": "w.+w", "r3": "(scan|sort)",
            "r4": "zz.*"}
    for qid, pat in pats.items():
        cold = key(search_regex(spark, pos_index, pat, 10))
        assert key(s.search_regex(pat, 10)) == cold, qid
    for df in (search_many(spark, pos_index, pats, 10, "regex"),
               s.search_many(pats, 10, "regex")):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, []).append(
                (r.doc_id, round(r.score, 9)))
        for qid, pat in pats.items():
            cold = key(search_regex(spark, pos_index, pat, 10))
            assert got.get(qid, []) == cold, qid


def test_facet_counts_all_partitions_matches_global(spark, doc_index,
                                                    tmp_path):
    """r5: cross-partition facets on an arbitrary column equal the
    no-join grouped facets over an unpartitioned index of the same
    corpus (membership is score-independent, so per-subindex local
    statistics never enter)."""
    from datastream_io_spark.operators.indexed_search import (
        facet_counts_grouped)
    from datastream_io_spark.operators.partitioned import (
        build_partitioned_index, facet_counts_all_partitions)

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "far_root")
    build_partitioned_index(spark, corpus, root, by="lang", n_splits=2,
                            n_buckets=8, tokenizer="simple")
    for q, mode, col in [("window agg", "and", "repo"),
                         ("scan", "or", "repo"),
                         ("zzznope", "and", "repo")]:
        got = [(r[col], r.n_docs) for r in facet_counts_all_partitions(
            spark, root, q, col, mode).collect()]
        exp = [(r[col], r.n_docs) for r in facet_counts_grouped(
            spark, doc_index, q, col, mode).collect()]
        assert got == exp, (q, mode, col)

    # job-count contract over the 5 subindexes, the caller's collect
    # included (the result is an ArrowFrame): ONE collect of the union
    # (AQE off); each subindex's docs schema comes from a pyarrow footer
    # read, not a Spark inference job
    import time as _time

    sc = spark.sparkContext
    sc.setJobGroup("far_jobs", "cross-partition facet counts")
    try:
        assert facet_counts_all_partitions(spark, root, "window agg",
                                           "repo").collect()
    finally:
        sc.setJobGroup(None, None)
    _time.sleep(0.5)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("far_jobs"))
    assert n_jobs == 1, n_jobs


def test_docs_scan_runs_no_schema_job(spark, doc_index):
    """``Searcher._docs_df`` reads docs/ with the schema of one footer
    read by pyarrow (plus the ``split_id`` partition), so a one-shot
    ``facet_counts`` runs no schema-inference job: 4 jobs, caller's
    collect included (5 with the inference), and the schema equals the
    one Spark infers."""
    import time as _time

    from datastream_io_spark.operators.indexed_search import (
        Searcher, facet_counts)

    sc = spark.sparkContext
    sc.setJobGroup("fc_jobs", "one-shot facet counts")
    try:
        assert facet_counts(spark, doc_index, "window agg", "repo").collect()
    finally:
        sc.setJobGroup(None, None)
    _time.sleep(0.5)
    assert len(sc.statusTracker().getJobIdsForGroup("fc_jobs")) == 4
    inferred = spark.read.parquet(f"{doc_index}/docs").schema
    assert Searcher(spark, doc_index)._docs_df.schema == inferred


def test_warm_more_like_this_matches_cold(spark, pos_index):
    """r5: Searcher.more_like_this (driver dict + resolved docs scan)
    equals the cold module function, source exclusion included."""
    from datastream_io_spark.operators.indexed_search import (
        Searcher, more_like_this)

    corpus = documents_as_corpus(spark, SF0001)
    s = Searcher(spark, pos_index)
    docs = [r.doc_id for r in spark.read.parquet(
        f"{pos_index}/docs").select("doc_id").orderBy("doc_id")
        .limit(3).collect()]
    for src in docs:
        a = [(r.doc_id, round(r.score, 9)) for r in
             s.more_like_this(src, 10, 20, corpus=corpus).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             more_like_this(spark, pos_index, src, 10, 20,
                            corpus=corpus).collect()]
        assert a == b and a, src
    with pytest.raises(ValueError, match="not in index"):
        s.more_like_this(10**9, corpus=corpus)


def test_maintain_all_partitions_lifecycle(spark, tmp_path):
    """r5: delete/purge/sidecars across every subindex of a root —
    deletes are honored by the global search, purge removes the
    tombstones while the root keeps answering, sidecars refresh."""
    from datastream_io_spark.operators.dictindex import (
        prefix_expansion_df)
    from datastream_io_spark.operators.partitioned import (
        build_partitioned_index, maintain_all_partitions,
        search_all_partitions)

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "maint_root")
    build_partitioned_index(spark, corpus, root, by="lang", n_splits=2,
                            n_buckets=8, tokenizer="simple")
    before = search_all_partitions(spark, root, "window agg", 500,
                                   "or", with_doc_cols=True).collect()
    assert before

    with pytest.raises(ValueError, match="doc_ids"):
        maintain_all_partitions(spark, root, "delete", doc_ids=[1])
    with pytest.raises(ValueError, match="op must be"):
        maintain_all_partitions(spark, root, "compact")

    counts = maintain_all_partitions(
        spark, root, "delete", where="pmod(doc_id, 3) = 0",
        max_frac=None)
    assert counts and all(n > 0 for n in counts.values())
    mid = search_all_partitions(spark, root, "window agg", 500, "or",
                                with_doc_cols=True).collect()
    assert 0 < len(mid) < len(before)

    purged = maintain_all_partitions(spark, root, "purge")
    assert all(p["n_docs"] > 0 for p in purged.values())
    for v in counts:
        assert not os.path.exists(
            os.path.join(root, f"lang={v}", "tombstones"))
    after = search_all_partitions(spark, root, "window agg", 500, "or",
                                  with_doc_cols=True).collect()
    assert {r.path for r in after} == {r.path for r in mid}

    side = maintain_all_partitions(spark, root, "sidecars")
    assert all(m["n_terms"] > 0 for m in side.values())
    for v in counts:
        assert prefix_expansion_df(
            spark, os.path.join(root, f"lang={v}"), "s") is not None


def test_boolean_all_partitions_matches_unpartitioned(
        spark, pos_index, tmp_path):
    """r5: the global boolean search over a partitioned root equals
    search_boolean on an unpartitioned index — operators, NOT, quoted
    and proximity phrases, and wildcard/fuzzy leaves (expanded against
    the union of subindex dictionaries, capped by global df) — both the
    one-shot module function and a warm handle, with the dictionaries
    on the driver (the default) and past the gate (union scans expand
    the leaves and look the terms up), and the two placements agree."""
    import time as _time

    from datastream_io_spark.operators.boolean_search import (
        search_boolean)
    from datastream_io_spark.operators.partitioned import (
        PartitionedSearcher, build_partitioned_index,
        search_boolean_all_partitions)
    from tests.conftest import spark_placed

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "gbool_root")
    build_partitioned_index(spark, corpus, root, by="lang", n_splits=2,
                            n_buckets=8, tokenizer="simple",
                            positions=True)

    def key(rows):
        return sorted((r["path"], round(r["score"], 9)) for r in rows)

    sc = spark.sparkContext
    st = sc.statusTracker()
    answers = {}
    # the one-shot "agg AND s*" costs no job with driver dictionaries;
    # past the gate, ONE union scan expands s* over every subindex and
    # ONE looks the terms up (each subindex still ranks on the driver)
    for placement, n_jobs_want in ((contextlib.nullcontext, 0),
                                   (spark_placed, 2)):
        with placement():
            ps = PartitionedSearcher(spark, root)
            for q in ["window AND (agg OR scan) NOT merge",
                      '"window agg" OR scan',
                      '"window agg"~2 NOT merge',
                      "agg AND s*",
                      "agg AND windoq~1",
                      "agg NOT s*",
                      "zzznope AND window"]:
                g = search_boolean_all_partitions(
                    spark, root, q, 10**6, with_doc_cols=True).collect()
                w = ps.search_boolean(q, 10**6,
                                      with_doc_cols=True).collect()
                m = search_boolean(spark, pos_index, q, 10**6,
                                   with_doc_cols=True).collect()
                assert key(g) == key(m), (placement, q)
                assert key(w) == key(m), (placement, q)
                answers.setdefault(q, []).append(key(g))

            group = f"psb_oneshot_{n_jobs_want}"
            sc.setJobGroup(group, "one-shot global boolean query")
            assert search_boolean_all_partitions(spark, root,
                                                 "agg AND s*").collect()
            _time.sleep(0.5)
            n_jobs = len(st.getJobIdsForGroup(group))
            sc.setJobGroup(None, None)
            assert n_jobs == n_jobs_want, (placement, n_jobs)
    for q, (driver, spark_side) in answers.items():
        assert driver == spark_side, q

    # a capped leaf keeps the expansions of highest GLOBAL df in both
    # placements: s* capped at 3 is the unpartitioned index's top 3
    from datastream_io_spark.operators.indexed_search import Searcher

    top3 = [r["term"] for r in
            Searcher(spark, pos_index)._expand("s", "wildcard", 0, 3)]
    want = key(search_boolean(spark, pos_index,
                              "agg OR " + " OR ".join(top3), 10**6,
                              with_doc_cols=True).collect())
    for placement in (contextlib.nullcontext, spark_placed):
        with placement():
            assert key(search_boolean_all_partitions(
                spark, root, "agg OR s*", 10**6, with_doc_cols=True,
                max_expansions=3).collect()) == want, placement
    assert key(search_boolean_all_partitions(
        spark, root, "window AND agg", 10**6,
        with_doc_cols=True).collect())  # non-empty sanity

    # warm boolean economy: expansion and planning on the driver, each
    # subindex ranks on the driver under the single-task gate and the
    # merge runs in Python — no Spark job, the caller's collect of the
    # local-relation result included
    ps = PartitionedSearcher(spark, root)
    sc.setJobGroup("psb_jobs", "warm global boolean query")
    assert ps.search_boolean("agg AND s*").collect()
    _time.sleep(0.5)
    n_jobs = len(st.getJobIdsForGroup("psb_jobs"))
    sc.setJobGroup(None, None)
    assert n_jobs == 0, n_jobs


def test_partitioned_searcher_matches_cold(spark, tmp_path):
    """r5: the warm PartitionedSearcher (per-subindex driver dicts +
    resolved scans, merged stats precomputed) equals the cold
    cross-partition search on every mode and plans with zero Spark
    jobs — a gated global query costs no job at all without display
    columns."""
    import time as _time

    from datastream_io_spark.operators.partitioned import (
        PartitionedSearcher, build_partitioned_index,
        search_all_partitions)
    from tests.conftest import spark_placed

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "ps_root")
    build_partitioned_index(spark, corpus, root, by="lang", n_splits=2,
                            n_buckets=8, tokenizer="simple",
                            positions=True)
    ps = PartitionedSearcher(spark, root)

    def key(rows):
        return [(r[0], r[1], round(r[2], 9)) for r in
                ((x["lang"], x["doc_id"], x["score"]) for x in rows)]

    cases = [("window agg", "and", {}), ("window agg", "or", {}),
             ("window agg", "phrase", {}), ("scan", "or", {}),
             ("window agg", "near", {"slop": 1, "ordered": True}),
             ("zzznope window", "and", {})]
    for q, mode, kw in cases:
        a = ps.search(q, 10, mode, **kw).collect()
        b = search_all_partitions(spark, root, q, 10, mode,
                                  **kw).collect()
        assert key(a) == key(b), (q, mode)
    # past the dictionary gate (warm and one-shot lookups are union
    # scans) both still give the driver dictionaries' answer
    with spark_placed():
        cold_ps = PartitionedSearcher(spark, root)
        for q, mode, kw in cases:
            want = key(ps.search(q, 10, mode, **kw).collect())
            assert key(cold_ps.search(q, 10, mode, **kw).collect()) \
                == want, (q, mode)
            assert key(search_all_partitions(
                spark, root, q, 10, mode, **kw).collect()) == want, \
                (q, mode)
    # doc-col output parity too
    a = ps.search("window agg", 5, "and", with_doc_cols=True).collect()
    b = search_all_partitions(spark, root, "window agg", 5, "and",
                              with_doc_cols=True).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    # zero-job economy: planning is driver-side, and each subindex's
    # Σ df passes the single-task gate, so it ranks on the driver and
    # the merge runs in Python. The result is built from Arrow (a local
    # relation), so the caller's .collect(), measured INSIDE the group,
    # adds none.
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("ps_jobs", "warm global query")
    assert ps.search("window agg", 10, "and").collect()
    _time.sleep(0.5)
    n_jobs = len(st.getJobIdsForGroup("ps_jobs"))
    sc.setJobGroup(None, None)
    assert n_jobs == 0, n_jobs

    # routed per-value handle (partition-local statistics)
    r = ps.route("de").search("window agg", 5, "and").collect()
    assert r
    with pytest.raises(KeyError):
        ps.route("nosuchlang")


def test_partitioned_searcher_batched_matches_single(spark, tmp_path):
    """r5: PartitionedSearcher.search_many — each query's rows in the
    batch equal its individual global search, for every batched mode."""
    from datastream_io_spark.operators.partitioned import (
        PartitionedSearcher, build_partitioned_index)

    corpus = documents_as_corpus(spark, SF0001)
    root = str(tmp_path / "psm_root")
    build_partitioned_index(spark, corpus, root, by="lang", n_splits=2,
                            n_buckets=8, tokenizer="simple",
                            positions=True)
    ps = PartitionedSearcher(spark, root)
    qs = {"q1": "window agg", "q2": "scan", "q3": "merge sort window",
          "q4": "zzznope window"}
    for mode, kw in [("and", {}), ("or", {}), ("phrase", {}),
                     ("near", {"slop": 2, "ordered": False})]:
        got = {}
        for r in ps.search_many(qs, 10, mode, **kw).collect():
            got.setdefault(r.query_id, []).append(
                (r.lang, r.doc_id, round(r.score, 9)))
        for qid, q in qs.items():
            single = [(r["lang"], r["doc_id"], round(r["score"], 9))
                      for r in ps.search(q, 10, mode, **kw).collect()]
            assert got.get(qid, []) == single, (qid, mode)


def test_explain_query_reports_plan_facts(spark, pos_index):
    """r5: explain_query returns plan facts consistent with the dict
    and the executed plans — per-term df/idf, bucket pruning, expansion
    lists, boolean AST, near window — without touching postings."""
    from datastream_io_spark.operators.indexed_search import (
        explain_query, search_regex)

    dict_pdf = spark.read.parquet(f"{pos_index}/dict").toPandas() \
        .set_index("term")
    e = explain_query(spark, pos_index, "window agg", "and")
    assert e["n_docs"] > 0 and e["n_buckets"] == 8
    assert [t["term"] for t in e["terms"]] == ["agg", "window"]
    for t in e["terms"]:
        assert t["df"] == int(dict_pdf.loc[t["term"], "df"])
        assert t["idf"] == round(float(dict_pdf.loc[t["term"], "idf"]), 6)
    assert len(e["buckets_touched"]) <= 2

    e2 = explain_query(spark, pos_index, "s.*a.*", "regex")
    got_ids = {r.doc_id for r in
               search_regex(spark, pos_index, "s.*a.*", 10**6).collect()}
    assert set(e2["expansion"]) == {
        t for t in dict_pdf.index if __import__("re").fullmatch(
            "s.*a.*", t)}
    assert e2["resolved_mode"] == "or" and got_ids

    e3 = explain_query(spark, pos_index,
                       "window AND (agg OR scan) NOT merge", "boolean")
    assert e3["tree"][0] == "and"
    assert set(e3["positive_terms"]) == {"window", "agg", "scan"}
    assert {t["term"] for t in e3["terms"]} == {"window", "agg",
                                                "scan", "merge"}

    e4 = explain_query(spark, pos_index, "window agg", "near",
                       slop=3, ordered=True)
    assert e4["near"] == {"terms": ["window", "agg"], "slop": 3,
                          "ordered": True, "window": 4}
