"""Multi-worker build contract (jobs/build_worker.py semantics): two
workers building disjoint split subsets of a shared index, then a
separate finalize, must produce an index identical to a single-process
build — the basis of the N→4N executor scaling evidence."""

import pytest
from pyspark.sql import functions as F

from datastream_io_spark.operators.build import (
    build_index,
    build_segment,
    finalize_index,
    stage_corpus,
)
from datastream_io_spark.sources.manifest import done_splits, pending_splits
from datastream_io_spark.sources.scan import documents_as_corpus
from tests.conftest import SF0001

# these tests pin the DISTRIBUTED build (Spark phases, their resume,
# parallelism invariance, fleets); the in-process gate would otherwise
# move their small corpora to the driver
pytestmark = pytest.mark.usefixtures("distributed_build")


def _fingerprint(spark, index_dir):
    rows = spark.read.parquet(f"{index_dir}/postings").select(
        "term", "split_id", "df", "cf",
        F.md5(F.to_json("blocks")).alias("h"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_worker_partitioned_build_equals_single(spark, tmp_path):
    corpus = documents_as_corpus(spark, SF0001)
    multi, single = str(tmp_path / "multi"), str(tmp_path / "single")

    # coordinator: stage-only
    info = stage_corpus(spark, corpus, multi, 4, 8, "simple")
    # "worker 0" and "worker 1" each own split_id % 2 == worker_id
    for wid in (0, 1):
        mine = [s for s in pending_splits(multi, info["n_splits"])
                if s % 2 == wid]
        for s in mine:
            build_segment(spark, multi, s, info, salt_threshold=50, n_salts=4)
    assert done_splits(multi) == {0, 1, 2, 3}
    finalize_index(spark, multi, info, salt_threshold=50, n_salts=4)

    build_index(spark, corpus, single, n_splits=4, n_buckets=8,
                tokenizer="simple", salt_threshold=50, n_salts=4)
    assert _fingerprint(spark, multi) == _fingerprint(spark, single)


def test_dynamic_claims_disjoint_and_complete(spark, tmp_path):
    """Dynamic split claiming (jobs/build_worker.py default): claims are
    exclusive, a claiming fleet builds every split exactly once, and
    release_claims drops only stale (undone) claims."""
    from datastream_io_spark.sources.manifest import (
        claim_split, release_claims)

    corpus = documents_as_corpus(spark, SF0001)
    multi = str(tmp_path / "claimed")
    info = stage_corpus(spark, corpus, multi, 4, 8, "simple")

    assert claim_split(multi, 0, "w0") is True
    assert claim_split(multi, 0, "w1") is False  # exclusive

    # two "workers" pulling lazily: every split claimed exactly once
    built = {"w0": [], "w1": []}
    for wid in ("w0", "w1"):
        for s in pending_splits(multi, info["n_splits"]):
            if claim_split(multi, s, wid):
                build_segment(spark, multi, s, info,
                              salt_threshold=50, n_salts=4)
                built[wid].append(s)
    # w0 already held split 0's claim from the exclusivity probe: it was
    # never built. release stale claims (only undone ones) and re-pull.
    assert done_splits(multi) == {1, 2, 3}
    assert release_claims(multi) == 1  # just split 0's stale claim
    for s in pending_splits(multi, info["n_splits"]):
        if claim_split(multi, s, "w1"):
            build_segment(spark, multi, s, info, salt_threshold=50, n_salts=4)
            built["w1"].append(s)
    assert done_splits(multi) == {0, 1, 2, 3}
    assert sorted(built["w0"] + built["w1"]) == [0, 1, 2, 3]
    assert not (set(built["w0"]) & set(built["w1"]))

    finalize_index(spark, multi, info, salt_threshold=50, n_salts=4)
    single = str(tmp_path / "single2")
    build_index(spark, corpus, single, n_splits=4, n_buckets=8,
                tokenizer="simple", salt_threshold=50, n_salts=4)
    assert _fingerprint(spark, multi) == _fingerprint(spark, single)


def test_sharded_stage_equals_monolithic(spark, tmp_path):
    """Sharded phase A (plan → per-split worker tasks → commit) must
    stage byte-equal rows with IDENTICAL doc ids to the single-job
    stage_corpus — ids are frozen forever, so the two paths can never
    be allowed to drift."""
    from datastream_io_spark.operators.build import (
        stage_commit, stage_plan, stage_split)
    from datastream_io_spark.sources.manifest import claim_task

    corpus = documents_as_corpus(spark, SF0001)
    mono, shard = str(tmp_path / "mono"), str(tmp_path / "shard")
    info_m = stage_corpus(spark, corpus, mono, 4, 8, "simple")

    plan = stage_plan(spark, corpus, shard, 4, 8, "simple")
    assert plan["split_counts"] == info_m["split_counts"]
    assert plan["split_offsets"] == info_m["split_offsets"]
    # two "workers" claim splits dynamically; claims are exclusive
    assert claim_task(shard, "sclaim_0000", "w0") is True
    assert claim_task(shard, "sclaim_0000", "w1") is False
    for s in range(4):
        stage_split(spark, corpus, shard, s, plan)
    info_s = stage_commit(shard, plan)
    assert info_s == info_m

    cols = ["doc_id", "repo", "path", "commit", "lang", "content_sha256"]

    def staged_rows(idx):
        return sorted(
            tuple(r[c] for c in cols) for r in
            spark.read.parquet(f"{idx}/staged_corpus").select(cols).collect())

    assert staged_rows(mono) == staged_rows(shard)
    # re-running a staged split is a no-op (marker short-circuit)
    stage_split(spark, corpus, shard, 0, plan)
    assert staged_rows(mono) == staged_rows(shard)


def test_parallel_finalize_tasks_equal_single(spark, tmp_path):
    """Decomposed finalize (per-bucket postings/dict tasks + per-split
    docs tasks + pure-Python commit), run task-by-task in scrambled
    order like a worker fleet would, lands an index byte-identical to
    the one-shot finalize_index."""
    import json

    from datastream_io_spark.operators.build import (
        finalize_commit,
        finalize_docs_splits,
        finalize_postings_buckets,
        finalize_reset,
    )

    corpus = documents_as_corpus(spark, SF0001)
    fleet, single = str(tmp_path / "fleet"), str(tmp_path / "single3")
    info = stage_corpus(spark, corpus, fleet, 3, 8, "simple")
    for s in range(3):
        build_segment(spark, fleet, s, info, salt_threshold=50, n_salts=4)
    finalize_reset(fleet)
    # commit must refuse while tasks are missing
    try:
        finalize_commit(fleet, info)
        raise AssertionError("commit accepted an incomplete finalize")
    except RuntimeError as e:
        assert "incomplete" in str(e)
    # scrambled task order, one task per call — the fleet shape
    for k in (5, 0, 7, 2, 1, 6, 3, 4):
        finalize_postings_buckets(spark, fleet, info, [k])
    for s in (2, 0, 1):
        finalize_docs_splits(spark, fleet, info, [s])
    stats = finalize_commit(fleet, info, salt_threshold=50, n_salts=4)

    build_index(spark, corpus, single, n_splits=3, n_buckets=8,
                tokenizer="simple", salt_threshold=50, n_salts=4)
    assert _fingerprint(spark, fleet) == _fingerprint(spark, single)
    with open(f"{single}/stats.json") as f:
        stats_single = json.load(f)
    assert stats == stats_single

    def dict_rows(idx):
        return sorted(
            (r["term"], int(r["df"]), int(r["cf"]), float(r["idf"]))
            for r in spark.read.parquet(f"{idx}/dict").collect())

    assert dict_rows(fleet) == dict_rows(single)
    with open(f"{fleet}/manifest/merge.json") as f:
        m_fleet = json.load(f)
    with open(f"{single}/manifest/merge.json") as f:
        m_single = json.load(f)
    m_single.pop("phase_sec", None)  # wall-clock bookkeeping, not lineage
    assert m_fleet == m_single

    # answers identical at the search surface too
    from datastream_io_spark.operators.indexed_search import search_indexed
    a = [(r.doc_id, r.score) for r in
         search_indexed(spark, fleet, "window agg", 10, "or").collect()]
    b = [(r.doc_id, r.score) for r in
         search_indexed(spark, single, "window agg", 10, "or").collect()]
    assert a == b


def test_empty_splits_build_and_search(spark, tmp_path):
    """n_splits far above the doc spread leaves some splits EMPTY —
    they must write no segment/dl dirs, and finalize + search must be
    unaffected."""
    corpus = documents_as_corpus(spark, SF0001).limit(7)
    idx = str(tmp_path / "sparse")
    build_index(spark, corpus, idx, n_splits=16, n_buckets=8,
                tokenizer="simple", salt_threshold=50, n_salts=4)
    import json
    import os

    with open(f"{idx}/staging.json") as f:
        info = json.load(f)
    empty = [s for s in range(16)
             if info["split_counts"].get(str(s), 0) == 0]
    assert empty, "fixture unexpectedly filled all 16 splits"
    for s in empty:
        assert not os.path.exists(f"{idx}/segments/split_{s:04d}")
    from datastream_io_spark.operators.indexed_search import search_indexed
    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == 7
    assert search_indexed(spark, idx, "window", 5, "or").count() >= 0


def test_partitioned_fleet_cli_equals_library_build(spark, tmp_path):
    """jobs/build_partitioned.py (plan → claiming workers → commit)
    must land a root identical to build_partitioned_index's serial
    loop; stale claims block nothing but scheduling (completion truth
    is each subindex's _INDEX_SUCCESS)."""
    import json
    import os

    import pytest

    from jobs.build_partitioned import main as pb_main
    from datastream_io_spark.operators.partitioned import (
        build_partitioned_index, read_partitioned, search_partitioned)
    from datastream_io_spark.sources.scan import documents_as_corpus

    corpus = documents_as_corpus(spark, SF0001)
    src = str(tmp_path / "corpus_src")
    corpus.write.mode("overwrite").parquet(src)
    root = str(tmp_path / "fleet_root")
    args = ["--src", src, "--root", root, "--by", "lang",
            "--splits", "2", "--buckets", "8", "--tokenizer", "simple"]
    langs = sorted(r[0] for r in corpus.select("lang").distinct().collect())

    assert pb_main(args + ["--plan"]) == 0
    with open(f"{root}/partitioned_plan.json") as f:
        assert json.load(f)["values"] == langs

    # a crashed worker's stale claim: the value is skipped by workers…
    os.makedirs(f"{root}/manifest", exist_ok=True)
    open(f"{root}/manifest/vclaim_{langs[0]}", "w").close()
    assert pb_main(args) == 0  # "worker 1" builds the unclaimed values
    with pytest.raises(RuntimeError, match="incomplete"):
        pb_main(args + ["--commit"])
    # …until the claim is released and a worker re-pulls
    os.unlink(f"{root}/manifest/vclaim_{langs[0]}")
    assert pb_main(args) == 0
    assert pb_main(args + ["--commit"]) == 0

    lib_root = str(tmp_path / "lib_root")
    build_partitioned_index(spark, corpus, lib_root, by="lang",
                            n_splits=2, n_buckets=8, tokenizer="simple")
    assert read_partitioned(root) == read_partitioned(lib_root)
    for lang in langs:
        a = [(r.doc_id, round(r.score, 9)) for r in search_partitioned(
            spark, root, lang, "window agg", 10, "and").collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in search_partitioned(
            spark, lib_root, lang, "window agg", 10, "and").collect()]
        assert a == b, lang


def test_stage_uses_source_split_partition_column(spark, tmp_path):
    """A source partitioned on the split expression (the documented
    petabyte layout) stages through its split_id partition column —
    per-task scans PRUNE to their splits (plan-asserted) and the ids
    are identical to staging the unpartitioned source."""
    from pyspark.sql import functions as F

    from datastream_io_spark.operators.build import (
        _with_split, stage_commit, stage_plan, stage_splits)
    from datastream_io_spark.plans import scan_info

    corpus = documents_as_corpus(spark, SF0001)
    src = str(tmp_path / "presplit_src")
    (corpus.withColumn(
        "split_id",
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4)).cast("int"))
     .write.mode("overwrite").partitionBy("split_id").parquet(src))
    pre = spark.read.parquet(src)

    # the per-task filter lands on the PARTITION column → pruned scan
    filtered = _with_split(pre, 4).where(F.col("split_id").isin([1, 2]))
    scans = scan_info(filtered)
    assert scans and "split_id" in scans[0]["PartitionFilters"]

    shard = str(tmp_path / "from_presplit")
    plan = stage_plan(spark, pre, shard, 4, 8, "simple")
    stage_splits(spark, pre, shard, [0, 1], plan)
    stage_splits(spark, pre, shard, [2, 3], plan)
    stage_commit(shard, plan)

    mono = str(tmp_path / "from_plain")
    info_m = stage_corpus(spark, corpus, mono, 4, 8, "simple")
    assert plan["split_counts"] == info_m["split_counts"]
    cols = ["doc_id", "repo", "path", "commit", "content_sha256"]

    def rows(idx):
        return sorted(tuple(r[c] for c in cols) for r in spark.read
                      .parquet(f"{idx}/staged_corpus").select(cols).collect())

    assert rows(shard) == rows(mono)

    # a wrong split column is caught at plan time
    bad = corpus.withColumn("split_id", F.lit(7))
    try:
        stage_plan(spark, bad, str(tmp_path / "bad"), 4, 8, "simple")
        raise AssertionError("out-of-range split_id accepted")
    except ValueError as e:
        assert "outside" in str(e)


def test_stage_plan_rejects_cross_split_duplicate_keys(spark, tmp_path):
    """A source-provided split_id that is NOT a pure function of the
    doc key puts duplicates of one key into different splits; the old
    per-split distinct counting matched the per-split staging counts
    and silently indexed the doc twice under two doc_ids (ADVICE r4).
    stage_plan must refuse at plan time."""
    from datastream_io_spark.operators.build import stage_plan

    corpus = documents_as_corpus(spark, SF0001).limit(20)
    impure = corpus.withColumn("split_id", F.lit(0)).unionByName(
        corpus.limit(3).withColumn("split_id", F.lit(1)))
    try:
        stage_plan(spark, impure, str(tmp_path / "impure"), 4, 8, "simple")
        raise AssertionError("cross-split duplicate keys accepted")
    except ValueError as e:
        assert "not a pure function" in str(e)


def test_stage_corpus_validates_source_split_column(spark, tmp_path):
    """The monolithic stage_corpus checks a source-supplied split_id
    column like stage_plan does: a duplicate key straddling two splits
    and out-of-range values both raise before anything is staged."""
    corpus = documents_as_corpus(spark, SF0001)
    straddle = corpus.withColumn("split_id", F.lit(0)).unionByName(
        corpus.orderBy("repo", "path", "commit").limit(3)
        .withColumn("split_id", F.lit(1)))
    idx = tmp_path / "straddle"
    try:
        stage_corpus(spark, straddle, str(idx), 4, 8, "simple")
        raise AssertionError("cross-split duplicate keys accepted")
    except ValueError as e:
        assert "not a pure function" in str(e)
    assert not (idx / "staged_corpus").exists()

    try:
        stage_corpus(spark, corpus.withColumn("split_id", F.lit(7)),
                     str(tmp_path / "range"), 4, 8, "simple")
        raise AssertionError("out-of-range split_id accepted")
    except ValueError as e:
        assert "outside" in str(e)
