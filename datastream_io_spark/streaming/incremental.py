"""ST8 — incremental index ingest + finalize (SURVEY.md §2.10, §3.3).

dsio's restream→sink shape [pub:dsio], rebuilt for the index engine:
``writeStream.foreachBatch(ingest_batch)`` stages each micro-batch of
corpus rows exactly once (manifest-guarded against foreachBatch
re-delivery), then ``finalize_stream_index`` turns the staged data into
the SAME on-disk index layout the batch builder produces — so
``search_indexed`` works on it unchanged, and stream-batch equivalence
is testable at the search surface.

Staging keeps raw (term, doc_id, tf, dl) rows instead of encoded
blocks: BM25's tf-normalization needs the FINAL corpus avgdl, which an
incremental ingest cannot know mid-stream. Encoding once at finalize
(batch_id plays the role of split_id; arrival-ordered doc ids keep
batch doc ranges contiguous and disjoint, so the run merge is the same
pure-Column concat) avoids a decode→re-encode pass.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datastream_io_spark import B, K1
from datastream_io_spark.operators import postings as P
from datastream_io_spark.operators.build import (
    SEGMENT_SCHEMA,
    check_not_purged,
    encode_sorted,
)
from datastream_io_spark.sources import manifest as M


# per-process watermark memo: the full manifest scan runs once per
# index; each ingested batch then advances it in memory (a restart just
# rescans). Without this, a 10^4-batch ingest re-parses every manifest
# on every micro-batch — O(batches^2) filesystem work over a run.
_WATERMARK_CACHE: dict[str, int] = {}


def _next_doc_id(index_dir: str) -> int:
    """Derive the dense-id watermark from the DONE batch manifests (the
    single atomic write per batch). A separate counter file advanced
    before the manifest left a crash window where foreachBatch
    redelivery reran a batch at a shifted offset, permanently breaking
    the dense-id invariant."""
    key = os.path.abspath(index_dir)
    if key not in _WATERMARK_CACHE:
        hi = 0
        for b in M.done_splits(index_dir):
            m = M.read_split_manifest(index_dir, b)
            hi = max(hi, int(m["doc_id_offset"]) + int(m["n_docs"]))
        _WATERMARK_CACHE[key] = hi
    return _WATERMARK_CACHE[key]


def ingest_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                 index_dir: str, tokenizer: str = "code",
                 positions: bool = False) -> None:
    """foreachBatch handler. Exactly-once: a re-delivered batch_id whose
    manifest says done is a no-op. Doc ids are arrival-ordered (frozen
    at first delivery via the durable counter). ``positions=True``
    stages per-posting token positions too, so the finalized index
    answers phrase queries — same opt-in as the batch builder."""
    if M.read_split_manifest(index_dir, batch_id) is not None:
        return
    # a purged streaming index must not be re-fed: finalize rebuilds
    # docs/postings wholesale from *_staged, which still hold purged docs
    check_not_purged(index_dir, "streaming ingest")
    os.makedirs(index_dir, exist_ok=True)
    offset = _next_doc_id(index_dir)

    from pyspark.sql import Window

    # two-level id assignment WITHIN the batch (same scheme as the batch
    # builder's stage_corpus): hash rows into P parts, prefix-sum the
    # part counts, row_number inside each part. A global
    # Window.orderBy(...) with no partitionBy funneled every micro-batch
    # through ONE task (VERDICT r2 what's-wrong #5); this fans out to P
    # tasks while staying deterministic for any input partitioning.
    # P is a CONSTANT, not defaultParallelism: ids must depend only on
    # the doc keys, and a crash-redelivery on a resized cluster would
    # otherwise hash the same docs into different parts.
    n_parts = 64
    part_col = F.pmod(
        F.xxhash64("repo", "path", "commit"), F.lit(n_parts)).cast("int")
    with_part = batch_df.withColumn("_part", part_col)
    counts = {
        int(r["_part"]): int(r["n"]) for r in
        with_part.groupBy("_part").agg(F.count("*").alias("n")).collect()
    }
    part_offsets, acc = [], 0
    for p in range(n_parts):
        part_offsets.append(acc)
        acc += counts.get(p, 0)
    off_col = F.element_at(
        F.array(*[F.lit(o) for o in part_offsets]),
        F.col("_part") + 1).cast("long")
    w = Window.partitionBy("_part").orderBy("repo", "path", "commit")
    with_ids = batch_df.withColumn("_part", part_col).withColumn(
        "doc_id",
        F.lit(offset) + off_col + F.row_number().over(w).cast("long") - 1,
    ).drop("_part")
    # same fused tokenize+tf kernel as the batch segment builder (one
    # tokenize per batch, no explode→groupBy shuffle); tf rows already
    # carry dl, so tf_staged needs no join. Persisted: both staged
    # writes consume it.
    tf = P.term_stats_fused(with_ids.select("doc_id", "content"),
                            tokenizer, positions).persist()
    try:
        dldf = tf.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        docs = with_ids.join(dldf, "doc_id", "left").select(
            "doc_id", "repo", "path", "commit", "lang",
            F.coalesce("dl", F.lit(0)).cast("long").alias("dl"),
            F.sha2("content", 256).alias("content_sha256"),
            F.lit(batch_id).cast("int").alias("split_id"),
        )
        docs.write.mode("overwrite").parquet(
            os.path.join(index_dir, "docs_staged", f"batch_{batch_id:04d}"))
        tf.write.mode("overwrite").parquet(
            os.path.join(index_dir, "tf_staged", f"batch_{batch_id:04d}"))
        n_docs = docs.count()
        n_postings = tf.count()
    finally:
        tf.unpersist(blocking=False)
    M.write_split_manifest(index_dir, batch_id, {
        "n_docs": int(n_docs),
        "doc_id_offset": offset,
        "kind": "stream_batch",
        "n_postings": int(n_postings),
    })
    _WATERMARK_CACHE[os.path.abspath(index_dir)] = offset + int(n_docs)


def _encode_with_split(batches):
    """mapInArrow encode kernel of the wholesale finalize and the
    incremental merge wave: ``build.encode_sorted`` — the build's one
    encoder — with split_id as an extra run key, and split_id in place
    of the payload_bytes column."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        seg, starts = encode_sorted(batch, ("term", "split_id", "salt"))
        yield pa.RecordBatch.from_arrays(
            seg.columns[:-1]
            + [batch.column("split_id").take(pa.array(starts))],
            names=seg.schema.names[:-1] + ["split_id"])


def _merge_run_rows(runs: DataFrame, n_buckets: int) -> DataFrame:
    """One posting row per (term, term_bucket, split): doc-id-disjoint
    runs concat in first_doc_id order (pure Column, zero re-encode) —
    shared by the wholesale finalize and the incremental merge wave so
    the on-disk row shape can never drift between them."""
    return (
        runs.withColumn(
            "term_bucket",
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
        .groupBy("term", "term_bucket", "split_id")
        .agg(
            F.sum("df_run").alias("df"),
            F.sum("cf_run").alias("cf"),
            F.min("first_doc_id").alias("first_doc_id"),
            F.max("last_doc_id").alias("last_doc_id"),
            F.flatten(F.transform(
                F.sort_array(
                    F.collect_list(F.struct("first_doc_id", "blocks"))),
                lambda x: x["blocks"])).alias("blocks"),
        )
    )


def finalize_stream_index(spark: SparkSession, index_dir: str,
                          n_buckets: int = 16, tokenizer: str = "code",
                          salt_threshold: int = 1 << 20,
                          n_salts: int = 8) -> dict:
    """Compact staged batches into the standard searchable index layout
    (docs/, stats.json, postings/term_bucket=K/, dict/).

    O(total staged data) by design — the FIRST materialization of a
    streaming index. Continuing ingest afterwards should use
    :func:`merge_stream_batches`, which folds only the NEW staged
    batches into the existing layout (O(new data), untouched posting
    buckets are never read)."""
    # same resurrection hazard as the batch builder's finalize: this
    # rewrites docs/ and postings/ wholesale from *_staged, which a
    # purge leaves stale (purged docs still present)
    check_not_purged(index_dir, "stream finalize")

    def _batch_dirs(sub: str) -> list[str]:
        root = os.path.join(index_dir, sub)
        # explicit dir list, not a glob — glob paths trigger a spurious
        # FileStreamSink metadata-probe stack trace in the logs
        return sorted(os.path.join(root, d) for d in os.listdir(root)
                      if d.startswith("batch_"))

    docs = spark.read.parquet(*_batch_dirs("docs_staged"))
    docs.write.mode("overwrite").parquet(os.path.join(index_dir, "docs"))
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    # exact integer dl sum, avg in Python: merge_stream_batches must
    # reproduce avgdl BIT-identically from (old sum + delta sum) — a
    # float-accumulated avg would drift in the last ulp and break the
    # merge ≡ wholesale-finalize score-identity contract
    row = docs.agg(F.count("*").alias("n"),
                   F.sum("dl").cast("long").alias("sum_dl")).collect()[0]
    n_docs, sum_dl = int(row["n"]), int(row["sum_dl"] or 0)
    avgdl = sum_dl / n_docs if n_docs else 0.0

    # mergeSchema: without it Spark infers from ONE batch's footer, so a
    # positions-less batch could silently hide every other batch's
    # positions column from the mixed-ingest guard below
    staged = (spark.read.option("mergeSchema", "true")
              .parquet(*_batch_dirs("tf_staged")))
    staged = staged.join(
        docs.select("doc_id", "split_id"), "doc_id"
    )

    # salt hot terms within each batch range (doc ids are contiguous per
    # batch, so pmod-free range salting again keeps runs disjoint)
    df_seg = staged.groupBy("term", "split_id").agg(F.count("*").alias("df_seg"))
    hot = df_seg.where(F.col("df_seg") > salt_threshold).select(
        "term", "split_id").withColumn("is_hot", F.lit(True))
    bounds = {
        int(r["split_id"]): (int(r["lo"]), int(r["hi"]))
        for r in docs.groupBy("split_id").agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()
    }
    lo_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in bounds]),
            F.array(*[F.lit(v[0]) for v in bounds.values()])),
        F.col("split_id"))
    span_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in bounds]),
            F.array(*[F.lit(v[1] - v[0] + 1) for v in bounds.values()])),
        F.col("split_id"))
    staged = staged.join(F.broadcast(hot), ["term", "split_id"], "left")
    salt_expr = F.floor((F.col("doc_id") - lo_col) * F.lit(n_salts) / span_col).cast("int")
    staged = staged.withColumn(
        "salt", F.when(F.col("is_hot").isNotNull(), salt_expr).otherwise(F.lit(0))
    ).drop("is_hot")

    from pyspark.sql import types as T

    run_schema = T.StructType(
        list(SEGMENT_SCHEMA.fields) + [T.StructField("split_id", T.IntegerType())]
    )

    with_positions = "positions" in staged.columns
    if with_positions:
        n_null = staged.where(F.col("positions").isNull()).count()
        if n_null:
            raise ValueError(
                f"{n_null} staged postings have no positions — batches "
                "were ingested with mixed positions settings; re-ingest "
                "consistently (ingest_batch(..., positions=True))")

    run_cols = ["term", "split_id", "salt", "doc_id", "tf", "dl"] + (
        ["positions"] if with_positions else [])
    runs = (
        staged.select(*run_cols)
        .repartition(spark.sparkContext.defaultParallelism,
                     "term", "split_id", "salt")
        .sortWithinPartitions("term", "split_id", "salt", "doc_id")
        .mapInArrow(_encode_with_split, run_schema)
    )
    merged = _merge_run_rows(runs, n_buckets)
    (merged.repartition("term_bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("term_bucket")
     .parquet(os.path.join(index_dir, "postings")))
    from datastream_io_spark.operators.build import write_dictionary

    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    write_dictionary(spark, postings, n_docs, index_dir)

    stats = {
        "format": 2,
        "n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
        "n_buckets": n_buckets,
        "tokenizer": tokenizer, "k1": K1, "b": B,
        "n_splits": len(bounds), "kind": "streaming",
        "positions": with_positions,
        # incremental-merge bookkeeping (merge_stream_batches): which
        # staged batches this index already contains, and the next free
        # split id (fresh ids avoid colliding with compaction's coarse
        # 0..target-1 groups — two posting rows of one term must never
        # share a split id)
        "merged_batches": sorted(int(b) for b in bounds),
        "next_split_id": (max(int(b) for b in bounds) + 1) if bounds else 0,
    }
    with open(os.path.join(index_dir, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1)
    n_terms = spark.read.parquet(os.path.join(index_dir, "dict")).count()
    with open(os.path.join(index_dir, "_INDEX_SUCCESS"), "w") as f:
        json.dump({"n_terms": n_terms}, f)
    return stats


def _wave_commit_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest", "wave_commit.json")


_MERGE_TMPS = ("merge_tmp_postings", "merge_tmp_docs", "merge_tmp_dict")


def _wave_file_copies(index_dir: str, tmp_sub: str, dest_sub: str,
                      wave_id: str) -> list[tuple[str, str]]:
    """Deterministic (src, dest) copy plan for a wave's part files:
    tmp parquet output → wave-prefixed filenames inside the live
    directory. Deterministic names make the apply step idempotent — a
    crashed apply re-copies (overwrites) instead of duplicating."""
    tmp = os.path.join(index_dir, tmp_sub)
    dest = os.path.join(index_dir, dest_sub)
    plan: list[tuple[str, str]] = []
    if dest_sub == "postings":
        for bdir in sorted(os.listdir(tmp)):
            if not bdir.startswith("term_bucket="):
                continue
            files = sorted(f for f in os.listdir(os.path.join(tmp, bdir))
                           if f.endswith(".parquet"))
            for i, f in enumerate(files):
                plan.append((os.path.join(tmp, bdir, f),
                             os.path.join(dest, bdir,
                                          f"{wave_id}_{i:04d}.parquet")))
    else:
        files = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        for i, f in enumerate(files):
            plan.append((os.path.join(tmp, f),
                         os.path.join(dest, f"{wave_id}_{i:04d}.parquet")))
    return plan


def _apply_wave(index_dir: str, commit: dict) -> dict:
    """Roll the committed wave forward (idempotent — safe to re-run
    after a crash at ANY point): copy the wave's postings/docs part
    files to their deterministic names, swap in the rebuilt dict, write
    the new stats, then clear tmps + the commit marker. A tmp dir's
    absence means that step already completed on a previous attempt."""
    import shutil

    from datastream_io_spark.operators.build import (
        _write_json_atomic,
        repair_swap,
        swap_in,
    )

    wave_id = commit["wave_id"]
    for tmp_sub, dest_sub in (("merge_tmp_postings", "postings"),
                              ("merge_tmp_docs", "docs")):
        tmp = os.path.join(index_dir, tmp_sub)
        if not os.path.exists(tmp):
            continue  # this step finished before a crash
        for src, dst in _wave_file_copies(index_dir, tmp_sub, dest_sub,
                                          wave_id):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(src, dst)
        shutil.rmtree(tmp)
    dict_tmp = os.path.join(index_dir, "merge_tmp_dict")
    dict_path = os.path.join(index_dir, "dict")
    if os.path.exists(dict_tmp):
        swap_in(dict_path, dict_tmp)
    else:
        repair_swap(dict_path)  # crash mid-swap on a previous attempt
    stats = commit["stats_new"]
    _write_json_atomic(os.path.join(index_dir, "stats.json"), stats)
    with open(os.path.join(index_dir, "_INDEX_SUCCESS"), "w") as f:
        json.dump({"n_terms": int(commit["n_terms"])}, f)
    os.unlink(_wave_commit_path(index_dir))
    return stats


def _repair_merge(index_dir: str) -> None:
    """Recover from a merge crash: a present commit marker rolls the
    wave FORWARD (its side files are complete by construction); absent
    marker rolls BACK by dropping half-built tmps (no live file was
    touched before the marker — copies happen strictly after it)."""
    import shutil

    marker = _wave_commit_path(index_dir)
    if os.path.exists(marker):
        with open(marker) as f:
            _apply_wave(index_dir, json.load(f))
        return
    for sub in _MERGE_TMPS:
        p = os.path.join(index_dir, sub)
        if os.path.exists(p):
            shutil.rmtree(p)


def merge_stream_batches(spark: SparkSession, index_dir: str,
                         salt_threshold: int = 1 << 20,
                         n_salts: int = 8) -> dict:
    """Incremental finalize: fold only the staged batches ingested
    SINCE the last finalize/merge into the existing searchable layout.

    Where :func:`finalize_stream_index` is O(total corpus) per call —
    it rewrites docs/ and postings/ wholesale from every staged batch —
    this is O(new data): new batches become NEW posting rows (fresh
    split ids over their own contiguous doc ranges) appended as
    wave-prefixed parquet files inside the touched ``term_bucket=K``
    directories; existing posting files are never read, decoded, or
    rewritten (test-pinned by corrupting them and merging anyway). The
    dictionary is upserted from the old dict ⊕ the wave's (df, cf)
    delta — O(terms), not O(postings) — with idf recomputed for the
    new corpus size, and stats advance by exact integer dl sums, so
    search results are rank- AND score-identical (1e-9) to a wholesale
    re-finalize over all batches. This is the Lucene-style "new
    segment + stats update" shape the 100-TB continuous-ingest story
    needs; periodic :func:`compact_stream_index` keeps the per-term
    row count bounded as waves accumulate.

    Crash-safe via a wave commit marker: every mutation of live state
    happens after the marker lands and is idempotent (deterministic
    wave-prefixed filenames, repairable dict swap); re-running after a
    crash rolls the wave forward, or discards half-built tmps if the
    marker never landed. Takes the maintenance lock (single writer)."""
    from datastream_io_spark.operators.build import maintenance_lock

    with maintenance_lock(index_dir, "merge"):
        return _merge_stream_batches_locked(spark, index_dir,
                                            salt_threshold, n_salts)


def _merge_stream_batches_locked(spark: SparkSession, index_dir: str,
                                 salt_threshold: int,
                                 n_salts: int) -> dict:
    import shutil

    from datastream_io_spark.operators.build import read_stats

    check_not_purged(index_dir, "incremental merge")
    _repair_merge(index_dir)
    stats = read_stats(index_dir)
    if stats.get("kind") != "streaming":
        raise ValueError(
            "merge_stream_batches applies to streaming indexes "
            f"(stats.kind={stats.get('kind')!r}); batch builds resume "
            "via build_index itself")
    if "merged_batches" not in stats:
        raise ValueError(
            "this streaming index predates incremental merge "
            "bookkeeping — run finalize_stream_index once to record "
            "merged_batches, then merge incrementally")
    merged_already = set(stats["merged_batches"])
    staged_root = os.path.join(index_dir, "docs_staged")
    all_batches = sorted(
        int(d.split("_")[1]) for d in os.listdir(staged_root)
        if d.startswith("batch_"))
    new_batches = [b for b in all_batches if b not in merged_already]
    if not new_batches:
        return stats
    n_buckets = int(stats["n_buckets"])
    with_positions = bool(stats.get("positions", False))
    wave_id = f"wave_{new_batches[0]:05d}_{new_batches[-1]:05d}"
    split_of = {b: int(stats["next_split_id"]) + i
                for i, b in enumerate(new_batches)}

    # --- build the wave's side files (no live state touched yet) ---
    for sub in _MERGE_TMPS:
        p = os.path.join(index_dir, sub)
        if os.path.exists(p):
            shutil.rmtree(p)

    def _batch_df(sub: str, b: int) -> DataFrame:
        return spark.read.parquet(
            os.path.join(index_dir, sub, f"batch_{b:04d}"))

    docs_new = None
    for b in new_batches:
        d = _batch_df("docs_staged", b).withColumn(
            "split_id", F.lit(split_of[b]).cast("int"))
        docs_new = d if docs_new is None else docs_new.unionByName(d)
    docs_new = docs_new.select("doc_id", "repo", "path", "commit", "lang",
                               "dl", "content_sha256", "split_id")
    docs_new.write.mode("overwrite").parquet(
        os.path.join(index_dir, "merge_tmp_docs"))
    drow = spark.read.parquet(
        os.path.join(index_dir, "merge_tmp_docs")).agg(
        F.count("*").alias("n"),
        F.sum("dl").cast("long").alias("sum_dl")).collect()[0]
    n_new, sum_dl_new = int(drow["n"]), int(drow["sum_dl"] or 0)

    staged = None
    for b in new_batches:
        t = _batch_df("tf_staged", b).withColumn(
            "split_id", F.lit(split_of[b]).cast("int"))
        if with_positions and "positions" not in t.columns:
            raise ValueError(
                f"staged batch {b} has no positions but the index is "
                "positional — re-ingest with ingest_batch(..., "
                "positions=True)")
        if not with_positions and "positions" in t.columns:
            t = t.drop("positions")
        staged = t if staged is None else staged.unionByName(t)
    if with_positions:
        n_null = staged.where(F.col("positions").isNull()).count()
        if n_null:
            raise ValueError(
                f"{n_null} staged postings have no positions — batches "
                "were ingested with mixed positions settings")

    # per-batch range salting over each new batch's contiguous doc
    # range — bounds come from the batch manifests (no docs/ read)
    bounds = {}
    for b in new_batches:
        m = M.read_split_manifest(index_dir, b)
        bounds[split_of[b]] = (int(m["doc_id_offset"]),
                               max(int(m["n_docs"]), 1))
    df_seg = staged.groupBy("term", "split_id").agg(
        F.count("*").alias("df_seg"))
    hot = df_seg.where(F.col("df_seg") > salt_threshold).select(
        "term", "split_id").withColumn("is_hot", F.lit(True))
    lo_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in bounds]),
            F.array(*[F.lit(v[0]) for v in bounds.values()])),
        F.col("split_id"))
    span_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in bounds]),
            F.array(*[F.lit(v[1]) for v in bounds.values()])),
        F.col("split_id"))
    staged = staged.join(F.broadcast(hot), ["term", "split_id"], "left")
    salt_expr = F.floor(
        (F.col("doc_id") - lo_col) * F.lit(n_salts) / span_col).cast("int")
    staged = staged.withColumn(
        "salt",
        F.when(F.col("is_hot").isNotNull(), salt_expr).otherwise(F.lit(0))
    ).drop("is_hot")

    from pyspark.sql import types as T

    run_schema = T.StructType(
        list(SEGMENT_SCHEMA.fields)
        + [T.StructField("split_id", T.IntegerType())])
    run_cols = ["term", "split_id", "salt", "doc_id", "tf", "dl"] + (
        ["positions"] if with_positions else [])
    runs = (
        staged.select(*run_cols)
        .repartition(spark.sparkContext.defaultParallelism,
                     "term", "split_id", "salt")
        .sortWithinPartitions("term", "split_id", "salt", "doc_id")
        .mapInArrow(_encode_with_split, run_schema)
    )
    wave_rows = _merge_run_rows(runs, n_buckets)
    (wave_rows.repartition("term_bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("term_bucket")
     .parquet(os.path.join(index_dir, "merge_tmp_postings")))
    wave_rows = spark.read.parquet(
        os.path.join(index_dir, "merge_tmp_postings"))

    # dict upsert: old dict ⊕ wave (df, cf) delta, idf from the NEW
    # corpus size — O(terms) driver-free work; postings never read
    n_docs_new = int(stats["n_docs"]) + n_new
    delta = wave_rows.groupBy("term", "term_bucket").agg(
        F.sum("df").alias("df_d"), F.sum("cf").alias("cf_d"))
    old_dict = spark.read.parquet(os.path.join(index_dir, "dict")).select(
        "term", "term_bucket", "df", "cf")
    upserted = (
        old_dict.join(delta, ["term", "term_bucket"], "full_outer")
        .select(
            "term", "term_bucket",
            (F.coalesce("df", F.lit(0))
             + F.coalesce("df_d", F.lit(0))).alias("df"),
            (F.coalesce("cf", F.lit(0))
             + F.coalesce("cf_d", F.lit(0))).alias("cf"))
        .select(
            "term", "term_bucket", "df", "cf",
            F.log1p((F.lit(float(n_docs_new)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)).alias("idf"))
    )
    (upserted.repartition("term_bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("term_bucket")
     .parquet(os.path.join(index_dir, "merge_tmp_dict")))
    n_terms = spark.read.parquet(
        os.path.join(index_dir, "merge_tmp_dict")).count()

    sum_dl_old = int(stats.get("sum_dl",
                               round(stats["avgdl"] * stats["n_docs"])))
    stats_new = dict(stats)
    stats_new.update({
        "n_docs": n_docs_new,
        "sum_dl": sum_dl_old + sum_dl_new,
        "avgdl": ((sum_dl_old + sum_dl_new) / n_docs_new
                  if n_docs_new else 0.0),
        "n_splits": int(stats["n_splits"]) + len(new_batches),
        "merged_batches": sorted(merged_already | set(new_batches)),
        "next_split_id": int(stats["next_split_id"]) + len(new_batches),
    })

    # --- COMMIT: after this marker the wave always rolls forward ---
    commit = {"wave_id": wave_id, "stats_new": stats_new,
              "n_terms": int(n_terms), "batches": new_batches}
    marker = _wave_commit_path(index_dir)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(commit, f, indent=1)
    os.replace(tmp, marker)
    stats_out = _apply_wave(index_dir, commit)
    # an index that opted into expansion sidecars keeps them fresh
    # across merges (we still hold the maintenance lock); a crash here
    # is benign — the sidecars just read as stale and fall back
    from datastream_io_spark.operators.dictindex import (
        refresh_sidecars_if_present,
    )

    refresh_sidecars_if_present(spark, index_dir)
    return stats_out


def compact_stream_index(spark: SparkSession, index_dir: str,
                         target_splits: int) -> dict:
    """Compact a finalized streaming index: thousands of per-BATCH
    posting rows per term → ``target_splits`` coarse rows.

    Long-running ingest leaves one (term, split) posting row per
    micro-batch, so the per-split query fan-out (and the per-row
    kernel overhead) grows with batch count. Batch doc-id ranges are
    arrival-ordered and contiguous, so ADJACENT batches merge into a
    contiguous coarse range and their runs concat in first_doc_id order
    — the same pure-Column zero-re-encode merge as finalize (blocks are
    position-independent; nothing is decoded). Scores, ranks, df/cf/idf
    are all unchanged; only the split granularity shrinks. docs/ is
    remapped to the same coarse split ids, so compaction composes
    (compact again later as more batches arrive).

    Crash safety: a directory swap cannot be POSIX-atomic, so each swap
    is rename-aside → rename-in → delete-aside and the function STARTS
    by repairing any half-finished swap from a previous crash (tmp or
    aside dirs left behind). A crash can therefore interrupt a
    compaction but never lose data or leave an unrepairable index —
    re-running compact_stream_index completes or redoes the work. The
    docs/postings split-id consistency the group map depends on is
    verified before remapping."""
    from datastream_io_spark.operators.build import maintenance_lock

    with maintenance_lock(index_dir, "compact"):
        return _compact_stream_index_locked(spark, index_dir,
                                            target_splits)


def _compact_stream_index_locked(spark: SparkSession, index_dir: str,
                                 target_splits: int) -> dict:
    import shutil

    from datastream_io_spark.operators.build import (
        repair_swap as _repair_swap,
        swap_in as _swap_in,
    )

    if os.path.exists(_wave_commit_path(index_dir)):
        raise RuntimeError(
            "a merge wave is committed but not fully applied (crash "
            "mid-apply) — run merge_stream_batches first; it rolls the "
            "wave forward before compaction can safely remap splits")
    with open(os.path.join(index_dir, "stats.json")) as f:
        _stats = json.load(f)
    if _stats.get("kind") != "streaming":
        # a batch index keeps split_counts/split_offsets lineage keyed by
        # the ORIGINAL split ids; remapping postings/docs underneath it
        # would leave inspect/verify tooling reading stale lineage
        raise ValueError(
            "compact_stream_index only applies to streaming indexes "
            f"(stats.kind={_stats.get('kind')!r}); batch indexes are "
            "already one posting row per (term, split)")

    docs_path = os.path.join(index_dir, "docs")
    post_tmp = os.path.join(index_dir, "_postings_compact_tmp")
    docs_tmp = os.path.join(index_dir, "_docs_compact_tmp")
    _repair_swap(docs_path)
    _repair_swap(os.path.join(index_dir, "postings"))
    if os.path.exists(docs_tmp) and not os.path.exists(post_tmp):
        # a previous run crashed BETWEEN the postings swap (which
        # consumed its tmp) and the docs swap: finish the docs swap so
        # docs/postings split ids agree again
        _swap_in(docs_path, docs_tmp)
    docs = spark.read.parquet(docs_path)
    bounds = sorted(
        (int(r["lo"]), int(r["split_id"]))
        for r in docs.groupBy("split_id").agg(
            F.min("doc_id").alias("lo")).collect()
    )
    n_old = len(bounds)
    target_splits = max(1, min(target_splits, n_old))
    group_of = {split: rank * target_splits // n_old
                for rank, (_, split) in enumerate(bounds)}
    map_expr = F.create_map(
        *[F.lit(v) for kv in group_of.items() for v in kv])

    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    post_splits = {int(r["split_id"]) for r in
                   postings.select("split_id").distinct().collect()}
    if not post_splits <= set(group_of):
        raise ValueError(
            f"postings split ids {sorted(post_splits - set(group_of))} "
            "are unknown to docs/ — a previous compaction crashed "
            "between the postings and docs swaps; restore the "
            "_docs_compact_tmp rename or rebuild via finalize")
    merged = (
        postings.withColumn(
            "split_id", F.element_at(map_expr, F.col("split_id")))
        .groupBy("term", "term_bucket", "split_id")
        .agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.min("first_doc_id").alias("first_doc_id"),
            F.max("last_doc_id").alias("last_doc_id"),
            F.flatten(F.transform(
                F.sort_array(F.collect_list(F.struct("first_doc_id", "blocks"))),
                lambda x: x["blocks"])).alias("blocks"),
        )
        .select("term", "split_id", "df", "cf", "first_doc_id",
                "last_doc_id", "blocks", "term_bucket")
    )
    tmp = os.path.join(index_dir, "_postings_compact_tmp")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (merged.repartition("term_bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("term_bucket").parquet(tmp))

    docs_tmp = os.path.join(index_dir, "_docs_compact_tmp")
    if os.path.exists(docs_tmp):
        shutil.rmtree(docs_tmp)
    (docs.withColumn("split_id",
                     F.element_at(map_expr, F.col("split_id")))
     .write.mode("overwrite").parquet(docs_tmp))

    _swap_in(os.path.join(index_dir, "postings"), tmp)
    _swap_in(docs_path, docs_tmp)

    # range-partitioned tombstones are keyed by split — rekey them or
    # the big-set query path (per-split join) would attach deleted ids
    # to split ids that no longer exist. Rekeying joins the POST-swap
    # docs on doc_id (not the old→new split map): a crash between the
    # docs swap and this rewrite leaves stale tombstone keys, and a
    # RE-RUN's split map would be the identity — id-driven rekeying is
    # idempotent and correct from any crash point.
    tomb_dir = os.path.join(index_dir, "tombstones")
    _repair_swap(tomb_dir)
    if os.path.exists(tomb_dir):
        tomb = spark.read.parquet(tomb_dir)
        if "split_id" in tomb.columns:
            tomb_tmp = tomb_dir + "_compact_tmp"
            if os.path.exists(tomb_tmp):
                shutil.rmtree(tomb_tmp)
            new_docs = spark.read.parquet(docs_path).select(
                "doc_id", F.col("split_id").alias("_new_split"))
            (tomb.select("doc_id")
             .join(new_docs, "doc_id", "left")
             .withColumn("split_id",
                         F.coalesce("_new_split", F.lit(-1)).cast("int"))
             .drop("_new_split")
             .repartition("split_id").write.mode("overwrite")
             .partitionBy("split_id").parquet(tomb_tmp))
            _swap_in(tomb_dir, tomb_tmp)

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    stats["n_splits"] = target_splits
    with open(os.path.join(index_dir, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1)
    return stats
