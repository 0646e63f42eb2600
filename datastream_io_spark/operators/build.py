"""3.1 build_index — the batch index build (SURVEY.md §3.1, §2.4).

Three phases, each a separate Spark job boundary so the build is
resumable (C6, BASELINE.json:14):

  A. staging (once, then FROZEN): dedupe doc keys, assign dense
     deterministic doc ids (two-level hash-split scheme — per-split
     counts + prefix-sum offsets + in-split row_number; no global
     sort), add content_sha256, write the corpus back PARTITIONED BY
     split_id. Doc ids never change across resumes.
  B. per-split SEGMENT jobs: read only that split's staged partition
     (directory-level partition pruning), tokenize + tf + doc_len in
     ONE columnar ``mapInArrow`` kernel (``postings.term_stats_fused``,
     no explode/groupBy shuffle), range-salt hot terms (C4, in-split
     df), and block-encode sorted posting runs (delta + varint,
     per-block max_tf / min_dl) in a sorted-partition ``mapInArrow``
     kernel (:func:`_encode_partitions`). The durable checkpoint per
     split is the COMPRESSED segment (~1-2 bytes/posting), not raw tf
     rows — encoding needs no global statistics because the per-block
     WAND bound is derived at query time from (max_tf, min_dl, avgdl).
     Independent jobs → resumable + runnable concurrently.
  C. finalize: exact global stats from the manifests, merge runs per
     (term, split) IN PURE COLUMN OPS (runs are doc-id-disjoint by
     construction: splits own contiguous id ranges, salted sub-ranges
     are contiguous too — so merge = sort_array + flatten, zero
     re-encode, the shuffle moves only compressed blocks), write
     ``postings/`` partitioned by term_bucket + broadcastable
     ``dict/`` + ``docs/``.

Small corpora skip Spark for all three phases: under
``DRIVER_BUILD_MAX_DOCS`` rows and ``DRIVER_BUILD_MAX_BYTES`` of content
``build_index`` brings the corpus to the driver and runs stage →
per-split segments → finalize in-process (:mod:`.driver_build`) with the
same kernels, writing the same files and checkpoints. A plain scan of
parquet files is read with pyarrow (zero Spark jobs); any other corpus
is size-probed and collected in two Spark jobs (split id and sha256
computed in the JVM select). A 400-file build shrinks from ~16 Spark
jobs and ~70 tasks to none (two for a non-file source); below the gate
the per-job and per-task fixed cost (planning, codegen, the JVM↔Python
Arrow crossing) outweighs the kernels many times over. Over the gate,
with ``bucket_layout=True``, or with a source-supplied ``split_id``
column, the distributed phases below run unchanged, and every phase
function here stays callable on its own (fleet workers).

Design history (each step measured on the 20k/50k-file synthetic
corpus, local[8] vs local[32]):
  v1 re-derived splits from the source per job (full dedupe shuffle ×
  n_splits, tokenize ×2) → 75 files/s @8, efficiency 0.37.
  v2 staged tf rows and encoded at finalize in per-group applyInPandas
  → the 400k tiny pandas groups cost ~150s alone, and checkpointing
  raw tf rows bottlenecked on single-disk I/O that no core count can
  scale.
  v3: encode inside the split job via the numpy change-point
  mapInPandas kernel; checkpoints shrink ~10×; finalize only merges
  compressed runs.
  v4 (this): the tokenize/tf and encode kernels are columnar
  (``mapInArrow``; Arrow in, Arrow out, the blocks column built over the
  varint buffers) and shared verbatim with the in-process build.
At petabyte scale the staging copy is skipped by partitioning the
source table itself on the split expression (Iceberg partition
transform) — split jobs then prune on the source directly.

Skew (C4): ``documents``-style corpora where every term is hot
(FIXTURES.md §1) would put a term's whole split into one encode task.
Terms whose IN-SPLIT df exceeds ``salt_threshold`` are range-salted on
doc_id (salts are CONTIGUOUS doc ranges inside a split, so runs stay
disjoint and the merge stays a concat). AQE cannot do this — it splits
skewed join partitions, not aggregation groups (SURVEY.md §4.2).

Index layout (consumed by indexed_search / streaming finalize alike):
  staged_corpus/split_id=N/   doc_id, repo, path, commit, lang,
                              content_sha256, content   (build-time only)
  segments/split_NNNN/        term, salt, first/last_doc_id, df_run,
                              cf_run, blocks (compressed)
  doc_dl/split_NNNN/          doc_id, dl
  manifest/split_NNNN.json    lineage + metrics per split
  docs/        doc_id, repo, path, commit, lang, dl, content_sha256, split_id
  stats.json   n_docs, avgdl, n_splits, n_buckets, tokenizer, k1, b
  postings/term_bucket=K/     term, split_id, df, cf, first/last_doc_id, blocks
  dict/term_bucket=K/         term, df, cf, idf
  manifest/merge.json         global metrics (compressed_bytes, n_terms, …)
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from datastream_io_spark import B, K1
from datastream_io_spark.operators import postings as P
from datastream_io_spark.operators.codec import encode_blocks, encode_runs
from datastream_io_spark.session import aqe_disabled
from datastream_io_spark.sources import manifest as M

BLOCKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("first_doc_id", T.LongType()),
            T.StructField("max_doc_id", T.LongType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("max_tf", T.IntegerType()),
            T.StructField("min_dl", T.IntegerType()),
            T.StructField("docs", T.BinaryType()),
            T.StructField("tfs", T.BinaryType()),
            T.StructField("dls", T.BinaryType()),
            T.StructField("poss", T.BinaryType(), nullable=True),
        ]
    )
)

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("first_doc_id", T.LongType()),
        T.StructField("last_doc_id", T.LongType()),
        T.StructField("df_run", T.LongType()),
        T.StructField("cf_run", T.LongType()),
        T.StructField("blocks", BLOCKS_TYPE),
    ]
)

# batch segments additionally carry the run's compressed payload size
# (same definition as blocks_bytes_col, computed inside the encode
# kernel) so the per-split lineage metrics come from parquet footers +
# this tiny column instead of a Spark job re-reading every block
BATCH_SEGMENT_SCHEMA = T.StructType(
    list(SEGMENT_SCHEMA.fields)
    + [T.StructField("payload_bytes", T.LongType())]
)
BATCH_SEGMENT_ARROW = to_arrow_schema(BATCH_SEGMENT_SCHEMA)

# the finalized postings layout (term_bucket is the hive partition
# column). Readers pass it explicitly: inference reads a footer —
# a per-call fixed cost on the query path — and parquet's nested
# schema evolution returns poss=None on non-positional indexes.
POSTINGS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("split_id", T.IntegerType()),
    T.StructField("df", T.LongType()),
    T.StructField("cf", T.LongType()),
    T.StructField("first_doc_id", T.LongType()),
    T.StructField("last_doc_id", T.LongType()),
    T.StructField("blocks", T.ArrayType(T.StructType([
        T.StructField("first_doc_id", T.LongType()),
        T.StructField("max_doc_id", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.IntegerType()),
        T.StructField("docs", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("dls", T.BinaryType()),
        T.StructField("poss", T.BinaryType()),
    ]))),
    T.StructField("term_bucket", T.IntegerType()),
])

# dict/ layout (term_bucket is the partition directory). An explicit
# schema skips per-call footer inference — same fixed cost the
# postings scan sheds via POSTINGS_SCHEMA (r5 profile: each naked
# spark.read.parquet re-lists + re-infers)
DICT_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("df", T.LongType()),
    T.StructField("cf", T.LongType()),
    T.StructField("idf", T.DoubleType()),
    T.StructField("term_bucket", T.IntegerType()),
])


# in-process build gate: build_index builds a corpus of at most this
# many rows AND this many content bytes on the driver (driver_build),
# after a size probe and the collect. Measured on the perfbench code
# corpus (~3.3 KB/doc), warm JVM, local[4], 2 reps: the driver path
# used 3-7x less CPU than the distributed one at 1k-16k docs, and
# less wall time up to 8k docs (8.7 vs 10.2 s); at 16k docs (52 MB)
# the wall times met (17.9 vs 18.5 s). The gate sits at half of that
# crossover; more cores move the wall crossover down. 0 turns the
# in-process path off.
DRIVER_BUILD_MAX_DOCS = 8192
DRIVER_BUILD_MAX_BYTES = 32 << 20


class maintenance_lock:
    """Single-writer guard for index maintenance (delete / purge /
    compact): an ``O_CREAT|O_EXCL`` lock file under the index dir. Two
    concurrent maintenance ops on one index could otherwise interleave
    their rename-aside/rename-in swap steps (ADVICE r2). Queries take NO
    lock — they never run repair_swap or any rename; a reader racing a
    swap sees either the old or the new directory (the documented
    single-writer / many-reader contract)."""

    def __init__(self, index_dir: str, op: str):
        self.path = os.path.join(index_dir, "_MAINT_LOCK")
        self.op = op
        self.fd = None

    def __enter__(self):
        # two attempts: the holder can release (unlink) between our
        # failed O_EXCL and the diagnostic read — retry once instead of
        # surfacing a raw FileNotFoundError from the read
        for attempt in (0, 1):
            try:
                self.fd = os.open(
                    self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    with open(self.path) as f:
                        holder = f.read().strip()
                except FileNotFoundError:
                    continue  # released mid-check; retry the acquire
                raise RuntimeError(
                    f"index maintenance lock is held ({holder}) — another "
                    f"delete/purge/compact is running on this index; if it "
                    f"crashed, remove {self.path} and re-run") from None
        else:
            raise RuntimeError(
                f"could not acquire maintenance lock {self.path} — "
                "another delete/purge/compact keeps winning the race; "
                "re-run") from None
        os.write(self.fd, f"{self.op} pid={os.getpid()}".encode())
        return self

    def __exit__(self, *exc):
        if self.fd is not None:
            os.close(self.fd)
        os.unlink(self.path)
        return False


def _purged_marker(index_dir: str) -> str:
    return os.path.join(index_dir, "_PURGED")


def check_not_purged(index_dir: str, phase: str) -> None:
    """Refuse build-phase work on a purged index: purge rewrites
    postings/docs/dict but leaves segments/ and staged_corpus/ stale, so
    a stage-resume or finalize re-run would silently resurrect purged
    docs from the old segments (ADVICE r2). Purged indexes are served,
    never re-finalized — rebuild into a fresh directory instead."""
    if os.path.exists(_purged_marker(index_dir)):
        raise ValueError(
            f"index at {index_dir} was physically purged; its segments/ "
            f"and staged corpus are stale, so {phase} would resurrect "
            "purged docs — rebuild into a fresh directory")


def repair_swap(path: str) -> None:
    """Finish a directory swap interrupted by a crash: restore ``path``
    from its ``_old`` aside if the rename-in never happened, drop the
    stale aside otherwise. Idempotent. MAINTENANCE-ONLY: call under
    :class:`maintenance_lock`, never from the query path (a search
    racing a live swap could otherwise restore the aside mid-swap)."""
    import shutil

    aside = path + "_old"
    if not os.path.exists(path) and os.path.exists(aside):
        os.replace(aside, path)
    if os.path.exists(path) and os.path.exists(aside):
        shutil.rmtree(aside)


def swap_in(path: str, tmp: str) -> None:
    """Replace directory ``path`` with ``tmp`` via rename-aside →
    rename-in → delete-aside. Not POSIX-atomic (directories can't be),
    but every crash point is repairable by :func:`repair_swap`."""
    import shutil

    aside = path + "_old"
    if os.path.exists(aside):
        shutil.rmtree(aside)
    os.replace(path, aside)
    os.replace(tmp, path)
    shutil.rmtree(aside)


def write_dictionary(spark: SparkSession, postings: DataFrame, n_docs: int,
                     index_dir: str, to_tmp: bool = False,
                     out: str | None = None) -> str:
    """THE dictionary build (df/cf/idf per term, bucket-partitioned,
    term-sorted within each bucket so prefix scans skip row groups via
    parquet min/max stats) — one definition shared by the batch
    finalize, the streaming finalize, and purge so scoring can never
    drift between them. ``out`` overrides the destination (per-bucket
    finalize tasks write into their own tmp dir). Returns the
    directory written."""
    dictionary = postings.groupBy("term", "term_bucket").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    ).select(
        "term", "term_bucket", "df", "cf",
        F.log1p((F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)).alias("idf"),
    )
    side_write = to_tmp or out is not None
    if out is None:
        out = os.path.join(index_dir, "dict_tmp" if to_tmp else "dict")
    if side_write and os.path.exists(out):
        import shutil
        shutil.rmtree(out)
    (dictionary.repartition("term_bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("term_bucket").parquet(out))
    return out


def blocks_bytes_col(col: str = "blocks"):
    """Compressed payload bytes of a blocks column (all four streams) —
    the ONE definition shared by the build lineage metrics, the tests'
    recount, and jobs/inspect_index.py, so they can never drift."""
    return F.aggregate(
        col, F.lit(0).cast("long"),
        lambda acc, b: acc + F.length(b["docs"]) + F.length(b["tfs"])
        + F.length(b["dls"]) + F.coalesce(F.length(b["poss"]), F.lit(0)),
    )


def _stats_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def _staging_path(index_dir: str) -> str:
    return os.path.join(index_dir, "staging.json")


def read_stats(index_dir: str) -> dict:
    """Read stats.json — refusing to serve an index with a committed
    but not fully applied streaming merge wave (crash mid-_apply_wave):
    postings/ already holds the wave's files while docs/, dict/ and
    stats.json are pre-wave, so queries would silently return doc_ids
    absent from docs/ and scores computed with stale n_docs/avgdl/idf.
    Every query entry point reads stats first, so this one check fails
    them all loudly. merge_stream_batches itself repairs the wave
    (_repair_merge) BEFORE reading stats, so re-running the merge is
    both the fix and unaffected by the guard."""
    wave = os.path.join(index_dir, "manifest", "wave_commit.json")
    if os.path.exists(wave):
        raise RuntimeError(
            f"index at {index_dir} has a committed streaming merge wave "
            "that was not fully applied (crash mid-apply): postings/ is "
            "post-wave but docs/dict/stats are pre-wave, so query "
            "results would be silently wrong — run merge_stream_batches "
            "to roll the wave forward, then retry")
    with open(_stats_path(index_dir)) as f:
        return json.load(f)


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _write_json_atomic(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def _doc_key_split(n_splits: int):
    return F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_splits)).cast("int")


def _with_split(corpus: DataFrame, n_splits: int) -> DataFrame:
    """Corpus with its split assignment. When the SOURCE already
    carries a ``split_id`` partition column (a table partitioned on
    the split expression — the petabyte layout the build docstring
    prescribes), use it as-is: per-split stage tasks then filter ON
    the partition column and Spark prunes directories, so staging
    reads each row once no matter how many tasks run. The column MUST
    be a function of the doc key (all duplicates of a key in one
    split) with values in [0, n_splits) — stage_plan and stage_corpus
    verify BOTH (:func:`_split_key_counts`: out-of-range values raise;
    a key whose duplicates straddle splits raises too, because
    split-local dedupe would otherwise index it once per split under
    two doc_ids). Otherwise derive the hash split."""
    if "split_id" in corpus.columns:
        return corpus
    return corpus.withColumn("split_id", _doc_key_split(n_splits))


def _split_key_counts(corpus: DataFrame, n_splits: int) -> dict[int, int]:
    """Distinct doc keys per split, in ONE aggregation job — and the
    validation a source-supplied ``split_id`` column needs (see
    :func:`_with_split`): its values must fall in ``[0, n_splits)``,
    and it must be a function of the doc key. Per key first: a key
    whose duplicates straddle splits would otherwise be counted once
    per split AND staged once per split by the split-local dedupe —
    counts match and the doc is silently indexed twice under two
    doc_ids."""
    per_key = (
        _with_split(corpus, n_splits)
        .groupBy("repo", "path", "commit")
        .agg(F.min("split_id").alias("split_id"),
             F.countDistinct("split_id").alias("_n_splits_of_key"))
    )
    rows = (per_key.groupBy("split_id")
            .agg(F.count("*").alias("n"),
                 F.max("_n_splits_of_key").alias("mx"))
            .collect())
    straddling = [int(r["split_id"]) for r in rows if int(r["mx"]) > 1]
    if straddling:
        raise ValueError(
            "the source's split_id column is not a pure function of "
            "(repo, path, commit): duplicate keys straddle splits "
            f"(seen from splits {straddling[:5]}) — split-local dedupe "
            "would index such docs once per split; fix the source "
            "partitioning or drop the column to use the hash split")
    counts = {int(r["split_id"]): int(r["n"]) for r in rows}
    bad = [s for s in counts if not 0 <= s < n_splits]
    if bad:
        raise ValueError(
            f"source split_id values {bad[:5]} fall outside "
            f"[0, {n_splits}) — the source's split partition column "
            "does not match the requested n_splits")
    return counts


def stage_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_splits: int,
    n_buckets: int,
    tokenizer: str,
    positions: bool = False,
    store_content: bool = False,
) -> dict:
    """Phase A. Returns the frozen staging info. Skipped when already
    staged — doc ids are FROZEN across resumes (SURVEY.md §3.1).
    ``store_content`` makes finalize carry the raw content into
    ``docs/`` so the served index answers snippets without the source
    corpus mounted (see :func:`finalize_docs_splits`)."""
    check_not_purged(index_dir, "a staging resume")
    if os.path.exists(_staging_path(index_dir)):
        info = _read_json(_staging_path(index_dir))
        _check_frozen(info, index_dir, n_splits, n_buckets, tokenizer,
                      positions, store_content)
        return info
    if os.path.exists(_staging_plan_path(index_dir)):
        raise RuntimeError(
            f"{index_dir} has a sharded staging in progress "
            "(staging_plan.json) — finish it via stage_split workers + "
            "stage_commit, or remove the plan to restage monolithically")
    if "split_id" in corpus.columns:
        # a source-supplied split column is validated like stage_plan
        # does (one aggregation job, paid only by such sources)
        _split_key_counts(corpus, n_splits)
    os.makedirs(index_dir, exist_ok=True)

    # ONE job, ONE exchange (r6): the old shape ran a count job (full
    # dedupe + agg) and then a write job with TWO content shuffles
    # (window by doc key for the dedupe, window by split for the ids).
    # All duplicates of a key share its split (split = f(key)), so both
    # windows collapse onto ONE split_id-partitioned sort: survivors
    # are the first row of each key group (lag), their dense in-split
    # rank is a running sum of group starts — identical survivor
    # (max-sha256, max-lang tie-break) and identical id order (key asc)
    # to the two-window form. Ids are written SPLIT-LOCAL (0-based per
    # split); split counts come from the written parquet footers
    # (driver-side, no second pass) and readers add the frozen offset
    # (staging.json: staged_local_ids) — so no pre-count job is needed
    # to make ids global.
    staged = _staged_local_df(corpus, n_splits)
    (staged.write.mode("overwrite").partitionBy("split_id")
     .parquet(os.path.join(index_dir, "staged_corpus")))

    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    sc_dir = os.path.join(index_dir, "staged_corpus")
    for d in os.listdir(sc_dir):
        if not d.startswith("split_id="):
            continue
        s_val = int(d.split("=")[1])
        counts[s_val] = sum(
            pq.ParquetFile(os.path.join(sc_dir, d, f)).metadata.num_rows
            for f in os.listdir(os.path.join(sc_dir, d))
            if f.endswith(".parquet"))
    info = _staging_info(n_splits, n_buckets, tokenizer, positions,
                         store_content, counts)
    _write_json_atomic(_staging_path(index_dir), info)
    return info


def _staging_info(n_splits: int, n_buckets: int, tokenizer: str,
                  positions: bool, store_content: bool,
                  counts: dict[int, int]) -> dict:
    """The frozen staging record (``staging.json`` /
    ``staging_plan.json``) from the deduped per-split doc counts: ids
    are split-local, each split's global offset is the prefix sum."""
    offsets, acc = {}, 0
    for s in range(n_splits):
        offsets[s] = acc
        acc += counts.get(s, 0)
    return {
        "n_docs": acc,
        "n_splits": n_splits,
        "n_buckets": n_buckets,
        "tokenizer": tokenizer,
        "positions": positions,
        "store_content": bool(store_content),
        "staged_local_ids": True,
        "split_counts": {str(k): v for k, v in counts.items()},
        "split_offsets": {str(k): v for k, v in offsets.items()},
    }


def _staged_local_df(corpus: DataFrame, n_splits: int) -> DataFrame:
    """The staged-corpus frame with SPLIT-LOCAL doc ids, computed in a
    single split_id-partitioned window pass. Deterministic survivor per
    doc key: dropDuplicates keeps an ARBITRARY row, so duplicate keys
    with different content would make the staged bytes (hence the whole
    index) vary across parallelism — pick max(content_sha256), then
    max(lang), instead (any total order works; lang joins the tie-break
    so same-content duplicates with different metadata also pick one
    deterministic survivor)."""
    hashed = corpus.withColumn("content_sha256",
                               F.sha2(F.col("content"), 256))
    with_split = _with_split(hashed, n_splits)
    w = Window.partitionBy("split_id").orderBy(
        "repo", "path", "commit",
        F.desc("content_sha256"), F.desc("lang"))
    key = F.struct("repo", "path", "commit")
    prev = F.lag(F.struct("repo", "path", "commit")).over(w)
    is_first = prev.isNull() | (key != prev)
    run = Window.partitionBy("split_id").orderBy(
        "repo", "path", "commit",
        F.desc("content_sha256"), F.desc("lang")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        with_split
        .withColumn("_first", is_first)
        .withColumn(
            "doc_id",
            F.sum(F.col("_first").cast("long")).over(run) - 1)
        .where(F.col("_first")).drop("_first")
        .select("split_id", "doc_id", "repo", "path", "commit", "lang",
                "content_sha256", "content")
    )


def _absolute_ids(df: DataFrame, info: dict, splits: list[int]) -> DataFrame:
    """Staged rows with GLOBAL doc ids: adds each split's frozen offset
    when the staging wrote split-local ids (staged_local_ids), no-op for
    absolute-id stagings (sharded stage_splits, pre-r6 layouts)."""
    if not info.get("staged_local_ids"):
        return df
    offset_map = F.create_map(*[
        F.lit(v) for s in splits
        for v in (int(s), int(info["split_offsets"][str(s)]))])
    return df.withColumn(
        "doc_id",
        F.col("doc_id") + F.element_at(offset_map, F.col("split_id")))


def _staging_plan_path(index_dir: str) -> str:
    return os.path.join(index_dir, "staging_plan.json")


def _check_frozen(existing: dict, index_dir: str, n_splits: int,
                  n_buckets: int, tokenizer: str, positions: bool,
                  store_content: bool = False) -> None:
    frozen = {"n_splits": existing["n_splits"],
              "n_buckets": existing["n_buckets"],
              "tokenizer": existing["tokenizer"],
              "positions": bool(existing.get("positions", False)),
              "store_content": bool(existing.get("store_content", False))}
    asked = {"n_splits": n_splits, "n_buckets": n_buckets,
             "tokenizer": tokenizer, "positions": bool(positions),
             "store_content": bool(store_content)}
    if frozen != asked:
        raise ValueError(
            f"index at {index_dir} was staged with {frozen}, resume "
            f"requested {asked} — staging is frozen (doc ids must not "
            "change); rebuild into a fresh directory to change these")


def stage_plan(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_splits: int,
    n_buckets: int,
    tokenizer: str,
    positions: bool = False,
    store_content: bool = False,
) -> dict:
    """Sharded phase A, coordinator step: ONE aggregation job counting
    the distinct doc keys per split (a key's duplicates all hash to one
    split, so distinct-per-split == deduped count), prefix-summed to
    the frozen id offsets. Workers then stage splits independently
    (:func:`stage_split`, claimed via ``manifest.claim_task``) and the
    coordinator freezes staging with :func:`stage_commit` — so the
    write of the staged copy, the expensive part of phase A, scales
    with workers like every other phase. Ids are IDENTICAL to the
    single-job :func:`stage_corpus` (same dedupe tie-break, same
    per-split ordering; equality is test-pinned)."""
    check_not_purged(index_dir, "a staging resume")
    if os.path.exists(_staging_path(index_dir)):
        info = _read_json(_staging_path(index_dir))
        _check_frozen(info, index_dir, n_splits, n_buckets, tokenizer,
                      positions, store_content)
        return info
    if os.path.exists(_staging_plan_path(index_dir)):
        with open(_staging_plan_path(index_dir)) as f:
            plan = json.load(f)
        _check_frozen(plan, index_dir, n_splits, n_buckets, tokenizer,
                      positions, store_content)
        return plan
    os.makedirs(index_dir, exist_ok=True)
    plan = _staging_info(n_splits, n_buckets, tokenizer, positions,
                         store_content, _split_key_counts(corpus, n_splits))
    _write_json_atomic(_staging_plan_path(index_dir), plan)
    return plan


def stage_splits(spark: SparkSession, corpus: DataFrame, index_dir: str,
                 splits: list[int], plan: dict) -> None:
    """Sharded phase A, one worker task: stage the given splits in ONE
    corpus pass — filter to their key-hashes, dedupe (split-local ≡
    global: all duplicates of a key share its split), assign each
    split's frozen id range, write every ``staged_corpus/split_id=N``
    atomically (tmp → rename + marker). Batching claimed splits per
    task bounds read amplification: a source partitioned on the split
    expression (Iceberg transform, the 100-TB layout) prunes the scan
    to exactly these splits. Disjoint inputs/outputs/markers → a
    worker fleet runs these tasks concurrently, like segment builds."""
    check_not_purged(index_dir, "staging")
    n_splits = plan["n_splits"]
    todo = []
    for s in splits:
        if M.read_task_marker(index_dir, f"stage_{s:04d}") is not None:
            continue
        if plan["split_counts"].get(str(s), 0) == 0:
            M.write_task_marker(index_dir, f"stage_{s:04d}", {"n_docs": 0})
            continue
        todo.append(s)
    if not todo:
        return
    # tmp lives OUTSIDE staged_corpus/: a crash-leftover dir inside the
    # hive-partitioned tree would break partition discovery for readers
    task_id = f"s{min(todo):04d}_{max(todo):04d}"
    tmp = os.path.join(index_dir, "stage_build", task_id)
    filtered = _with_split(corpus, n_splits).where(
        F.col("split_id").isin(todo))
    hashed = filtered.withColumn("content_sha256",
                                 F.sha2(F.col("content"), 256))
    w_dedup = Window.partitionBy("repo", "path", "commit").orderBy(
        F.desc("content_sha256"), F.desc("lang"))
    deduped = (
        hashed.withColumn("_rn", F.row_number().over(w_dedup))
        .where(F.col("_rn") == 1).drop("_rn")
    )
    w = Window.partitionBy("split_id").orderBy("repo", "path", "commit")
    local = F.row_number().over(w).cast("long") - 1
    if plan.get("staged_local_ids"):
        # same split-local layout the monolithic stage writes (readers
        # add the frozen offset) — staging.json stays identical across
        # the two paths
        doc_id = local
    else:  # resuming a plan written before the local-id layout
        offset_map = F.create_map(*[
            F.lit(v) for s in todo
            for v in (s, plan["split_offsets"][str(s)])])
        doc_id = (F.element_at(offset_map, F.col("split_id"))
                  .cast("long") + local)
    staged = deduped.withColumn("doc_id", doc_id).select(
        "split_id", "doc_id", "repo", "path", "commit", "lang",
        "content_sha256", "content")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    staged.write.mode("overwrite").partitionBy("split_id").parquet(tmp)
    # verify counts from the written parquet FOOTERS (driver-side) —
    # the same evidence a count job would read, without paying a second
    # Spark job per stage task
    import pyarrow.parquet as pq

    got = {}
    for d in os.listdir(tmp):
        if not d.startswith("split_id="):
            continue
        s_val = int(d.split("=")[1])
        got[s_val] = sum(
            pq.ParquetFile(os.path.join(tmp, d, f)).metadata.num_rows
            for f in os.listdir(os.path.join(tmp, d))
            if f.endswith(".parquet"))
    for s in todo:
        want = plan["split_counts"][str(s)]
        if got.get(s, 0) != want:
            raise RuntimeError(
                f"split {s} staged {got.get(s, 0)} docs but the plan "
                f"counted {want} — the corpus changed between plan and "
                "staging; doc ids would overlap across splits. Re-plan "
                "into a fresh directory")
    for s in todo:
        dest = os.path.join(index_dir, "staged_corpus", f"split_id={s}")
        if os.path.exists(dest):
            shutil.rmtree(dest)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(os.path.join(tmp, f"split_id={s}"), dest)
        M.write_task_marker(index_dir, f"stage_{s:04d}",
                            {"n_docs": got[s]})
    shutil.rmtree(tmp)


def stage_split(spark: SparkSession, corpus: DataFrame, index_dir: str,
                split_id: int, plan: dict) -> None:
    """Single-split form of :func:`stage_splits` (worker CLI unit)."""
    stage_splits(spark, corpus, index_dir, [split_id], plan)


def stage_commit(index_dir: str, plan: dict) -> dict:
    """Sharded phase A, coordinator finish: every split marker present
    → freeze staging.json (identical content to :func:`stage_corpus`'s,
    so every downstream phase is agnostic to HOW staging ran)."""
    if os.path.exists(_staging_path(index_dir)):
        with open(_staging_path(index_dir)) as f:
            return json.load(f)
    missing = [s for s in range(plan["n_splits"])
               if M.read_task_marker(index_dir, f"stage_{s:04d}") is None]
    if missing:
        raise RuntimeError(
            f"staging incomplete — splits {missing[:10]} have no done "
            "marker; run the stage workers to completion first")
    _write_json_atomic(_staging_path(index_dir), plan)
    return plan


def segment_batch(term: pa.Array, salt: np.ndarray, ids: np.ndarray,
                  tfs: np.ndarray, dls: np.ndarray, starts: np.ndarray,
                  ends: np.ndarray,
                  positions: np.ndarray | None) -> pa.RecordBatch:
    """Segment rows (:data:`BATCH_SEGMENT_ARROW`) of the runs
    ``[starts[r], ends[r])`` of (doc_id, tf, dl[, flat positions])
    rows sorted by (run key, doc_id): ``term`` and ``salt`` are each
    run's, and the blocks and payload bytes come from ONE
    :func:`~.codec.encode_runs` call — the one encoder of the Spark
    segment job, the in-process build and the streaming merge."""
    enc = encode_runs(ids, tfs, dls, starts, ends, positions=positions)
    return pa.RecordBatch.from_arrays([
        term,
        pa.array(salt, pa.int32()),
        pa.array(ids[starts], pa.int64()),
        pa.array(ids[ends - 1], pa.int64()),
        pa.array(ends - starts, pa.int64()),
        pa.array(np.add.reduceat(tfs, starts), pa.int64()),
        enc.blocks,
        pa.array(enc.payload_bytes, pa.int64()),
    ], schema=BATCH_SEGMENT_ARROW)


def encode_sorted(batch: pa.RecordBatch,
                  keys: tuple) -> tuple[pa.RecordBatch, np.ndarray]:
    """:func:`segment_batch` of one Arrow batch of (term, salt, doc_id,
    tf, dl[, positions]) rows sorted by (*keys, doc_id): a run is a
    maximal stretch of equal ``keys``, found by Arrow comparisons of
    each row with the next. Also returns the run starts."""
    n = batch.num_rows
    change = np.zeros(max(n - 1, 0), bool)
    for k in keys:
        col = batch.column(k)
        change |= pc.not_equal(col.slice(1), col.slice(0, n - 1)
                               ).to_numpy(zero_copy_only=False)
    starts = np.concatenate(([0], np.flatnonzero(change) + 1))
    ends = np.append(starts[1:], n)
    positions = (batch.column("positions").flatten().to_numpy()
                 if "positions" in batch.schema.names else None)
    return segment_batch(
        batch.column("term").take(pa.array(starts)),
        batch.column("salt").to_numpy()[starts],
        batch.column("doc_id").to_numpy(), batch.column("tf").to_numpy(),
        batch.column("dl").to_numpy(), starts, ends, positions), starts


def _encode_partitions(batches):
    """mapInArrow encode kernel (C1+C2). Input batches come from a
    partition hash-distributed on (term, salt) and sorted by
    (term, salt, doc_id): every run is contiguous, found by change-point
    detection, and the whole batch is encoded in one numpy pass per
    stream — NO per-group frame (an applyInPandas-per-group variant
    spent ~150s on 400k tiny groups at 50k docs) and no per-run Python
    object. A run straddling an Arrow batch boundary yields two
    doc-disjoint runs, which the downstream merge (sort by first_doc_id
    + flatten) handles by construction."""
    for batch in batches:
        if batch.num_rows:
            yield encode_sorted(batch, ("term", "salt"))[0]


def _dedup_doc_dl(it):
    """Partition-local (doc_id, dl) dedupe over the fused kernel's tf
    stream. A doc's rows are contiguous within the partition stream, so
    per-batch drop_duplicates plus a carry of the last doc_id across
    Arrow batch boundaries yields exactly one row per doc."""
    last = None
    for pdf in it:
        if len(pdf) == 0:
            continue
        sub = pdf.drop_duplicates("doc_id")
        if last is not None and len(sub) and sub["doc_id"].iloc[0] == last:
            sub = sub.iloc[1:]
        if len(sub):
            last = sub["doc_id"].iloc[-1]
            yield sub


def _write_empty_split_manifest(index_dir: str, split_id: int,
                                source_desc: str) -> dict:
    """Done-manifest of a split with no docs. It gets no segment/dl
    dirs at all: finalize lists only existing dirs, and an empty
    partitioned write would leave an uninferrable schema-less
    directory behind."""
    metrics = {"n_docs": 0, "n_docs_tokenized": 0, "n_postings": 0,
               "n_terms": 0, "cf": 0, "sum_dl": 0,
               "compressed_bytes": 0, "sha_crc_sum": 0,
               "input": source_desc}
    M.write_split_manifest(index_dir, split_id, metrics)
    return metrics


def build_segment(
    spark: SparkSession,
    index_dir: str,
    split_id: int,
    info: dict,
    salt_threshold: int = 1 << 20,
    n_salts: int = 8,
    source_desc: str = "",
    bucket_layout: bool = True,
    docs_per_task: int = 256,
    staged_df: DataFrame | None = None,
    fan_cap: int | None = None,
) -> dict:
    """Phase B for one split: pruned scan → tokenize once → tf →
    salt → sorted block encode. Atomic: temp write → rename → manifest.
    When ``info['positions']`` is set the explode keeps the token index
    (posexplode) and per-posting position lists ride into the block
    codec — enabling phrase queries for ~60% more index bytes.

    ``bucket_layout`` picks the segment directory shape:
      True (default; what fleet workers use) — partition the segment by
      ``term_bucket`` so per-bucket finalize TASKS read only their own
      ``split_*/term_bucket=K`` dirs (directory pruning across a worker
      fleet). Costs one extra shuffle of the compressed runs plus a
      dynamic-partitioned write per split.
      False (what single-process :func:`build_index` uses) — write the
      encode output directly as flat parquet: no second shuffle, no
      partitioned write (measured ~25% of the whole 20k-file build at
      local[32], r4→r5). The single finalize job reads every segment
      anyway, so the pruning the bucket layout buys has no single-JVM
      customer. Finalize handles either layout (or a mix) — only
      per-bucket SUBSET tasks lose directory pruning on flat splits.
    """
    tokenizer = info["tokenizer"]
    count = info["split_counts"].get(str(split_id), 0)
    offset = info["split_offsets"][str(split_id)]
    seg_dir = os.path.join(index_dir, "segments", f"split_{split_id:04d}")
    tmp_dir = os.path.join(index_dir, "segments", f"_tmp_split_{split_id:04d}")
    dl_dir = os.path.join(index_dir, "doc_dl", f"split_{split_id:04d}")

    if count == 0:
        return _write_empty_split_manifest(index_dir, split_id,
                                           source_desc)

    # ``staged_df`` lets the driver loop resolve (list) the staged
    # scan ONCE for all split jobs — spark.read.parquet re-lists the
    # directory per call, which 16 concurrent split jobs pay 16 times
    if staged_df is None:
        staged_df = spark.read.parquet(
            os.path.join(index_dir, "staged_corpus"))
    split_rows = _absolute_ids(
        staged_df.where(F.col("split_id") == split_id),  # dir pruning
        info, [split_id])

    # a split's partition is typically ONE parquet file → the scan stage
    # gets one task and the tokenize UDF runs single-threaded per split
    # (measured: local[8] == local[32] wall time at 500k files). Fan the
    # rows out across the executor slots before the expensive UDF — but
    # size the fan by the split's DATA, capped at the cluster width:
    # blanket defaultParallelism turns a 1k-doc split into 32 near-empty
    # tasks whose scheduling overhead dominates the whole phase
    # (measured ~35% of the 20k-file segments phase at local[32], r5).
    # ``fan_cap`` further bounds the fan when SEVERAL split jobs run
    # concurrently (build_index passes cores/concurrency): 4 concurrent
    # splits each fanning to all 32 slots oversubscribe 4× and pay 4×
    # the per-task scheduling + Arrow batch overhead for zero extra
    # parallelism (measured r6: the sf1.0 segments phase).
    fan = min(max(4, -(-count // docs_per_task)),
              fan_cap or spark.sparkContext.defaultParallelism,
              spark.sparkContext.defaultParallelism)
    with_positions = bool(info.get("positions", False))
    # fused tokenize+tf kernel: tokenizes AND aggregates (tf, dl,
    # positions) inside the Arrow batch, so no explode→groupBy shuffle —
    # the only shuffle left is the (term, salt) repartition the encoder
    # needs anyway. Pinned row-identical to the operator chain
    # (term_freq(_positional)∘doc_terms∘with_tokens) by test_build.
    # persisted: three downstream actions (hot-set broadcast build, the
    # segment write, the dl side-table write) would otherwise each
    # replay the tokenize kernel — measured as 3× the split job's cost
    tf = P.term_stats_fused(
        # hash on doc_id (dense, high-cardinality → even spread): a
        # keyless repartition(fan) would round-robin, which both pays a
        # local sort of the content rows (sortBeforeRepartition, for
        # retry determinism) and is the shape guide §2.5 warns about;
        # the deterministic key gives the same fan-out without either
        split_rows.select("doc_id", "content").repartition(fan, "doc_id"),
        tokenizer, with_positions,
    ).persist()
    try:
        # C4 — in-split hot terms get range-salted over the split's
        # contiguous doc range so encode groups cap at ~count/n_salts
        # docs. A term's in-split df is bounded by the split's doc
        # count, so when count <= salt_threshold NO term can be hot —
        # skip the df aggregation job and the broadcast join entirely
        # (one Spark job per split at typical thresholds).
        if count <= salt_threshold:
            salted = tf.withColumn("salt", F.lit(0))
        else:
            hot = (
                tf.groupBy("term").agg(F.count("*").alias("df_seg"))
                .where(F.col("df_seg") > salt_threshold)
                .select("term").withColumn("is_hot", F.lit(True))
            )
            salt_expr = F.floor(
                (F.col("doc_id") - F.lit(offset)) * F.lit(n_salts)
                / F.lit(max(count, 1))
            ).cast("int")
            salted = tf.join(F.broadcast(hot), "term", "left").withColumn(
                "salt",
                F.when(F.col("is_hot").isNotNull(),
                       salt_expr).otherwise(F.lit(0)),
            ).drop("is_hot")

        run_cols = ["term", "salt", "doc_id", "tf", "dl"] + (
            ["positions"] if with_positions else [])
        runs = (
            salted.select(*run_cols)
            .repartition(fan, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id")
            .mapInArrow(_encode_partitions, BATCH_SEGMENT_SCHEMA)
        )

        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        if bucket_layout:
            # segments land PARTITIONED BY term_bucket: finalize
            # decomposes into per-bucket merge tasks (independent
            # workers) that read only their own
            # ``split_*/term_bucket=K`` directories — directory-level
            # pruning instead of W× full-segment rescans. The
            # post-encode repartition ON the bucket matters: a dynamic
            # partition write straight from the (term, salt)-
            # partitioned encode output would emit one file per
            # (task × bucket) — measured 32k tiny files for a 5k-doc
            # build — where this yields ~1 file per bucket per split,
            # and the extra shuffle moves only compressed blocks
            # (~2-4 bytes/posting). Keying the ENCODE repartition on
            # (bucket, salt) instead was measured ~2× slower here:
            # n_buckets×n_salts small encoder tasks lose more to
            # scheduling + per-batch overhead than this shuffle costs.
            n_buckets = int(info["n_buckets"])
            (runs.withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
             .repartition(n_buckets, "term_bucket")
             .write.mode("overwrite").partitionBy("term_bucket")
             .parquet(tmp_dir))
        else:
            runs.write.mode("overwrite").parquet(tmp_dir)
        if os.path.exists(seg_dir):
            shutil.rmtree(seg_dir)
        os.replace(tmp_dir, seg_dir)

        # per-doc dl side table (query-time dl broadcast + docs/ column);
        # docs with zero tokens have no tf rows → coalesced to dl=0 later.
        # A doc's tf rows all live in ONE partition of tf (the fused
        # kernel emits a doc's rows together and never splits a doc
        # across tasks), so the dedupe is PARTITION-LOCAL — a
        # mapInPandas pass with no groupBy exchange (one stage fewer
        # per split job than the old groupBy(doc_id).first aggregation)
        ddl = tf.select("doc_id", "dl").mapInPandas(
            _dedup_doc_dl, "doc_id long, dl long")
        ddl.write.mode("overwrite").parquet(dl_dir)
    finally:
        tf.unpersist(blocking=False)

    # metrics from the durably written data (BASELINE.json:6 lineage:
    # postings count, compressed bytes, term cardinality) — driver-side
    # pyarrow reads of the split's own files instead of a fourth Spark
    # job per split (the agg job's fixed cost was ~20% of a small split
    # build; a split job's "driver" owns exactly this split's data, so
    # the reads stay split-sized at any corpus scale). payload_bytes is
    # kernel-computed to blocks_bytes_col's definition, so verify
    # recounts still match.
    import pyarrow.parquet as pq

    def _sum(tbl, col):
        return int(pc.sum(tbl[col]).as_py() or 0)

    seg_t = pq.read_table(
        seg_dir, columns=["term", "df_run", "cf_run", "payload_bytes"])
    dl_t = pq.read_table(dl_dir, columns=["dl"])
    sha_t = pq.read_table(
        os.path.join(index_dir, "staged_corpus", f"split_id={split_id}"),
        columns=["content_sha256"])
    sha_crc = _sha_crc_sum(sha_t["content_sha256"].to_pylist())
    metrics = {
        "n_docs": int(count),
        "n_docs_tokenized": int(dl_t.num_rows),
        "n_postings": _sum(seg_t, "df_run"),
        "n_terms": int(pc.count_distinct(seg_t["term"]).as_py() or 0),
        "cf": _sum(seg_t, "cf_run"),
        "sum_dl": _sum(dl_t, "dl"),
        "compressed_bytes": _sum(seg_t, "payload_bytes"),
        "sha_crc_sum": int(sha_crc),
        "input": source_desc,
    }
    M.write_split_manifest(index_dir, split_id, metrics)
    return metrics


def _sha_crc_sum(shas: list) -> int:
    """The manifest's ``sha_crc_sum``: Σ F.crc32 over the utf-8 sha256
    strings, unsigned; null (null-content) hashes count nothing, as in
    a SQL sum."""
    import zlib

    return sum(zlib.crc32(v.encode()) for v in shas if v is not None)


def _split_from_offsets(info: dict):
    """Column deriving a run's split from its doc range (splits own
    contiguous id ranges)."""
    offsets = {int(k): v for k, v in info["split_offsets"].items()}
    off_arr = F.array(*[F.lit(offsets[s]) for s in sorted(offsets)])
    n_splits = info["n_splits"]
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_splits - 1)),
        F.lit(0),
        lambda acc, s: F.when(
            F.col("first_doc_id") >= F.element_at(off_arr, s + 1), s
        ).otherwise(acc),
    ).cast("int")


def _seg_bucket_paths(index_dir: str,
                      buckets: list[int]) -> tuple[list[str], list[str]]:
    """Existing segment inputs for the given buckets, as
    ``(bucket_dirs, flat_dirs)``: ``segments/split_*/term_bucket=K``
    dirs for bucket-layout splits — the directory-level pruning a
    per-bucket merge task reads through — plus whole split dirs for
    flat-layout splits (single-process builds; the caller filters those
    on a computed term_bucket instead of pruning). Explicit dirs, never
    globs: Spark probes glob paths for streaming-sink metadata and logs
    spurious stack traces."""
    seg_root = os.path.join(index_dir, "segments")
    if not os.path.isdir(seg_root):
        return [], []
    bucket_dirs, flat_dirs = [], []
    for d in sorted(os.listdir(seg_root)):
        if not d.startswith("split_"):
            continue
        entries = os.listdir(os.path.join(seg_root, d))
        if (not any(e.startswith("term_bucket=") for e in entries)
                and any(e.endswith(".parquet") for e in entries)):
            flat_dirs.append(os.path.join(seg_root, d))
            continue
        for k in buckets:
            p = os.path.join(seg_root, d, f"term_bucket={k}")
            if os.path.isdir(p):
                bucket_dirs.append(p)
    return bucket_dirs, flat_dirs


def _replace_dir(dst: str, src: str | None) -> None:
    """Move ``src`` into place at ``dst`` (drop dst if src is None —
    the bucket/split produced no rows)."""
    if os.path.exists(dst):
        shutil.rmtree(dst)
    if src is not None and os.path.exists(src):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)


def finalize_reset(index_dir: str) -> None:
    """Coordinator step before a (re-)finalize: clear previous finalize
    outputs, task markers, and claims so the task fleet starts from a
    clean slate. NOT run by workers — a worker joining late must not
    wipe the markers of tasks already done."""
    for sub in ("postings", "dict", "docs",
                "postings_build", "dict_build", "docs_build"):
        p = os.path.join(index_dir, sub)
        if os.path.exists(p):
            shutil.rmtree(p)
    mdir = M.manifest_dir(index_dir)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.startswith(("fin_bucket_", "fin_docs_", "fclaim_")):
                os.unlink(os.path.join(mdir, name))


def finalize_postings_buckets(spark: SparkSession, index_dir: str,
                              info: dict, buckets: list[int]) -> None:
    """One finalize TASK: merge the given term buckets' runs across all
    segments into ``postings/term_bucket=K`` + ``dict/term_bucket=K``.
    Reads ONLY those buckets' segment directories. Tasks over disjoint
    bucket sets have disjoint inputs, tmp dirs, outputs, and markers —
    safe to run as independent worker processes (claim via
    ``manifest.claim_task``); completion is the per-bucket marker."""
    if not buckets:
        return
    check_not_purged(index_dir, "finalize")
    n_splits = info["n_splits"]
    manifests = [M.read_split_manifest(index_dir, s) for s in range(n_splits)]
    n_docs = sum(m["n_docs"] for m in manifests)
    task_id = f"b{min(buckets):04d}_{max(buckets):04d}"
    tmp_post = os.path.join(index_dir, "postings_build", task_id)
    tmp_dict = os.path.join(index_dir, "dict_build", task_id)
    for p in (tmp_post, tmp_dict):
        if os.path.exists(p):
            shutil.rmtree(p)

    metrics_by_bucket: dict[int, dict] = {}
    bucket_dirs, flat_dirs = _seg_bucket_paths(index_dir, buckets)
    paths = bucket_dirs + flat_dirs
    # like the segment jobs, every shuffle here is explicitly sized
    # (repartition(len(buckets), term_bucket); the dict's
    # repartition(term_bucket)) — AQE's per-stage materialization only
    # adds driver round-trips (A/B: 2.2-2.4 s → 1.7-1.8 s per 32-bucket
    # call). Restored afterwards.
    with aqe_disabled(spark):
        _finalize_buckets_jobs(spark, index_dir, info, buckets, paths,
                               n_docs, tmp_post, tmp_dict,
                               metrics_by_bucket)
    for k in buckets:
        src_p = os.path.join(tmp_post, f"term_bucket={k}")
        src_d = os.path.join(tmp_dict, f"term_bucket={k}")
        _replace_dir(os.path.join(index_dir, "postings",
                                  f"term_bucket={k}"),
                     src_p if os.path.exists(src_p) else None)
        _replace_dir(os.path.join(index_dir, "dict", f"term_bucket={k}"),
                     src_d if os.path.exists(src_d) else None)
        M.write_task_marker(
            index_dir, f"fin_bucket_{k:04d}",
            metrics_by_bucket.get(
                k, {"n_rows": 0, "n_postings": 0, "n_terms": 0}))
    for p in (tmp_post, tmp_dict):
        if os.path.exists(p):
            shutil.rmtree(p)


def _finalize_buckets_jobs(spark, index_dir, info, buckets, paths,
                           n_docs, tmp_post, tmp_dict,
                           metrics_by_bucket) -> None:
    """The Spark work of one finalize bucket task (split out so the AQE
    scope in :func:`finalize_postings_buckets` wraps exactly it)."""
    if paths:
        n_buckets = int(info["n_buckets"])
        # bucket-layout dirs are already pruned to the task's buckets;
        # flat-layout dirs (single-process builds) carry every bucket,
        # so filter on the recomputed term_bucket — correct either way,
        # pruned only for the bucket layout (the fleet's default).
        # Explicit schema: both layouts write a superset of
        # SEGMENT_SCHEMA, and inferring it would read a footer per
        # root — another per-root job alongside the listing one.
        segs = spark.read.schema(SEGMENT_SCHEMA).parquet(*paths)
        # ONE shuffle: term_bucket is a subset of the grouping keys, so
        # hash-partitioning on it up front satisfies the aggregation's
        # clustered distribution (no second exchange) AND already
        # clusters the output for the partitioned write (one file per
        # bucket, not per task×bucket). The old groupBy-then-
        # repartition("term_bucket") shape paid two exchanges per call
        # — collect_list has no map-side reduction, so nothing is lost
        # by shuffling raw runs. Measured 5.7 s → 3.2 s per 8-bucket
        # call at 2 cores (50k-doc fixture).
        merged = (
            segs.withColumn("split_id", _split_from_offsets(info))
            .withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
            .where(F.col("term_bucket").isin([int(k) for k in buckets]))
            .repartition(max(1, len(buckets)), "term_bucket")
            .groupBy("term", "term_bucket", "split_id")
            .agg(
                F.sum("df_run").alias("df"),
                F.sum("cf_run").alias("cf"),
                F.min("first_doc_id").alias("first_doc_id"),
                F.max("last_doc_id").alias("last_doc_id"),
                F.flatten(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct("first_doc_id", "blocks"))),
                        lambda x: x["blocks"],
                    )
                ).alias("blocks"),
            )
        )
        # persist the merged runs across the two writes: the dict is an
        # aggregation OVER merged (Σ df/cf per term), so computing it
        # from the cached frame skips the old read-back of tmp_post
        # (directory listing + footer inference + a full re-scan and
        # re-shuffle per finalize task). Column pruning drops the heavy
        # blocks column from the cached read on the dict side.
        merged = merged.persist()
        try:
            (merged.sortWithinPartitions("term")
             .write.mode("overwrite").partitionBy("term_bucket")
             .parquet(tmp_post))
            write_dictionary(spark, merged, n_docs, index_dir,
                             out=tmp_dict)
        finally:
            merged.unpersist(blocking=False)
        # per-bucket metrics from the freshly written parquet, driver-
        # side via footers + the tiny dict files — a third Spark job
        # per finalize task (the old groupBy/countDistinct agg) was a
        # third of the phase's fixed overhead. Postings row counts are
        # footer metadata; n_terms is the dict bucket's row count
        # (buckets partition the term space); n_postings = Σ df over
        # the dict rows (dict df == merged postings df by definition).
        # metrics_by_bucket is the CALLER's dict — filled in place.
        for k in buckets:
            pdir = os.path.join(tmp_post, f"term_bucket={k}")
            ddir = os.path.join(tmp_dict, f"term_bucket={k}")
            if not os.path.isdir(pdir):
                continue
            m = {"n_rows": 0, "n_postings": 0, "n_terms": 0}
            import pyarrow.parquet as pq
            for f in os.listdir(pdir):
                if f.endswith(".parquet"):
                    m["n_rows"] += pq.ParquetFile(
                        os.path.join(pdir, f)).metadata.num_rows
            for f in os.listdir(ddir) if os.path.isdir(ddir) else []:
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(ddir, f),
                                      columns=["df"])
                    m["n_terms"] += t.num_rows
                    m["n_postings"] += int(sum(t["df"].to_pylist()))
            metrics_by_bucket[k] = m


def finalize_docs_splits(spark: SparkSession, index_dir: str,
                         info: dict, splits: list[int]) -> None:
    """One finalize TASK: materialize ``docs/split_id=N`` for the given
    splits (staged metadata ⟕ dl side table; no-token docs → dl 0).
    Disjoint splits → disjoint outputs/markers, worker-safe like the
    bucket tasks."""
    check_not_purged(index_dir, "finalize")
    task_id = f"d{min(splits):04d}_{max(splits):04d}"
    tmp = os.path.join(index_dir, "docs_build", task_id)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    nonempty = [s for s in splits
                if info["split_counts"].get(str(s), 0) > 0]
    if nonempty:
        dl_dirs = [
            os.path.join(index_dir, "doc_dl", f"split_{s:04d}")
            for s in nonempty
        ]
        dl_dirs = [d for d in dl_dirs if os.path.isdir(d)]
        # store_content: the raw content rides into docs/ as one more
        # column — split-aligned, zstd like every parquet write, and
        # invisible to metadata reads (column pruning: display/facet
        # joins select only the meta columns). The served index then
        # answers snippets with the source corpus unmounted, and the
        # staging copy can be dropped after finalize.
        store = bool(info.get("store_content", False))
        meta_cols = ["doc_id", "repo", "path", "commit", "lang",
                     "content_sha256", "split_id"]
        staged = (
            _absolute_ids(
                spark.read.parquet(
                    os.path.join(index_dir, "staged_corpus"))
                .where(F.col("split_id").isin(nonempty)),
                info, nonempty)
            .select(*meta_cols, *(["content"] if store else []))
        )
        if dl_dirs:
            dl_per_doc = spark.read.parquet(*dl_dirs).select("doc_id", "dl")
            staged = staged.join(dl_per_doc, "doc_id", "left")
        else:
            staged = staged.withColumn("dl", F.lit(None).cast("long"))
        docs = (
            staged.withColumn("dl", F.coalesce("dl", F.lit(0)).cast("long"))
            .select("doc_id", "repo", "path", "commit", "lang", "dl",
                    "content_sha256", "split_id",
                    *(["content"] if store else []))
        )
        # cluster on the partition column first: the dl join leaves the
        # rows hash-partitioned on doc_id, and a dynamic partitionBy
        # write from that emits one file per (task × split) — dozens of
        # tiny files the query-side docs join must then list and read
        # per broadcast (the r4 warm-latency slip). This yields ONE
        # file per split.
        (docs.repartition("split_id")
         .write.mode("overwrite").partitionBy("split_id").parquet(tmp))
    for s in splits:
        src = os.path.join(tmp, f"split_id={s}")
        _replace_dir(os.path.join(index_dir, "docs", f"split_id={s}"),
                     src if os.path.exists(src) else None)
        M.write_task_marker(
            index_dir, f"fin_docs_{s:04d}",
            {"n_docs": int(info["split_counts"].get(str(s), 0))})
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


def finalize_commit(index_dir: str, info: dict,
                    salt_threshold: int = 1 << 20,
                    n_salts: int = 8) -> dict:
    """Coordinator step after all finalize tasks: verify every bucket +
    docs marker landed, then write stats.json / merge.json /
    _INDEX_SUCCESS from the manifests and the tasks' recorded metrics
    (buckets partition the term space, so per-bucket term counts SUM to
    the global n_terms — no extra Spark job). Pure Python — no session
    needed, so a shell coordinator can run it instantly."""
    check_not_purged(index_dir, "finalize")
    n_splits, n_buckets = info["n_splits"], info["n_buckets"]
    missing = [f"fin_bucket_{k:04d}" for k in range(n_buckets)
               if M.read_task_marker(index_dir, f"fin_bucket_{k:04d}")
               is None]
    missing += [f"fin_docs_{s:04d}" for s in range(n_splits)
                if M.read_task_marker(index_dir, f"fin_docs_{s:04d}")
                is None]
    if missing:
        raise RuntimeError(
            f"finalize incomplete — {len(missing)} task(s) missing "
            f"(first: {missing[:5]}); run the finalize workers to "
            "completion (a crashed fleet's stale claims: "
            "build_worker.py --phase finalize --release-claims, with no "
            "live workers)")
    manifests = [M.read_split_manifest(index_dir, s) for s in range(n_splits)]
    n_docs = sum(m["n_docs"] for m in manifests)
    sum_dl = sum(m["sum_dl"] for m in manifests)
    n_docs_tok = sum(m.get("n_docs_tokenized", m["n_docs"])
                     for m in manifests)
    bucket_metrics = [M.read_task_marker(index_dir, f"fin_bucket_{k:04d}")
                      for k in range(n_buckets)]
    stats = {
        "format": 2,  # 2 = per-posting dl (+optional positions) in blocks
        "n_docs": n_docs,
        "n_docs_tokenized": n_docs_tok,
        "avgdl": sum_dl / n_docs if n_docs else 0.0,
        "n_splits": n_splits,
        "n_buckets": n_buckets,
        "tokenizer": info["tokenizer"],
        "positions": bool(info.get("positions", False)),
        "split_counts": info["split_counts"],
        "split_offsets": info["split_offsets"],
        "k1": K1,
        "b": B,
    }
    _write_json_atomic(_stats_path(index_dir), stats)
    merge_metrics = {
        "n_terms": sum(b["n_terms"] for b in bucket_metrics),
        "n_posting_rows": sum(b["n_rows"] for b in bucket_metrics),
        "n_postings": sum(b["n_postings"] for b in bucket_metrics),
        "compressed_bytes": sum(m.get("compressed_bytes", 0)
                                for m in manifests),
        "salt_threshold": salt_threshold,
        "n_salts": n_salts,
    }
    _write_json_atomic(os.path.join(index_dir, "manifest", "merge.json"),
                       merge_metrics)
    with open(os.path.join(index_dir, "_INDEX_SUCCESS"), "w") as f:
        json.dump(merge_metrics, f)
    return stats


def finalize_index(
    spark: SparkSession,
    index_dir: str,
    info: dict,
    salt_threshold: int = 1 << 20,
    n_salts: int = 8,
) -> dict:
    """Phase C — exact stats from manifests, pure-Column run merge,
    final layout. Idempotent. The only data moved is compressed blocks.

    Single-process shape of the decomposed finalize: one merge job over
    ALL buckets + one docs job over ALL splits + the pure-Python
    commit. A multi-executor fleet runs the same three pieces as
    independent claimed tasks instead (``jobs/build_worker.py --phase
    finalize`` per worker, then ``finalize_commit``) — so finalize
    throughput scales with workers exactly like the segment phase.
    """
    check_not_purged(index_dir, "finalize")
    finalize_reset(index_dir)
    finalize_postings_buckets(spark, index_dir, info,
                              list(range(info["n_buckets"])))
    finalize_docs_splits(spark, index_dir, info,
                         list(range(info["n_splits"])))
    return finalize_commit(index_dir, info,
                           salt_threshold=salt_threshold, n_salts=n_salts)


def purge_deleted(spark: SparkSession, index_dir: str) -> dict:
    """Q15b — physically remove tombstoned docs from the index: the one
    operation that DOES decode + re-encode (only blocks that actually
    contain a victim; untouched posting rows pass through byte-for-byte).
    df/cf/dict/stats are rebuilt, so afterwards the index scores
    EXACTLY like one built fresh over the surviving corpus (doc ids
    keep their original values, now with gaps — dense ids are a build
    artifact, not a query-time invariant).

    The tombstone set is broadcast as a sorted numpy array — fine while
    deletes ≪ corpus (the operating assumption of tombstoning; at a
    deletes-heavy 10^12 scale you'd rewrite via an anti-join over the
    staged corpus instead, i.e. rebuild)."""
    with maintenance_lock(index_dir, "purge"):
        return _purge_deleted_locked(spark, index_dir)


def _purge_deleted_locked(spark: SparkSession, index_dir: str) -> dict:
    from datastream_io_spark.operators.codec import (
        decode_block_dls,
        decode_block_positions,
        decode_blocks,
        ranges,
    )

    if os.path.exists(os.path.join(index_dir, "manifest",
                                   "wave_commit.json")):
        raise RuntimeError(
            "a streaming merge wave is committed but not fully applied "
            "(crash mid-apply) — run merge_stream_batches first so "
            "postings/docs/dict agree before purging")
    # repair any swap a previous purge crash left half-finished
    for sub in ("postings", "docs", "dict"):
        repair_swap(os.path.join(index_dir, sub))
    tomb_dir = os.path.join(index_dir, "tombstones")
    repair_swap(tomb_dir)
    if not os.path.exists(tomb_dir):
        return read_stats(index_dir)
    tomb = np.sort(
        spark.read.parquet(tomb_dir).toPandas()["doc_id"].to_numpy(np.int64))
    tomb_b = spark.sparkContext.broadcast(tomb)
    stats = read_stats(index_dir)
    has_pos = bool(stats.get("positions", False))

    posts_path = os.path.join(index_dir, "postings")
    posts = spark.read.parquet(posts_path)
    out_schema = posts.schema

    def kernel(it):
        tv = tomb_b.value
        for pdf in it:
            keep_rows = []
            for r in pdf.itertuples(index=False):
                blocks = list(r.blocks)
                ids, tfs = decode_blocks(blocks)
                pos = np.searchsorted(tv, ids)
                pos_c = np.minimum(pos, max(tv.size - 1, 0))
                dead = (tv[pos_c] == ids) if tv.size else \
                    np.zeros(ids.size, bool)
                if not dead.any():
                    keep_rows.append(r)  # untouched: bytes pass through
                    continue
                keep = ~dead
                if not keep.any():
                    continue  # whole posting list deleted
                dls = np.concatenate([decode_block_dls(b) for b in blocks])
                flat_pos = None
                if has_pos:
                    flat = np.concatenate(
                        [decode_block_positions(b) for b in blocks])
                    starts = np.cumsum(tfs) - tfs
                    flat_pos = flat[ranges(starts[keep], tfs[keep])]
                new_blocks = encode_blocks(
                    ids[keep], tfs[keep], dls[keep], positions=flat_pos)
                keep_rows.append(r._replace(
                    df=int(keep.sum()), cf=int(tfs[keep].sum()),
                    first_doc_id=int(ids[keep][0]),
                    last_doc_id=int(ids[keep][-1]),
                    blocks=new_blocks))
            if keep_rows:
                yield pd.DataFrame(keep_rows, columns=pdf.columns)

    import shutil

    tmp = posts_path + "_purge_tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (posts.mapInPandas(kernel, out_schema)
     .repartition("term_bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("term_bucket").parquet(tmp))

    docs_path = os.path.join(index_dir, "docs")
    docs_tmp = docs_path + "_purge_tmp"
    if os.path.exists(docs_tmp):
        shutil.rmtree(docs_tmp)
    docs = spark.read.parquet(docs_path)
    tomb_df = spark.read.parquet(tomb_dir).select("doc_id")
    docs.join(tomb_df, "doc_id", "left_anti").write.mode(
        "overwrite").parquet(docs_tmp)

    swap_in(posts_path, tmp)
    swap_in(docs_path, docs_tmp)

    docs = spark.read.parquet(docs_path)
    row = docs.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        F.sum((F.col("dl") > 0).cast("long")).alias("n_tok"),
    ).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
    postings = spark.read.parquet(posts_path)
    dict_tmp = write_dictionary(spark, postings, n_docs, index_dir,
                                to_tmp=True)
    swap_in(os.path.join(index_dir, "dict"), dict_tmp)

    stats["n_docs"] = n_docs
    stats["avgdl"] = avgdl
    stats["n_docs_tokenized"] = int(row["n_tok"] or 0)
    stats["n_tombstones"] = 0
    if "split_counts" in stats:  # batch indexes: lineage stays true
        stats["split_counts"] = {
            str(r["split_id"]): int(r["n"]) for r in
            docs.groupBy("split_id").agg(F.count("*").alias("n")).collect()
        }
    _write_json_atomic(_stats_path(index_dir), stats)

    # merge.json is the lineage the inspect/verify tooling recounts
    # against — keep it true after the rewrite; _INDEX_SUCCESS carries
    # the recorded n_terms that the dictionary placement
    # (indexed_search._dict_on_driver) and sidecar sizing read, and a
    # purge can shrink the dictionary
    n_terms = int(spark.read.parquet(
        os.path.join(index_dir, "dict")).count())
    merge_path = os.path.join(index_dir, "manifest", "merge.json")
    if os.path.exists(merge_path):
        with open(merge_path) as f:
            merge_metrics = json.load(f)
        mrow = postings.agg(
            F.count("*").alias("n_rows"),
            F.sum("df").alias("n_postings"),
            F.sum(blocks_bytes_col("blocks")).alias("bytes"),
        ).collect()[0]
        merge_metrics.update({
            "n_posting_rows": int(mrow["n_rows"] or 0),
            "n_postings": int(mrow["n_postings"] or 0),
            "compressed_bytes": int(mrow["bytes"] or 0),
            "n_terms": n_terms,
            "purged": True,
        })
        _write_json_atomic(merge_path, merge_metrics)
        success_payload = merge_metrics
    else:  # streaming indexes have no merge.json lineage
        success_payload = {"n_terms": n_terms, "purged": True}
    with open(os.path.join(index_dir, "_INDEX_SUCCESS"), "w") as f:
        json.dump(success_payload, f)
    shutil.rmtree(tomb_dir)
    # build-phase re-runs (stage resume / finalize) must refuse from now
    # on: segments/ and staged_corpus/ still contain the purged docs
    with open(_purged_marker(index_dir), "w") as f:
        f.write("purged — segments/staged corpus are stale; "
                "rebuild into a fresh directory\n")
    # keep expansion sidecars fresh across the dict rewrite (still
    # under the maintenance lock); no-op if the index never built them
    from datastream_io_spark.operators.dictindex import (
        refresh_sidecars_if_present,
    )

    refresh_sidecars_if_present(spark, index_dir)
    return stats


def drop_staged_corpus(index_dir: str) -> None:
    """Reclaim the staging copy once a build is final (content itself is
    not part of the served index)."""
    p = os.path.join(index_dir, "staged_corpus")
    if os.path.exists(p):
        shutil.rmtree(p)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_splits: int = 4,
    n_buckets: int = 8,
    tokenizer: str = "simple",
    salt_threshold: int = 1 << 20,
    n_salts: int = 8,
    source_desc: str = "",
    fail_after_splits: int | None = None,
    max_concurrent_splits: int = 4,
    positions: bool = False,
    bucket_layout: bool = False,
    store_content: bool = False,
) -> dict:
    """End-to-end resumable build. ``fail_after_splits`` is a test hook
    (C6 kill-resume test): raise after that many split jobs complete.

    Small corpora build IN-PROCESS (:mod:`.driver_build`) when they fit
    ``DRIVER_BUILD_MAX_DOCS`` rows and ``DRIVER_BUILD_MAX_BYTES`` of
    content. A plain scan of parquet files (``sources.scan_corpus``, a
    bare ``spark.read.parquet``) is read with pyarrow and gated on its
    footers' row counts and its content bytes: ZERO Spark jobs. Any
    other corpus costs two Spark jobs over
    ``corpus.limit(DRIVER_BUILD_MAX_DOCS + 1)``: a probe that returns
    only the row count and Σ content bytes, then, when both fit, the
    collect, with split id and sha256 computed in its select. Staging,
    segments and finalize then run on the driver with the same kernels,
    writing the same files and checkpoints — per-job and per-task fixed
    costs dwarf the kernels at that size. A resume takes the driver
    path when the frozen staging fits both caps. Over the gate, with
    ``bucket_layout=True`` (a fleet will finalize these segments), or
    with a source-supplied ``split_id`` column, the distributed phases
    below run; an over-gate corpus that is not a plain parquet scan
    then cost one extra probe job that read at most
    ``DRIVER_BUILD_MAX_DOCS + 1`` rows per input partition and
    returned one row.

    ``bucket_layout`` defaults to False here — the single-process build
    finalizes in one job over every segment, so the fleet layout's
    per-bucket directory pruning has no customer and its extra shuffle
    + dynamic-partitioned write per split is pure cost (measured ~25%
    of the 20k-file build, r4→r5). Pass True when this build's
    segments will later be finalized by a per-bucket worker fleet.

    Re-invoking after a crash resumes: staging is skipped if frozen,
    done splits are skipped via the manifest, finalize re-runs
    idempotently. Split jobs are independent (disjoint pruned inputs,
    disjoint outputs, per-split manifests), so up to
    ``max_concurrent_splits`` run as concurrent Spark jobs from driver
    threads — the scheduler interleaves their stages, hiding per-job
    fixed overhead without weakening atomicity or resume semantics.
    """
    import time

    from datastream_io_spark.operators import driver_build as DB

    os.makedirs(index_dir, exist_ok=True)
    t0 = time.time()
    info = None
    if (DRIVER_BUILD_MAX_DOCS > 0 and not bucket_layout
            and "split_id" not in corpus.columns):
        info = DB.stage(spark, corpus, index_dir, n_splits, n_buckets,
                        tokenizer, positions, store_content,
                        DRIVER_BUILD_MAX_DOCS, DRIVER_BUILD_MAX_BYTES)
    on_driver = info is not None
    if not on_driver:
        info = stage_corpus(spark, corpus, index_dir, n_splits, n_buckets,
                            tokenizer, positions=positions,
                            store_content=store_content)
    t_stage = time.time() - t0
    pending = M.pending_splits(index_dir, info["n_splits"])
    if fail_after_splits is not None:
        to_run, to_fail = pending[:fail_after_splits], pending[fail_after_splits:]
    else:
        to_run, to_fail = pending, []

    t0 = time.time()
    if on_driver:
        for split_id in to_run:
            DB.build_segment(index_dir, split_id, info,
                             salt_threshold=salt_threshold,
                             n_salts=n_salts, source_desc=source_desc)
    else:
        _distributed_segments(spark, index_dir, info, to_run,
                              salt_threshold, n_salts, source_desc,
                              max_concurrent_splits, bucket_layout)
    t_segments = time.time() - t0
    if to_fail:
        raise RuntimeError(f"injected failure before splits {to_fail}")
    t0 = time.time()
    if on_driver:
        stats = DB.finalize_index(index_dir, info,
                                  salt_threshold=salt_threshold,
                                  n_salts=n_salts)
    else:
        stats = finalize_index(spark, index_dir, info,
                               salt_threshold=salt_threshold,
                               n_salts=n_salts)
    # phase wall-clock into merge.json so bench regressions attribute to
    # a phase, not just a headline number (VERDICT r2 "what's wrong" #1)
    merge_path = os.path.join(index_dir, "manifest", "merge.json")
    merge_metrics = _read_json(merge_path)
    merge_metrics["phase_sec"] = {
        "stage": round(t_stage, 3),
        "segments": round(t_segments, 3),
        "finalize": round(time.time() - t0, 3),
    }
    _write_json_atomic(merge_path, merge_metrics)
    return stats


def _distributed_segments(spark: SparkSession, index_dir: str, info: dict,
                          to_run: list[int], salt_threshold: int,
                          n_salts: int, source_desc: str,
                          max_concurrent_splits: int,
                          bucket_layout: bool) -> None:
    """Phase B of a distributed :func:`build_index`: one Spark job per
    pending split, up to ``max_concurrent_splits`` at a time."""
    from concurrent.futures import ThreadPoolExecutor

    if not to_run:
        return
    staged_df = spark.read.parquet(os.path.join(index_dir, "staged_corpus"))
    # concurrent split jobs share the executor slots — cap each job's
    # fan so the wave fills the cluster once instead of oversubscribing
    n_conc = max(1, min(max_concurrent_splits, len(to_run)))
    fan_cap = max(4, spark.sparkContext.defaultParallelism // n_conc)

    def run(split_id: int) -> None:
        build_segment(spark, index_dir, split_id, info,
                      salt_threshold=salt_threshold, n_salts=n_salts,
                      source_desc=source_desc,
                      bucket_layout=bucket_layout, staged_df=staged_df,
                      fan_cap=fan_cap)

    # every shuffle in a segment job is EXPLICITLY partitioned
    # (repartition(fan) / repartition(fan, term, salt)), so AQE has
    # nothing to re-plan there — its per-shuffle stage materialization
    # only adds a driver round-trip to each of the (splits × stages)
    # tiny stages (measured ~15% of the 20k-file segments phase at
    # local[32]). Scoped to this phase; restored for finalize, whose
    # aggregation shuffles do benefit from AQE coalescing.
    with aqe_disabled(spark):
        if max_concurrent_splits <= 1 or len(to_run) <= 1:
            for split_id in to_run:
                run(split_id)
        else:
            with ThreadPoolExecutor(
                    max_workers=max_concurrent_splits) as pool:
                for _ in pool.map(run, to_run):
                    pass
