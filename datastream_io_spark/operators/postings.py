"""T2–T5 / P4 — token explosion, tf, df, doc_len, doc ids
(SURVEY.md §2.2–2.3).

All pure DataFrame ops: Catalyst plans tf/df/doc_len as partial+final
hash aggregates automatically (§4.1), so map-side combine happens before
the shuffle — at 10^12 scale the shuffle carries (term, doc_id) partial
counts, never raw token streams.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datastream_io_spark.functions.tokenize import (
    tokenize_arrow,
    tokenize_simple_col,
    tokenizer_for,
)


def with_tokens(df: DataFrame, text_col: str = "content", mode: str = "simple",
                use_udf: bool = True) -> DataFrame:
    """T1 applied: add ``tokens array<string>``.

    ``use_udf=True`` → vectorized pandas UDF (the mandated Arrow path);
    ``use_udf=False`` and mode='simple' → pure Column ops (JVM codegen,
    used where we want a zero-Python plan, e.g. oracle parity demos).
    """
    if not use_udf and mode == "simple":
        tok = tokenize_simple_col(F.col(text_col))
    else:
        _, udf = tokenizer_for(mode)
        tok = udf(F.col(text_col))
    return df.withColumn("tokens", tok)


def doc_terms(tok_df: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """T2 — one row per (doc_id, term) occurrence."""
    return tok_df.select(doc_col, F.explode("tokens").alias("term"))


def term_freq(terms_df: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """T3 — tf per (doc, term); partial+final hash agg."""
    return terms_df.groupBy(doc_col, "term").agg(F.count("*").alias("tf"))


def term_freq_positional(pos_terms_df: DataFrame, doc_col: str = "doc_id",
                         extra_aggs: tuple = ()) -> DataFrame:
    """T3 (positional) — tf + sorted position list per (doc, term).
    Shared by the batch split builder and the streaming ingest so the
    position semantics can never diverge between the two paths."""
    return pos_terms_df.groupBy(doc_col, "term").agg(
        F.count("*").alias("tf"), *extra_aggs,
        F.sort_array(F.collect_list("pos")).alias("positions"))


class TermStats(NamedTuple):
    """(doc, term) rows of a batch, ordered by doc then term code: the
    tf of ``vocab[code[r]]`` in doc ``doc_id[r]`` and that doc's length
    ``dl[r]``. With positions, row r owns the next ``tf[r]`` ascending
    values of the flat ``positions``."""
    doc_id: np.ndarray     # int64
    code: np.ndarray       # int64, into vocab (first-appearance order)
    vocab: pa.Array        # string
    tf: np.ndarray         # int64
    dl: np.ndarray         # int64
    positions: np.ndarray | None  # int32

    def record_batch(self, doc_col: str = "doc_id") -> pa.RecordBatch:
        """As ``(doc_col, term, tf, dl[, positions array<int>])`` rows."""
        cols = {doc_col: pa.array(self.doc_id),
                "term": self.vocab.take(pa.array(self.code)),
                "tf": pa.array(self.tf), "dl": pa.array(self.dl)}
        if self.positions is not None:
            cols["positions"] = pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(self.tf)))
                         .astype(np.int32)),
                pa.array(self.positions))
        return pa.RecordBatch.from_pydict(cols)


def term_stats_arrow(doc_ids: np.ndarray, content, mode: str,
                     positions: bool) -> TermStats | None:
    """The fused tokenize+tf kernel over ONE batch of (doc_id, content):
    :func:`~datastream_io_spark.functions.tokenize.tokenize_arrow`, then
    (doc, term) groups from one stable argsort of
    ``doc * n_terms + code`` (so each group's positions stay ascending),
    each token's position being its ordinal minus its doc's start. None
    when the batch has no tokens. The in-process build
    (``driver_build``), the Spark wrapper (:func:`term_stats_fused`) and
    streaming ingest all run it; a doc's rows depend only on its own
    content, so batching never changes them."""
    tok = tokenize_arrow(content, mode)
    total = tok.codes.size
    if total == 0:
        return None
    lens = np.diff(tok.bounds)
    doc = np.repeat(np.arange(lens.size), lens)
    key = doc * len(tok.vocab) + tok.codes
    order = np.argsort(key, kind="stable")
    key = key[order]
    starts = np.flatnonzero(np.concatenate(([True], key[1:] != key[:-1])))
    first = order[starts]
    pos = None
    if positions:
        pos = (np.arange(total) - tok.bounds[doc])[order].astype(np.int32)
    return TermStats(
        np.asarray(doc_ids, np.int64)[doc[first]], tok.codes[first],
        tok.vocab, np.diff(np.append(starts, total)), lens[doc[first]],
        pos)


def term_stats_fused(df: DataFrame, mode: str, positions: bool,
                     doc_col: str = "doc_id") -> DataFrame:
    """T1+T2+T3(+T4) fused into ONE ``mapInArrow`` kernel
    (:func:`term_stats_arrow`): (doc_id, content) → (doc_id, term, tf,
    dl[, positions]) with NO shuffle. Row-for-row identical to
    ``term_freq(_positional)(doc_terms(with_tokens(df, mode)))`` —
    pinned by tests/test_build.py — but where that chain shuffles every
    partially-aggregated (doc, term) row once for the groupBy (plus
    runs collect_list through partial/final merge), this kernel
    aggregates inside the Arrow batch with numpy (no per-token Python,
    no pandas), so the only shuffle left in a segment build is the
    (term, salt) repartition the encoder needs anyway. At 10^12 files
    that deletes the largest shuffle of the build (BASELINE.json
    north_star: vectorized Arrow/pandas UDFs, partitioning/shuffle
    handled explicitly). A doc's rows leave the kernel together."""
    out_schema = f"{doc_col} long, term string, tf long, dl long" + (
        ", positions array<int>" if positions else "")

    def kernel(batches):
        for batch in batches:
            stats = term_stats_arrow(batch.column(doc_col).to_numpy(),
                                     batch.column("content"), mode,
                                     positions)
            if stats is not None:
                yield stats.record_batch(doc_col)

    return df.mapInArrow(kernel, out_schema)


def doc_len(tok_df: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """T4 — tokens per doc, computed from the array (no extra shuffle)."""
    return tok_df.select(doc_col, F.size("tokens").cast("long").alias("dl"))


def doc_freq(tf_df: DataFrame) -> DataFrame:
    """T5 — df per term. tf rows are already distinct per (doc, term), so
    a plain count avoids the two-phase distinct expansion."""
    return tf_df.groupBy("term").agg(F.count("*").alias("df"))


def corpus_stats(dl_df: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — one tiny agg action; broadcast as literals."""
    row = dl_df.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"])


def assign_doc_ids(df: DataFrame, key_cols: list[str], n_splits: int = 1) -> DataFrame:
    """P4 — dense deterministic int64 doc ids (SURVEY.md §1.2).

    Never ``monotonically_increasing_id`` (non-deterministic across
    partitioning → breaks rank-identity and resume, BASELINE.json:14).

    Scalable two-level scheme: hash-split on the doc key into
    ``n_splits`` deterministic splits, count per split (tiny agg),
    prefix-sum offsets on the driver, then
    ``doc_id = offset[split] + row_number within split ordered by key``.
    Dense, deterministic at any parallelism, and the only global
    operation is an ``n_splits``-row aggregate — no single-partition
    global sort at 10^12 rows. ``n_splits=1`` degenerates to a plain
    global-sort row_number (fine at test scale).
    """
    key = [F.col(c) for c in key_cols]
    if n_splits <= 1:
        w = Window.orderBy(*key)
        return df.withColumn("doc_id", F.row_number().over(w).cast("long") - 1)

    split = F.pmod(F.xxhash64(*key), F.lit(n_splits)).cast("int")
    with_split = df.withColumn("split_id", split)
    counts = {
        r["split_id"]: r["n"]
        for r in with_split.groupBy("split_id").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for s in range(n_splits):
        offsets[s] = acc
        acc += counts.get(s, 0)
    offset_col: Column = F.element_at(
        F.array(*[F.lit(offsets[s]) for s in range(n_splits)]),
        F.col("split_id") + 1,
    ).cast("long")
    w = Window.partitionBy("split_id").orderBy(*key)
    return with_split.withColumn(
        "doc_id", offset_col + F.row_number().over(w).cast("long") - 1
    )
