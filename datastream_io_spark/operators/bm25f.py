"""BM25F per-field scoring (SURVEY.md §2 r4 candidate; VERDICT r3
Missing #3): code-search users expect a path/identifier-field match to
outweigh a body match.

This implements the *simple BM25F* variant (Robertson & Zaragoza,
"The Probabilistic Relevance Framework", 2009 §6.2) with INTEGER field
weights: the per-doc weighted term frequency is

    tf'(t, d) = Σ_f w_f · tf_f(t, d),       dl'(d) = Σ_f w_f · len_f(d)

and the ordinary BM25 saturation is applied to tf'/dl' with shared
length normalization. With integer w_f this is EXACTLY BM25 over a
derived document whose text is each field repeated w_f times — so the
entire existing engine (fused build kernel, codec, block-max WAND,
phrase positions, deletes, streaming) serves BM25F unchanged: the
field weighting is compiled INTO the index at build time, costing
index size proportional to Σ w_f · field_len instead of a second
per-field posting stream, and the query path needs zero changes. The
trade-off vs per-field postings (Lucene's approach): weights are fixed
at build time — re-weighting means re-indexing — which is the right
trade for a serving index whose weights change rarely; the oracle
(DuckDB BM25 over the same repeated-field text) pins the semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fielded_text(field_weights: dict[str, int]):
    """Column: the fields concatenated with each repeated ``w`` times
    (insertion order — deterministic, oracle-replicable). Separators
    are single spaces; both tokenizers treat runs of separators as one
    boundary, so repetition only multiplies token counts."""
    parts = []
    for col, w in field_weights.items():
        if int(w) < 1 or int(w) != w:
            raise ValueError(
                f"field weight for {col!r} must be a positive integer, "
                f"got {w!r} (integer-repetition BM25F)")
        parts.extend([F.col(col)] * int(w))
    return F.concat_ws(" ", *parts)


def bm25f_corpus(corpus: DataFrame,
                 field_weights: dict[str, int]) -> DataFrame:
    """The derived corpus whose plain-BM25 index scores BM25F: content
    is replaced by the weighted field concatenation; doc keys and
    metadata pass through unchanged."""
    missing = [c for c in field_weights if c not in corpus.columns]
    if missing:
        raise ValueError(f"corpus lacks field columns: {missing}")
    return corpus.withColumn("content", fielded_text(field_weights))


def build_bm25f_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    field_weights: dict[str, int] | None = None,
    **build_kw,
) -> dict:
    """Build a field-weighted index: ``field_weights`` maps corpus
    columns to integer boosts (default: path³ + content¹ — the classic
    code-search shape). Everything else — resume, salting, positions,
    multi-worker fleets — is inherited from :func:`build_index`; the
    recorded weights land in stats.json for introspection."""
    from datastream_io_spark.operators.build import (
        _write_json_atomic,
        build_index,
        read_stats,
    )

    if field_weights is None:
        field_weights = {"path": 3, "content": 1}
    derived = bm25f_corpus(corpus, field_weights)
    stats = build_index(spark, derived, index_dir, **build_kw)
    stats["bm25f_weights"] = {k: int(v) for k, v in field_weights.items()}
    _write_json_atomic(os.path.join(index_dir, "stats.json"), stats)
    return read_stats(index_dir)


# ---------------------------------------------------------------------------
# Runtime-weighted BM25F (VERDICT r4 Missing #3): per-field indexes +
# query-time weight merge — changing path³ → path⁵ is a parameter, not
# a re-index.
# ---------------------------------------------------------------------------

_FIELDS_MANIFEST = "bm25f_fields.json"


def build_bm25f_field_indexes(
    spark: SparkSession,
    corpus: DataFrame,
    root: str,
    fields: tuple[str, ...] = ("path", "content"),
    **build_kw,
) -> dict:
    """One ordinary index per FIELD under a common root (Lucene's
    per-field posting shape, expressed as sibling indexes):

        root/bm25f_fields.json      {"fields": [...], "tokenizer": ...}
        root/field=<name>/          a full index dir over that field

    Doc ids are IDENTICAL across the field indexes by construction —
    id assignment is a pure function of the (repo, path, commit) key
    set (hash split + per-split key order), which every field shares —
    so :func:`search_bm25f` joins per-field postings on ``doc_id``
    with no key translation (equality is test-pinned). Each build is
    the standard resumable one; on a cluster the F builds are
    independent spark-submit jobs over the same source scan."""
    from datastream_io_spark.operators.build import read_stats

    os.makedirs(root, exist_ok=True)
    missing = [c for c in fields if c not in corpus.columns]
    if missing:
        raise ValueError(f"corpus lacks field columns: {missing}")
    from datastream_io_spark.operators.build import build_index

    for f in fields:
        sub = os.path.join(root, f"field={f}")
        if not os.path.exists(os.path.join(sub, "_INDEX_SUCCESS")):
            build_index(spark, corpus.withColumn("content", F.col(f)),
                        sub, source_desc=f"bm25f field {f}", **build_kw)
    stats0 = read_stats(os.path.join(root, f"field={fields[0]}"))
    manifest = {"fields": list(fields), "tokenizer": stats0["tokenizer"],
                "n_docs": int(stats0["n_docs"])}
    with open(os.path.join(root, _FIELDS_MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def _field_sum_dl(root: str, field: str, n_splits: int) -> int:
    """Exact integer Σ dl over a field index, from its per-split
    manifests (driver-side; avgdl in stats is float and would drift the
    parity with a repetition-built index)."""
    from datastream_io_spark.sources.manifest import read_split_manifest

    total = 0
    for s in range(n_splits):
        m = read_split_manifest(os.path.join(root, f"field={field}"), s)
        total += int(m["sum_dl"]) if m else 0
    return total


def search_bm25f(
    spark: SparkSession,
    root: str,
    query: str,
    field_weights: dict[str, float],
    k: int = 10,
    mode: str = "and",
) -> DataFrame:
    """Query-time-weighted simple BM25F over a field-index root:

        tf'(t,d) = Σ_f w_f tf_f(t,d)      dl'(d) = Σ_f w_f len_f(d)
        score    = Σ_t idf'(t) · sat(tf', dl', avgdl')

    with idf' from df'(t) = |{d : tf'(t,d) > 0}| and avgdl' = Σdl'/N —
    exactly the statistics a repetition-built index would have at
    integer weights (parity is test-pinned to 1e-9), but ``w_f`` may be
    any positive float and changes per QUERY.

    Plan shape: per field, one bucket-pruned postings scan decoded to
    (term, doc_id, tf) rows; the weighted merge, df' recount, dl' join,
    and the score fold are DataFrame ops. Every float summation folds
    over a sort_array (field order for tf'/dl', term order for the
    score), so results are bit-deterministic at any parallelism — the
    same non-associativity discipline as the kernel path. No block-max
    pruning: this path decodes the full postings of the query terms
    (the price of runtime weights); latency-critical fixed weights
    belong in a compiled repetition index (:func:`build_bm25f_index`).
    At 100-TB scale both sides of the dl' join are co-partitioned by
    doc_id ranges (docs/ is split-partitioned), and the per-term decode
    fans out by (field, split)."""
    import pandas as pd

    from datastream_io_spark.functions.bm25 import idf_col, tf_norm_col
    from datastream_io_spark.operators.build import read_stats
    from datastream_io_spark.operators.codec import (
        decode_block_docs,
        decode_block_tfs,
    )
    from datastream_io_spark.operators.indexed_search import (
        _SCORES_SCHEMA,
        _empty_frame,
        _plan_terms,
        postings_rows,
    )
    from datastream_io_spark.functions.xxhash import term_bucket

    if mode not in ("and", "or"):
        raise ValueError(
            f"mode must be 'and' or 'or' for runtime BM25F, got {mode!r} "
            "(phrase needs the compiled repetition index)")
    with open(os.path.join(root, _FIELDS_MANIFEST)) as fh:
        manifest = json.load(fh)
    bad = [f for f in field_weights if f not in manifest["fields"]]
    if bad:
        raise ValueError(
            f"unknown fields {bad}; root has {manifest['fields']}")
    for f, w in field_weights.items():
        if not w > 0:
            raise ValueError(f"weight for {f!r} must be > 0, got {w!r}")

    for f in manifest["fields"]:
        tomb = os.path.join(root, f"field={f}", "tombstones")
        if os.path.isdir(tomb) and os.listdir(tomb):
            raise ValueError(
                "runtime BM25F does not resolve tombstones on field "
                f"indexes yet (field={f} has deletes) — purge the "
                "field indexes or use the compiled repetition index")
    empty = _empty_frame(spark, _SCORES_SCHEMA)
    fields = [f for f in manifest["fields"] if f in field_weights]
    if not fields:
        return empty
    stats0 = read_stats(os.path.join(root, f"field={fields[0]}"))
    n_docs = int(stats0["n_docs"])
    if n_docs == 0:
        return empty
    _, terms, _ = _plan_terms(query, mode, stats0)
    if not terms:
        return empty
    n_terms = len(terms)

    # exact avgdl' from integer per-split sums
    sum_dlp = sum(float(w) * _field_sum_dl(root, f, stats0["n_splits"])
                  for f, w in field_weights.items() if f in fields)
    avgdlp = sum_dlp / n_docs

    def decode_kernel(it):
        for pdf in it:
            ids_out, tf_out, term_out = [], [], []
            for r in pdf.itertuples():
                import numpy as np
                ids = np.concatenate(
                    [decode_block_docs(b) for b in r.blocks])
                tfs = np.concatenate(
                    [decode_block_tfs(b) for b in r.blocks])
                ids_out.append(ids)
                tf_out.append(tfs)
                term_out.extend([r.term] * len(ids))
            if ids_out:
                import numpy as np
                yield pd.DataFrame({
                    "term": pd.Series(term_out, dtype="object"),
                    "doc_id": np.concatenate(ids_out),
                    "tf": np.concatenate(tf_out).astype("int64")})

    tf_parts, dl_parts = [], []
    for f in fields:
        sub = os.path.join(root, f"field={f}")
        st = read_stats(sub)
        if st["tokenizer"] != stats0["tokenizer"]:
            raise ValueError("field indexes disagree on tokenizer")
        buckets = sorted({term_bucket(t, int(st["n_buckets"]))
                          for t in terms})
        prows = postings_rows(spark, sub, buckets, sorted(terms))
        tf_parts.append(
            prows.mapInPandas(decode_kernel,
                              "term string, doc_id long, tf long")
            .select("term", "doc_id",
                    F.lit(f).alias("field"),
                    (F.lit(float(field_weights[f])) * F.col("tf"))
                    .alias("wtf")))
        dl_parts.append(
            spark.read.parquet(os.path.join(sub, "docs"))
            .select("doc_id", F.lit(f).alias("field"),
                    (F.lit(float(field_weights[f])) * F.col("dl"))
                    .alias("wdl")))

    tf_union = tf_parts[0]
    for p in tf_parts[1:]:
        tf_union = tf_union.unionByName(p)
    dl_union = dl_parts[0]
    for p in dl_parts[1:]:
        dl_union = dl_union.unionByName(p)

    # deterministic float folds: sort by field tag before summing
    fold = lambda col: F.aggregate(  # noqa: E731
        F.sort_array(F.collect_list(F.struct("field", col))),
        F.lit(0.0), lambda acc, x: acc + x[col])
    tfp = (tf_union.groupBy("term", "doc_id")
           .agg(fold("wtf").alias("tfp")))
    dlp = (dl_union.groupBy("doc_id")
           .agg(fold("wdl").alias("dlp")))
    dfp = tfp.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        tfp.join(F.broadcast(dfp), "term")
        .join(dlp, "doc_id")
        .withColumn("contrib",
                    idf_col(F.col("df"), n_docs)
                    * tf_norm_col(F.col("tfp"), F.col("dlp"), avgdlp))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0), lambda acc, x: acc + x["contrib"]).alias("score"),
        F.count("*").alias("_nt"))
    if mode == "and":
        per_doc = per_doc.where(F.col("_nt") == n_terms)
    return (per_doc.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
