"""Dictionary-scale expansion sidecars for wildcard (Q18) and fuzzy
(Q20) search — VERDICT r3 Missing #2.

The base dictionary is hash-partitioned by ``term_bucket`` (exact
lookups prune to the query's buckets), which a PREFIX cannot prune:
``s*`` must visit every bucket directory, and a fuzzy expansion scans
the full dictionary behind a length-band filter. Fine at 10^5 terms;
at 10^8-10^9 (the 10^12-file operating point) every such query is a
full dictionary pass. Two public-knowledge fixes, built once per
finalized dictionary by :func:`build_term_sidecars`:

``dict_sorted/``
    The same (term, df, cf, idf, term_bucket) rows RANGE-partitioned
    and sorted by term. A prefix predicate pushed into parquet then
    skips every file whose term range misses the prefix via row-group
    min/max stats — footer-only I/O outside the prefix's one or two
    range files, instead of row-group skipping WITHIN all B bucket
    files. Serves wildcard expansion and suggest_terms.

``dict_ngrams/``
    The positional-multiset q-gram index (Gravano et al., VLDB 2001
    count filter): one row per 3-gram OCCURRENCE of each term —
    (gram, occ, term, term_len, df, idf, term_bucket) — partitioned by
    ``gram_bucket``. A query expands by scanning ONLY its own grams'
    bucket directories, counting matching (gram, occ) pairs per term
    (= the gram-multiset intersection: occurrence indices make the
    per-gram min() exact), keeping terms with
    count ≥ max(|q|, |t|) − 2 − 3·max_dist, then verifying the
    survivors with the JVM levenshtein-with-threshold. The count
    filter is SOUND for edit distance (one edit destroys ≤ 3 grams of
    the multiset), so the result set is exactly the full-scan
    expansion — but the scan is bounded by the query grams' bucket
    slices, not the dictionary size. Multiset (not distinct-set)
    counting matters: repeated-gram terms like ``abcabcabc`` violate
    the distinct-set bound and would be falsely pruned.

Staleness: each sidecar records a content fingerprint of the
dictionary at build time (_INDEX_SUCCESS payload + corpus n_docs and
avgdl — every dict-rewriting operation moves at least one of them).
The dict-rewriting maintenance ops (incremental merge, purge) refresh
existing sidecars automatically under their own lock
(:func:`refresh_sidecars_if_present`); if a refresh is interrupted or
the fingerprint mismatches for any other reason, callers fall back to
the base-dictionary scans with a warning until
:func:`build_term_sidecars` runs again. Tombstone deletes never touch
the dictionary, so sidecars stay valid across them.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datastream_io_spark.functions.xxhash import term_bucket as _bucket_of

GRAM_N = 3
_SYNC = "_SIDECAR_SYNC.json"


def _dict_fingerprint(index_dir: str) -> dict:
    """Freshness fingerprint of the dictionary's CONTENT, not just its
    cardinality: every operation that rewrites dict/ also moves at
    least one of these — finalize and merge waves rewrite
    _INDEX_SUCCESS, merge and purge change n_docs/avgdl (idf depends
    on n_docs, so same-term-count rewrites still shift the stats).
    Tombstone deletes do NOT touch the dictionary — sidecars stay
    valid across them by design."""
    fp = {"success": None, "n_docs": None, "avgdl": None}
    p = os.path.join(index_dir, "_INDEX_SUCCESS")
    if os.path.exists(p):
        with open(p) as f:
            fp["success"] = json.load(f)
    sp = os.path.join(index_dir, "stats.json")
    if os.path.exists(sp):
        with open(sp) as f:
            stats = json.load(f)
        fp["n_docs"] = stats.get("n_docs")
        fp["avgdl"] = stats.get("avgdl")
    return fp


def _index_n_terms(index_dir: str) -> int | None:
    p = os.path.join(index_dir, "_INDEX_SUCCESS")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        v = json.load(f).get("n_terms")
    # absent key → None (NOT a sentinel int): callers fall back to
    # counting the dictionary; -1 would read as "tiny dict" and make
    # the dictionary placement pull an arbitrarily large dict into the
    # driver
    return None if v is None else int(v)


def _write_sync(path: str, fingerprint: dict) -> None:
    with open(os.path.join(path, _SYNC), "w") as f:
        json.dump({"fingerprint": fingerprint, "gram_n": GRAM_N}, f)


def _sidecar_fresh(index_dir: str, sub: str) -> bool:
    p = os.path.join(index_dir, sub, _SYNC)
    if not os.path.exists(p):
        return False
    with open(p) as f:
        recorded = json.load(f).get("fingerprint")
    return recorded == _dict_fingerprint(index_dir)


def _warn_stale(index_dir: str, sub: str, op: str) -> None:
    if os.path.exists(os.path.join(index_dir, sub)):
        warnings.warn(
            f"{sub} sidecar at {index_dir} is stale (dictionary changed "
            f"since it was built) — {op} falls back to the full "
            "dictionary scan; re-run build_term_sidecars", stacklevel=3)


def build_term_sidecars(spark: SparkSession, index_dir: str,
                        n_range_parts: int | None = None,
                        n_gram_buckets: int | None = None) -> dict:
    """Build/refresh both expansion sidecars from the finalized
    ``dict/``. O(total dictionary characters) — independent of corpus
    size — and embarrassingly parallel (a range repartition and a hash
    repartition). Safe to re-run any time (tmp → swap). Takes the
    maintenance lock: a merge/purge committing mid-build could
    otherwise leave a sidecar stamped with the POST-change fingerprint
    over PRE-change dictionary contents — fresh-looking but wrong."""
    from datastream_io_spark.operators.build import maintenance_lock

    with maintenance_lock(index_dir, "sidecars"):
        return _build_term_sidecars_locked(spark, index_dir,
                                           n_range_parts, n_gram_buckets)


def _build_term_sidecars_locked(spark: SparkSession, index_dir: str,
                                n_range_parts: int | None,
                                n_gram_buckets: int | None) -> dict:
    from datastream_io_spark.operators.build import repair_swap, swap_in

    # fingerprint FIRST: if the dictionary changes while we build (it
    # cannot under the lock, but belt-and-braces), the sidecar reads
    # as stale rather than fresh-over-wrong-data
    fingerprint = _dict_fingerprint(index_dir)
    d = spark.read.parquet(os.path.join(index_dir, "dict"))
    n_terms = _index_n_terms(index_dir)
    if n_terms is None:
        n_terms = d.count()
    if n_range_parts is None:
        # ~2M terms per range file: footer-only skipping keeps prefix
        # scans to one or two real file reads at any dictionary size
        n_range_parts = max(8, n_terms // 2_000_000)
    if n_gram_buckets is None:
        n_gram_buckets = max(16, n_range_parts)

    sorted_path = os.path.join(index_dir, "dict_sorted")
    tmp = sorted_path + "_tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (d.select("term", "df", "cf", "idf", "term_bucket")
     .repartitionByRange(n_range_parts, "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(tmp))
    _write_sync(tmp, fingerprint)
    repair_swap(sorted_path)
    if os.path.exists(sorted_path):
        swap_in(sorted_path, tmp)
    else:
        os.replace(tmp, sorted_path)

    grams_path = os.path.join(index_dir, "dict_ngrams")
    tmp = grams_path + "_tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    # one row per gram OCCURRENCE with its occurrence index: joining on
    # (gram, occ) against the query's occurrence-indexed grams computes
    # Σ_g min(count_term(g), count_query(g)) — the exact multiset
    # intersection the count filter needs
    # occurrence index computed POSITIONALLY inside the scan stage
    # (occ of gram g at position p = how many earlier positions hold
    # g) — same 0..c-1 numbering the old row_number window assigned,
    # without its (term, gram) shuffle + sort. Terms are short, so the
    # per-element prefix filter is O(len²) on ≤ a few dozen chars.
    grams_arr = F.expr(
        f"transform(sequence(1, length(term) - {GRAM_N - 1}), "
        f"i -> substring(term, i, {GRAM_N}))")
    with_grams = (
        d.select("term", "df", "idf", "term_bucket",
                 F.length("term").cast("int").alias("term_len"),
                 grams_arr.alias("_grams"))
        .where(F.length("term") >= GRAM_N)
        .select(
            "term", "df", "idf", "term_bucket", "term_len", "_grams",
            F.posexplode("_grams").alias("_pos", "gram"))
    )
    grams = (
        with_grams
        .withColumn(
            "occ",
            F.size(F.filter(
                F.slice(F.col("_grams"), 1, F.col("_pos")),
                lambda g: g == F.col("gram"))).cast("int"))
        .drop("_grams", "_pos")
        .withColumn("gram_bucket",
                    F.pmod(F.xxhash64("gram"),
                           F.lit(n_gram_buckets)).cast("int"))
    )
    (grams.repartition("gram_bucket")
     .sortWithinPartitions("gram", "term")
     .write.mode("overwrite").partitionBy("gram_bucket").parquet(tmp))
    _write_sync(tmp, fingerprint)
    with open(os.path.join(tmp, "_META.json"), "w") as f:
        json.dump({"n_gram_buckets": int(n_gram_buckets),
                   "gram_n": GRAM_N}, f)
    repair_swap(grams_path)
    if os.path.exists(grams_path):
        swap_in(grams_path, tmp)
    else:
        os.replace(tmp, grams_path)
    return {"n_terms": n_terms, "n_range_parts": n_range_parts,
            "n_gram_buckets": n_gram_buckets}


def refresh_sidecars_if_present(spark: SparkSession,
                                index_dir: str) -> bool:
    """Rebuild BOTH sidecars iff at least one exists — called by the
    dict-rewriting maintenance ops (incremental merge, purge) while
    they still hold the maintenance lock, so an index that opted into
    sidecars keeps them fresh automatically instead of degrading to
    the full-scan fallback until someone runs ``maintain_index.py
    sidecars``. No-op (False) when the index never built them."""
    if not (os.path.exists(os.path.join(index_dir, "dict_sorted"))
            or os.path.exists(os.path.join(index_dir, "dict_ngrams"))):
        return False
    _build_term_sidecars_locked(spark, index_dir, None, None)
    return True


def prefix_expansion_df(spark: SparkSession, index_dir: str,
                        prefix: str) -> DataFrame | None:
    """Wildcard expansion source: the term-sorted companion when fresh
    (file-skipping range scan), else None (caller falls back to the
    bucket dictionary)."""
    if not _sidecar_fresh(index_dir, "dict_sorted"):
        _warn_stale(index_dir, "dict_sorted", "wildcard expansion")
        return None
    d = spark.read.parquet(os.path.join(index_dir, "dict_sorted"))
    return d.where(F.col("term").startswith(prefix))


def fuzzy_expansion_rows(spark: SparkSession, index_dir: str, q: str,
                         max_dist: int, max_expansions: int) -> list | None:
    """Fuzzy expansion via the gram sidecar: returns the SAME rows the
    full-dictionary scan would (same count-filter-is-sound guarantee,
    same (df desc, term asc) cap), reading only the query grams' bucket
    directories — or None when the sidecar is absent/stale or the
    query is too short for the count filter to prune anything
    (|q| < 3 + 3·max_dist), in which case the caller's length-banded
    full scan is the right tool anyway."""
    if len(q) < GRAM_N + GRAM_N * max_dist:
        return None
    if not _sidecar_fresh(index_dir, "dict_ngrams"):
        _warn_stale(index_dir, "dict_ngrams", "fuzzy expansion")
        return None
    cand = fuzzy_candidates_df(spark, index_dir, q, max_dist)
    return (cand.orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions).collect())


def fuzzy_candidates_df(spark: SparkSession, index_dir: str, q: str,
                        max_dist: int) -> DataFrame:
    """The gram-sidecar candidate scan as a DataFrame (exposed so plan
    tests can assert the gram_bucket partition pruning)."""
    grams_path = os.path.join(index_dir, "dict_ngrams")
    with open(os.path.join(grams_path, "_META.json")) as f:
        n_gram_buckets = int(json.load(f)["n_gram_buckets"])

    q_grams = [q[i:i + GRAM_N] for i in range(len(q) - GRAM_N + 1)]
    occ_count: dict[str, int] = {}
    pairs = []
    for g in q_grams:
        pairs.append((g, occ_count.get(g, 0)))
        occ_count[g] = occ_count.get(g, 0) + 1
    buckets = sorted({_bucket_of(g, n_gram_buckets) for g, _ in pairs})
    lo, hi = max(1, len(q) - max_dist), len(q) + max_dist

    g = spark.read.parquet(grams_path)
    pair_col = F.concat_ws("\x00", "gram", F.col("occ").cast("string"))
    wanted = [f"{gr}\x00{oc}" for gr, oc in pairs]
    cand = (
        g.where(F.col("gram_bucket").isin(buckets)
                & F.col("term_len").between(lo, hi)
                & pair_col.isin(wanted))
        .groupBy("term", "term_len", "df", "idf", "term_bucket")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared")
               >= F.greatest(F.lit(len(q)), F.col("term_len"))
               - F.lit(GRAM_N - 1) - F.lit(GRAM_N * max_dist))
        .where(F.levenshtein(F.col("term"), F.lit(q), max_dist) >= 0)
        .select("term", "df", "idf", "term_bucket")
    )
    return cand
