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

Where each sidecar is built follows where its dictionary is placed
(``indexed_search._dict_on_driver``: the recorded term count against
``AUTO_DICT_DRIVER_MAX_TERMS``). A driver-placed dictionary gets both
sidecars in-process, with no Spark job: pyarrow reads ``dict/``, sorts
it by term and writes equal-count range files, and numpy cuts the
grams (:func:`_gram_rows`), which are written one file per
``gram_bucket=K`` directory. A dictionary past the gate keeps the Spark
builder (a range repartition and a hash repartition). Both write the
same rows, schemas and layout, so either placement reads either
build's files; a driver-placed dictionary's expansions read only
``dict_sorted/``, which gives the process's first vocabulary read its
term order without a sort.

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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
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
    from datastream_io_spark.operators.indexed_search import (
        _dict_dataset,
        _dict_on_driver,
    )

    # fingerprint FIRST: if the dictionary changes while we build (it
    # cannot under the lock, but belt-and-braces), the sidecar reads
    # as stale rather than fresh-over-wrong-data
    fingerprint = _dict_fingerprint(index_dir)
    n_terms = _index_n_terms(index_dir)
    if _dict_on_driver(index_dir):
        d = (_dict_dataset(index_dir)
             .to_table(columns=["term", "df", "cf", "idf", "term_bucket"])
             .sort_by("term"))
        n_terms = d.num_rows if n_terms is None else n_terms
        write_sorted, write_grams = _sorted_local, _grams_local
    else:
        d = spark.read.parquet(os.path.join(index_dir, "dict"))
        n_terms = d.count() if n_terms is None else n_terms
        write_sorted, write_grams = _sorted_spark, _grams_spark
    if n_range_parts is None:
        # ~2M terms per range file: footer-only skipping keeps prefix
        # scans to one or two real file reads at any dictionary size
        n_range_parts = max(8, n_terms // 2_000_000)
    if n_gram_buckets is None:
        n_gram_buckets = max(16, n_range_parts)

    _publish(os.path.join(index_dir, "dict_sorted"), fingerprint,
             lambda tmp: write_sorted(d, tmp, n_range_parts))
    _publish(os.path.join(index_dir, "dict_ngrams"), fingerprint,
             lambda tmp: write_grams(d, tmp, n_gram_buckets),
             meta={"n_gram_buckets": int(n_gram_buckets), "gram_n": GRAM_N})
    return {"n_terms": n_terms, "n_range_parts": n_range_parts,
            "n_gram_buckets": n_gram_buckets}


def _publish(path: str, fingerprint: dict, write,
             meta: dict | None = None) -> None:
    """Write one sidecar with ``write(tmp)`` into ``<path>_tmp``, stamp
    it with ``fingerprint`` (and ``meta`` as ``_META.json``), then swap
    it in (``repair_swap`` first finishes a swap a crash left
    behind)."""
    from datastream_io_spark.operators.build import repair_swap, swap_in

    tmp = path + "_tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write(tmp)
    _write_sync(tmp, fingerprint)
    if meta is not None:
        with open(os.path.join(tmp, "_META.json"), "w") as f:
            json.dump(meta, f)
    repair_swap(path)
    if os.path.exists(path):
        swap_in(path, tmp)
    else:
        os.replace(tmp, path)


def _sorted_spark(d: DataFrame, tmp: str, n_parts: int) -> None:
    """``dict_sorted/`` from the Spark dictionary ``d``: a range
    repartition into ``n_parts`` files, each sorted by term."""
    (d.select("term", "df", "cf", "idf", "term_bucket")
     .repartitionByRange(n_parts, "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(tmp))


def _grams_spark(d: DataFrame, tmp: str, n_buckets: int) -> None:
    """``dict_ngrams/`` from the Spark dictionary ``d``: one row per
    gram occurrence, hash-partitioned into ``gram_bucket=K``
    directories, each sorted by (gram, term)."""
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
                           F.lit(n_buckets)).cast("int"))
    )
    (grams.repartition("gram_bucket")
     .sortWithinPartitions("gram", "term")
     .write.mode("overwrite").partitionBy("gram_bucket").parquet(tmp))


def _sorted_local(t: pa.Table, tmp: str, n_parts: int) -> None:
    """``dict_sorted/`` from the term-sorted pyarrow dictionary ``t``:
    ``n_parts`` equal-count slices, one file each, named in term order
    (one empty file for an empty dictionary, so the directory keeps its
    schema)."""
    cuts = np.linspace(0, t.num_rows, n_parts + 1).astype(np.int64)
    parts = [(lo, hi) for lo, hi in zip(cuts[:-1], cuts[1:]) if hi > lo]
    _write_parts([(os.path.join(tmp, f"part-{i:05d}.zstd.parquet"),
                   lambda lo=lo, hi=hi: t.slice(lo, hi - lo))
                  for i, (lo, hi) in enumerate(parts or [(0, 0)])])


def _grams_local(t: pa.Table, tmp: str, n_buckets: int) -> None:
    """``dict_ngrams/`` from the term-sorted pyarrow dictionary ``t``:
    the rows, columns and ``gram_bucket`` of :func:`_grams_spark`, one
    file per non-empty bucket directory, sorted by (gram, term)."""
    term, grams, code, occ, bucket = _gram_rows(
        t.column("term").combine_chunks(), n_buckets)
    term_len = pc.utf8_length(t.column("term")).cast(pa.int32())

    def rows(lo: int, hi: int) -> pa.Table:
        at = term[lo:hi]
        return pa.table({
            "term": t.column("term").take(at),
            "df": t.column("df").take(at),
            "idf": t.column("idf").take(at),
            "term_bucket": t.column("term_bucket").take(at),
            "term_len": term_len.take(at),
            "gram": grams.take(code[lo:hi]),
            "occ": pa.array(occ[lo:hi], pa.int32()),
        })

    cuts = np.searchsorted(bucket, np.arange(n_buckets + 1))
    _write_parts([
        (os.path.join(tmp, f"gram_bucket={b}", "part-00000.zstd.parquet"),
         lambda lo=cuts[b], hi=cuts[b + 1]: rows(lo, hi))
        for b in np.flatnonzero(np.diff(cuts))])


# zstd-3 like the session's Spark writer, with its dictionary pages
_PARQUET_KW = dict(compression="zstd", compression_level=3,
                   store_schema=False)


def _write_parts(parts: list) -> None:
    """Write ``[(file path, make table)]``, a few files at a time:
    pyarrow's take and parquet encoding release the GIL."""
    from concurrent.futures import ThreadPoolExecutor

    def write(part) -> None:
        path, make = part
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(make(), path, **_PARQUET_KW)

    with ThreadPoolExecutor(min(4, os.cpu_count() or 1)) as pool:
        list(pool.map(write, parts))


def _gram_rows(terms: pa.StringArray, n_buckets: int) -> tuple:
    """Every 3-gram occurrence of ``terms`` (sorted by term), in
    (gram_bucket, gram, term, position) order: the term index, the
    distinct grams (a string array in gram order) and each row's index
    into them, the occurrence index (how many earlier positions of the
    term hold the same gram) and the ``gram_bucket``
    (``pmod(xxhash64(gram), n_buckets)``).

    Grams are cut in code points, as Spark's ``substring`` counts them:
    character starts are the UTF-8 bytes that are not continuation
    bytes. Each gram is keyed by its three code points packed into one
    integer (21 bits each); UTF-8 byte order is code-point order, so
    integer order is Spark's binary string order. One stable sort of
    the keys orders the rows by (gram, term, position); the distinct
    grams' runs are then regrouped by bucket."""
    from datastream_io_spark.functions.xxhash import xxhash64_many
    from datastream_io_spark.operators.codec import ranges

    n = len(terms)
    _, obuf, dbuf = terms.buffers()
    off = np.frombuffer(obuf, np.int32)[terms.offset:terms.offset + n + 1]
    off = off.astype(np.int64)
    data = (np.frombuffer(dbuf, np.uint8)[off[0]:off[-1]]
            if dbuf is not None else np.zeros(0, np.uint8))
    off -= off[0]
    starts = np.flatnonzero((data & 0xC0) != 0x80)  # code point starts
    bounds = np.append(starts, data.size)           # + the buffer end
    char_off = np.searchsorted(starts, off)         # per term, in chars

    # code points: the lead byte's payload bits, then 6 per continuation
    width = np.diff(bounds)
    cp = data[starts].astype(np.int64) & np.select(
        [width == 1, width == 2, width == 3], [0x7F, 0x1F, 0x0F], 0x07)
    for j in range(1, 4):
        more = width > j
        cp[more] = (cp[more] << 6) | (data[starts[more] + j] & 0x3F)

    # one gram per position 0 .. len-3 of each term of ≥ 3 characters
    n_grams = np.maximum(np.diff(char_off) - (GRAM_N - 1), 0)
    first = ranges(char_off[:-1], n_grams)          # first char of each
    term = np.repeat(np.arange(n, dtype=np.int32), n_grams)
    key = (cp[first] << 42) | (cp[first + 1] << 21) | cp[first + 2]
    del cp
    by_gram = np.argsort(key, kind="stable")        # (gram, term, pos)
    key = key[by_gram]
    run = np.flatnonzero(np.concatenate(([True], key[1:] != key[:-1])))
    run_len = np.diff(np.append(run, key.size))
    del key

    # the distinct grams' strings (from their first rows) and buckets
    g0 = first[by_gram[run]]
    glen = bounds[g0 + GRAM_N] - bounds[g0]
    grams = pa.StringArray.from_buffers(
        run.size,
        pa.py_buffer(np.concatenate([[0], np.cumsum(glen)]).astype(np.int32)),
        pa.py_buffer(data[ranges(bounds[g0], glen)]))
    gbucket = xxhash64_many(grams).view(np.int64) % n_buckets

    # the runs regrouped by bucket, grams ascending within each
    runs = np.argsort(gbucket, kind="stable")
    order = by_gram[ranges(run[runs], run_len[runs])]
    code = np.repeat(runs, run_len[runs])
    term = term[order]
    # occ: the rank within each (gram, term) run, positions ascending
    new = np.concatenate(([True], (code[1:] != code[:-1])
                          | (term[1:] != term[:-1])))
    pair = np.flatnonzero(new)
    occ = np.arange(term.size) - np.repeat(pair, np.diff(
        np.append(pair, term.size)))
    return term, grams, code, occ, np.repeat(gbucket[runs], run_len[runs])


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
