"""In-process build of small corpora — the build-side twin of the
driver query path (``indexed_search.Searcher._run``).

A distributed ``build_index`` of a few hundred files runs ~16 Spark jobs
and ~70 tasks; almost all of that cost is fixed per job/task (JVM
planning and codegen, the JVM↔Python Arrow crossing of every Python
kernel batch), while the kernels themselves take a fraction
of a CPU-second on such a corpus. Under ``build.DRIVER_BUILD_MAX_DOCS``
(rows) and ``build.DRIVER_BUILD_MAX_BYTES`` (content bytes) the build
therefore brings the corpus to the driver and runs the three phases
here, in this process, with the SAME kernels:

  stage     a plain scan of parquet files (``sources.scan_corpus``, a
            bare ``spark.read.parquet``) is read with pyarrow and runs
            NO Spark job: the footers' row counts and the content bytes
            gate it, ``xxhash.xxhash64_many`` computes ``split_id`` the
            way ``build._doc_key_split`` does (one lane-parallel numpy
            hash per key column, the seed chained column to column) and
            ``hashlib.sha256`` ``content_sha256`` the way ``F.sha2``
            does. Any other corpus (in-memory frames, filters, unions,
            DSv2 sources, partitioned directories, non-string columns)
            is collected in two small Spark jobs, a size probe and then
            the rows, with both columns computed in the JVM select.
            Dedupe (max sha256, max lang survivor) and the split-local
            dense ids follow the window order of
            ``build._staged_local_df``.
  segments  the columnar kernels of the Spark segment job, on the
            split's Arrow columns: ``postings.term_stats_arrow``
            (tokenize to term codes, tf and positions by one stable
            argsort), the same range salting, then one
            ``build.segment_batch`` (``codec.encode_runs``) over the
            (term, salt, doc_id)-sorted rows, whose blocks column is
            written as built: no pandas frame, no per-run or per-block
            Python object.
  finalize  runs merged per (term, split) by concatenating their block
            lists in first_doc_id order (the distributed
            sort_array + flatten), term buckets from one
            ``xxhash.xxhash64_many`` over the distinct terms,
            ``bm25.idf_py``, then ``build.finalize_commit``.

Every checkpoint and file of the distributed layout is written (pyarrow,
zstd, explicit schemas matching the Spark readers' ``*_SCHEMA``), so a
build killed on one path resumes on the other, and readers cannot tell
which path wrote an index. The only difference: a Spark encode task
splits a run where an Arrow batch boundary cuts it, which changes block
boundaries (and ``compressed_bytes``) but never the decoded postings."""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from datastream_io_spark.functions.bm25 import idf_py
from datastream_io_spark.functions.xxhash import xxhash64_many
from datastream_io_spark.operators import build as B
from datastream_io_spark.operators.codec import ranges
from datastream_io_spark.operators.postings import term_stats_arrow
from datastream_io_spark.session import aqe_disabled
from datastream_io_spark.sources import manifest as M
from datastream_io_spark.sources.scan import CORPUS_COLS

# zstd-3 like Spark's writer; dictionary pages off and no embedded Arrow
# schema keep the files as small as Spark's (pyarrow's defaults grew a
# code index by ~10%; with these the benchmark's build_code index is
# 0.3% smaller than the Spark-written one)
_PARQUET_KW = dict(compression="zstd", compression_level=3,
                   use_dictionary=False, store_schema=False)
_PART = "part-00000.zstd.parquet"


def _arrow_schema(schema: T.StructType, drop: tuple = ()) -> pa.Schema:
    return to_arrow_schema(
        T.StructType([f for f in schema.fields if f.name not in drop]))


# hive partition columns live in the directory name, not the file
POSTINGS_ARROW = _arrow_schema(B.POSTINGS_SCHEMA, drop=("term_bucket",))
DICT_ARROW = _arrow_schema(B.DICT_SCHEMA, drop=("term_bucket",))
_MERGE_COLS = ["term", "first_doc_id", "last_doc_id", "df_run", "cf_run",
               "blocks"]
_META_COLS = ["repo", "path", "commit", "lang"]


def _write(table: pa.Table, out_dir: str) -> None:
    """One parquet file into ``out_dir`` (no pandas/Arrow key-value
    metadata: Spark's readers use none of it)."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table.replace_schema_metadata(),
                   os.path.join(out_dir, _PART), **_PARQUET_KW)


def _nulls_first(v):
    return (v is not None, "" if v is None else v)


def _dedupe_order(t: pa.Table) -> list[int]:
    """Row indices of the staged survivors in staged order: per split,
    keys ascending (nulls first), first row of each key group under
    content_sha256 DESC, lang DESC (nulls last) — the window order of
    ``build._staged_local_df``. Python compares str by code point,
    which is Spark's UTF-8 byte order."""
    cols = {c: t.column(c).to_pylist()
            for c in ("split_id", "repo", "path", "commit", "lang",
                      "content_sha256")}
    order = list(range(t.num_rows))
    # stable sorts, least significant key first; reverse=True keeps
    # ties in input order and puts nulls last
    for c in ("lang", "content_sha256"):
        v = cols[c]
        order.sort(key=lambda i: _nulls_first(v[i]), reverse=True)
    key = list(zip(cols["split_id"], cols["repo"], cols["path"],
                   cols["commit"]))
    order.sort(key=lambda i: (key[i][0],
                              *(_nulls_first(v) for v in key[i][1:])))
    out, prev = [], None
    for i in order:
        if key[i] != prev:
            out.append(i)
            prev = key[i]
    return out


def _staged_content_bytes(index_dir: str) -> int:
    """Uncompressed bytes of ``staged_corpus/``'s content column, from
    the parquet footers (either path's files) — the resume's stand-in
    for the probe's Σ content bytes."""
    total = 0
    for root, _, files in os.walk(os.path.join(index_dir,
                                               "staged_corpus")):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            col = md.schema.names.index("content")
            total += sum(md.row_group(g).column(col).total_uncompressed_size
                         for g in range(md.num_row_groups))
    return total


class _NotPlain(Exception):
    """The corpus's parquet files cannot stand in for its Spark read."""


def _seq(jseq) -> list:
    """A Scala ``Seq`` behind py4j as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _kind(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _plain_parquet_uris(corpus: DataFrame) -> list[str] | None:
    """The input file URIs when ``corpus`` is a plain scan of parquet
    files: a ``LogicalRelation`` over a parquet ``HadoopFsRelation``
    without partition columns, under nothing but ``SubqueryAlias`` and
    ``Project``s of bare column references, with the five corpus
    columns reaching the top unrenamed. None for any other plan (no
    Spark job either way: the analyzed plan and the relation's file
    listing are already on the driver)."""
    top = corpus._jdf.queryExecution().analyzed()
    plan = top
    while True:
        kind = _kind(plan)
        if kind == "SubqueryAlias" or (
                kind == "Project"
                and all(_kind(e) == "AttributeReference"
                        for e in _seq(plan.projectList()))):
            plan = plan.child()
        else:
            break
    if kind != "LogicalRelation":
        return None
    rel = plan.relation()
    if (_kind(rel) != "HadoopFsRelation"
            or _kind(rel.fileFormat()) != "ParquetFileFormat"
            or not rel.partitionSchema().isEmpty()):
        return None

    def ids(p):
        return {a.name(): a.exprId().id() for a in _seq(p.output())
                if a.name() in CORPUS_COLS}

    want = ids(plan)
    if len(want) != len(CORPUS_COLS) or ids(top) != want:
        return None
    return list(corpus.inputFiles())


def _parquet_rows(uris: list[str], n_splits: int, max_docs: int,
                  max_bytes: int) -> pa.Table | None:
    """The corpus read from its parquet files with pyarrow, or None over
    a cap: the row gate sums the footers' ``num_rows`` (an over-gate
    corpus reads no content), the byte gate Σ content bytes while row
    groups are read (stopping at the first row group over it). Raises
    :class:`_NotPlain` for a filesystem pyarrow cannot open or a file
    without the five corpus columns as strings."""
    files, n_rows = [], 0
    for uri in uris:
        try:
            fs, path = pafs.FileSystem.from_uri(uri)
        except (pa.ArrowInvalid, OSError) as e:
            raise _NotPlain(uri) from e
        pf = pq.ParquetFile(path, filesystem=fs)
        n_rows += pf.metadata.num_rows
        if n_rows > max_docs:
            return None
        schema = pf.schema_arrow
        if not all(schema.get_field_index(c) >= 0 and schema.field(c).type
                   in (pa.string(), pa.large_string())
                   for c in CORPUS_COLS):
            raise _NotPlain(uri)
        files.append(pf)
    want = pa.schema([(c, pa.string()) for c in CORPUS_COLS])
    parts, n_bytes = [want.empty_table()], 0
    for pf in files:
        for g in range(pf.metadata.num_row_groups):
            t = (pf.read_row_group(g, columns=CORPUS_COLS)
                 .select(CORPUS_COLS).cast(want))
            n_bytes += pc.sum(pc.binary_length(t.column("content"))
                              ).as_py() or 0
            if n_bytes > max_bytes:
                return None
            parts.append(t)
    t = pa.concat_tables(parts)

    key = np.uint64(42)  # F.xxhash64(repo, path, commit): chained seeds
    for c in ("repo", "path", "commit"):
        key = xxhash64_many(t.column(c), key)
    sha = [None if b is None else hashlib.sha256(b).hexdigest()
           for b in pc.cast(t.column("content"), pa.binary()).to_pylist()]
    return pa.table({
        "split_id": pa.array(np.mod(key.view(np.int64), n_splits),
                             pa.int32()),
        **{c: t.column(c) for c in _META_COLS},
        "content_sha256": pa.array(sha, pa.string()),
        "content": t.column("content"),
    })


def _spark_rows(spark: SparkSession, corpus: DataFrame, n_splits: int,
                max_docs: int, max_bytes: int) -> pa.Table | None:
    """The corpus collected by Spark, or None over a cap: two jobs over
    ``corpus.limit(max_docs + 1)``, a probe that returns only the row
    count and Σ content bytes, then, when both fit, the collect with
    ``split_id`` and ``content_sha256`` computed in its select."""
    head = corpus.limit(max_docs + 1)
    # AQE off: it would run each shuffle of the corpus's own plan as a
    # job of its own; without it each collect is one job whatever the
    # source.
    with aqe_disabled(spark):
        # the probe leaves content in the JVM: only a corpus under both
        # caps is pulled to the driver (max_docs rows of large files
        # would overflow one task result or the driver)
        n, n_bytes = head.agg(F.count(F.lit(1)),
                              F.sum(F.octet_length("content"))).collect()[0]
        if n > max_docs or (n_bytes or 0) > max_bytes:
            return None
        rows = (head.select(B._doc_key_split(n_splits).alias("split_id"),
                            *_META_COLS,
                            F.sha2(F.col("content"), 256)
                            .alias("content_sha256"),
                            "content")
                .toArrow())
    if rows.num_rows > max_docs:  # the source changed since the probe
        return None
    return rows


def _corpus_rows(spark: SparkSession, corpus: DataFrame, n_splits: int,
                 max_docs: int, max_bytes: int) -> pa.Table | None:
    """The corpus as staging rows (``split_id``, repo, path, commit,
    lang, ``content_sha256``, content), or None when it is over
    ``max_docs`` rows or ``max_bytes`` of content. A plain scan of
    parquet files is read with pyarrow and runs no Spark job; any other
    corpus is collected by Spark."""
    uris = _plain_parquet_uris(corpus)
    if uris is not None:
        try:
            return _parquet_rows(uris, n_splits, max_docs, max_bytes)
        except _NotPlain:
            pass
    return _spark_rows(spark, corpus, n_splits, max_docs, max_bytes)


def stage(spark: SparkSession, corpus: DataFrame, index_dir: str,
          n_splits: int, n_buckets: int, tokenizer: str, positions: bool,
          store_content: bool, max_docs: int,
          max_bytes: int) -> dict | None:
    """Phase A in-process. Returns the frozen staging info, or None when
    the corpus is over ``max_docs`` rows or ``max_bytes`` of content
    (the caller then stages with Spark). An existing staging is resumed
    (frozen settings checked) when its ``n_docs`` and staged content
    bytes fit. Otherwise the rows come from :func:`_corpus_rows` (no
    Spark job for a plain parquet scan, else two) and are staged with
    pyarrow — the same ``staged_corpus/split_id=N`` layout, split-local
    ids, and ``staging.json`` as :func:`build.stage_corpus`."""
    B.check_not_purged(index_dir, "a staging resume")
    if os.path.exists(B._staging_path(index_dir)):
        info = B._read_json(B._staging_path(index_dir))
        B._check_frozen(info, index_dir, n_splits, n_buckets, tokenizer,
                        positions, store_content)
        fits = (info["n_docs"] <= max_docs
                and _staged_content_bytes(index_dir) <= max_bytes)
        return info if fits else None
    if os.path.exists(B._staging_plan_path(index_dir)):
        return None  # a sharded staging: stage_corpus reports it
    rows = _corpus_rows(spark, corpus, n_splits, max_docs, max_bytes)
    if rows is None:
        return None
    keep = rows.take(pa.array(_dedupe_order(rows), pa.int64()))
    split_col = keep.column("split_id").to_numpy()
    sc_dir = os.path.join(index_dir, "staged_corpus")
    if os.path.exists(sc_dir):  # a crashed stage never froze staging.json
        shutil.rmtree(sc_dir)
    os.makedirs(sc_dir)
    counts: dict[int, int] = {}
    for s in range(n_splits):
        part = keep.filter(pa.array(split_col == s))
        if part.num_rows == 0:
            continue
        counts[s] = part.num_rows
        _write(pa.table({
            "doc_id": pa.array(np.arange(part.num_rows), pa.int64()),
            **{c: part.column(c) for c in _META_COLS},
            "content_sha256": part.column("content_sha256"),
            "content": part.column("content"),
        }), os.path.join(sc_dir, f"split_id={s}"))
    info = B._staging_info(n_splits, n_buckets, tokenizer, positions,
                           store_content, counts)
    B._write_json_atomic(B._staging_path(index_dir), info)
    return info


def _read_staged(index_dir: str, info: dict, split_id: int,
                 columns: list[str]) -> pa.Table:
    """One split of ``staged_corpus/`` (either path's files), doc_id
    ascending and GLOBAL (the frozen offset added to split-local ids)."""
    t = pq.read_table(
        os.path.join(index_dir, "staged_corpus", f"split_id={split_id}"),
        columns=["doc_id"] + [c for c in columns if c != "doc_id"])
    t = t.sort_by("doc_id")
    if info.get("staged_local_ids"):
        off = int(info["split_offsets"][str(split_id)])
        t = t.set_column(0, "doc_id", pc.add(t.column("doc_id"), off))
    return t


def build_segment(index_dir: str, split_id: int, info: dict,
                  salt_threshold: int = 1 << 20, n_salts: int = 8,
                  source_desc: str = "") -> dict:
    """Phase B for one split in-process: tokenize + tf with the fused
    kernel, salt in-split hot terms, encode the (term, salt, doc_id)-
    sorted rows with the distributed encoder, then write the flat
    segment (tmp → rename), ``doc_dl/`` and the split manifest."""
    count = info["split_counts"].get(str(split_id), 0)
    if count == 0:
        return B._write_empty_split_manifest(index_dir, split_id,
                                             source_desc)
    offset = int(info["split_offsets"][str(split_id)])
    positions = bool(info.get("positions", False))
    staged = _read_staged(index_dir, info, split_id,
                          ["content", "content_sha256"])
    tf = term_stats_arrow(staged.column("doc_id").to_numpy(),
                          staged.column("content"), info["tokenizer"],
                          positions)
    if tf is None:
        seg = B.BATCH_SEGMENT_ARROW.empty_table()
        ddl_ids = ddl_dl = np.zeros(0, np.int64)
        n_terms = 0
    else:
        ids, codes = tf.doc_id, tf.code
        n_terms = len(tf.vocab)
        salt = np.zeros(ids.size, np.int64)
        if count > salt_threshold:  # else no in-split df can exceed it
            df_seg = np.bincount(codes)
            salted = np.floor((ids - offset) * n_salts
                              / max(count, 1)).astype(np.int64)
            salt = np.where(df_seg[codes] > salt_threshold, salted, 0)
        # rows are doc-major and a salt rises with the doc id, so a
        # stable sort on the term code is the (term, salt, doc_id) order
        order = np.argsort(codes, kind="stable")
        codes, salt = codes[order], salt[order]
        ids, tfs, dls = ids[order], tf.tf[order], tf.dl[order]
        flat_pos = None
        if positions:
            flat_pos = tf.positions[ranges((np.cumsum(tf.tf)
                                            - tf.tf)[order], tfs)]
        starts = np.flatnonzero(np.concatenate(
            ([True], (codes[1:] != codes[:-1]) | (salt[1:] != salt[:-1]))))
        ends = np.append(starts[1:], ids.size)
        seg = pa.Table.from_batches([B.segment_batch(
            tf.vocab.take(pa.array(codes[starts])), salt[starts], ids, tfs,
            dls, starts, ends, flat_pos)])
        first = np.flatnonzero(np.diff(tf.doc_id, prepend=-1) != 0)
        ddl_ids, ddl_dl = tf.doc_id[first], tf.dl[first]

    seg_dir = os.path.join(index_dir, "segments", f"split_{split_id:04d}")
    tmp_dir = os.path.join(index_dir, "segments",
                           f"_tmp_split_{split_id:04d}")
    dl_dir = os.path.join(index_dir, "doc_dl", f"split_{split_id:04d}")
    for d in (tmp_dir, dl_dir):
        if os.path.exists(d):
            shutil.rmtree(d)
    _write(seg, tmp_dir)
    if os.path.exists(seg_dir):
        shutil.rmtree(seg_dir)
    os.replace(tmp_dir, seg_dir)
    _write(pa.table({"doc_id": pa.array(ddl_ids, pa.int64()),
                     "dl": pa.array(ddl_dl, pa.int64())}), dl_dir)

    metrics = {
        "n_docs": int(count),
        "n_docs_tokenized": int(ddl_ids.size),
        "n_postings": int(pc.sum(seg.column("df_run")).as_py() or 0),
        "n_terms": n_terms,
        "cf": int(pc.sum(seg.column("cf_run")).as_py() or 0),
        "sum_dl": int(ddl_dl.sum()),
        "compressed_bytes": int(
            pc.sum(seg.column("payload_bytes")).as_py() or 0),
        "sha_crc_sum": B._sha_crc_sum(
            staged.column("content_sha256").to_pylist()),
        "input": source_desc,
    }
    M.write_split_manifest(index_dir, split_id, metrics)
    return metrics


def _read_segments(index_dir: str, n_splits: int) -> pa.Table | None:
    """Every split's runs (either path's files, flat or bucket layout)
    with a ``split_id`` column, cast to one schema."""
    want = pa.schema([B.BATCH_SEGMENT_ARROW.field(c) for c in _MERGE_COLS])
    parts = []
    for s in range(n_splits):
        d = os.path.join(index_dir, "segments", f"split_{s:04d}")
        if not os.path.isdir(d):
            continue
        t = pq.read_table(d, columns=_MERGE_COLS)
        if t.num_rows:
            t = t.cast(want)
            parts.append(t.append_column(
                "split_id", pa.array(np.full(t.num_rows, s, np.int32))))
    return pa.concat_tables(parts) if parts else None


def _merge_runs(segs: pa.Table, n_buckets: int) -> tuple[pa.Table,
                                                          np.ndarray]:
    """One postings row per (term, split): runs of a (term, split) are
    doc-disjoint, so the merge is Σ df/cf, min/max doc id and the block
    lists concatenated in first_doc_id order. Rows come out sorted by
    (term_bucket, term, split_id); returns them with their buckets."""
    terms = pc.dictionary_encode(segs.column("term").combine_chunks())
    code = terms.indices.to_numpy()
    bucket = np.mod(xxhash64_many(terms.dictionary).view(np.int64),
                    n_buckets).astype(np.int32)[code]
    order = pc.sort_indices(
        segs.append_column("term_bucket", pa.array(bucket)),
        sort_keys=[("term_bucket", "ascending"), ("term", "ascending"),
                   ("split_id", "ascending"),
                   ("first_doc_id", "ascending")]).to_numpy()
    segs, code, bucket = segs.take(order), code[order], bucket[order]
    split = segs.column("split_id").to_numpy()
    starts = np.flatnonzero(np.concatenate(
        ([True], (code[1:] != code[:-1]) | (split[1:] != split[:-1]))))

    def reduce(col, fn=np.add):
        return fn.reduceat(segs.column(col).to_numpy(), starts)

    blocks = segs.column("blocks").combine_chunks()
    n_blocks = np.add.reduceat(
        pc.list_value_length(blocks).to_numpy(), starts)
    merged_blocks = pa.ListArray.from_arrays(
        pa.array(np.concatenate(([0], np.cumsum(n_blocks))), pa.int32()),
        blocks.flatten(), type=POSTINGS_ARROW.field("blocks").type)
    postings = pa.table({
        "term": segs.column("term").take(pa.array(starts)),
        "split_id": pa.array(split[starts], pa.int32()),
        "df": pa.array(reduce("df_run"), pa.int64()),
        "cf": pa.array(reduce("cf_run"), pa.int64()),
        "first_doc_id": pa.array(
            segs.column("first_doc_id").to_numpy()[starts], pa.int64()),
        "last_doc_id": pa.array(reduce("last_doc_id", np.maximum),
                                pa.int64()),
        "blocks": merged_blocks,
    }, schema=POSTINGS_ARROW)
    return postings, bucket[starts]


def _dictionary(postings: pa.Table, n_docs: int) -> pa.Table:
    """df/cf/idf per term of one bucket's (term-sorted) postings —
    ``build.write_dictionary``'s definition, idf via ``bm25.idf_py``."""
    term = postings.column("term").to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(np.concatenate(([True],
                                            term[1:] != term[:-1])))
    df = np.add.reduceat(postings.column("df").to_numpy(), starts)
    cf = np.add.reduceat(postings.column("cf").to_numpy(), starts)
    # one idf_py call per distinct df, gathered back: the same libm
    # log1p the per-term call made, bit for bit
    dfs, at = np.unique(df, return_inverse=True)
    idf = np.array([idf_py(int(d), n_docs) for d in dfs], np.float64)[at]
    return pa.table({
        "term": pa.array(term[starts], pa.string()),
        "df": pa.array(df, pa.int64()),
        "cf": pa.array(cf, pa.int64()),
        "idf": pa.array(idf, pa.float64()),
    }, schema=DICT_ARROW)


def _finalize_docs(index_dir: str, info: dict, split_id: int) -> None:
    """``docs/split_id=N``: staged metadata ⟕ dl (no-token docs → 0),
    plus the raw content for ``store_content`` indexes."""
    store = bool(info.get("store_content", False))
    staged = _read_staged(
        index_dir, info, split_id,
        _META_COLS + ["content_sha256"] + (["content"] if store else []))
    dl = np.zeros(staged.num_rows, np.int64)
    dl_dir = os.path.join(index_dir, "doc_dl", f"split_{split_id:04d}")
    if os.path.isdir(dl_dir):
        ddl = pq.read_table(dl_dir, columns=["doc_id", "dl"])
        ids = staged.column("doc_id").to_numpy()
        at = np.searchsorted(ids, ddl.column("doc_id").to_numpy())
        dl[at] = ddl.column("dl").to_numpy()
    _write(pa.table({
        "doc_id": staged.column("doc_id"),
        **{c: staged.column(c) for c in _META_COLS},
        "dl": pa.array(dl, pa.int64()),
        "content_sha256": staged.column("content_sha256"),
        **({"content": staged.column("content")} if store else {}),
    }), os.path.join(index_dir, "docs", f"split_id={split_id}"))


def finalize_index(index_dir: str, info: dict,
                   salt_threshold: int = 1 << 20,
                   n_salts: int = 8) -> dict:
    """Phase C in-process: merge every split's runs, write
    ``postings/`` + ``dict/`` per term bucket (term-sorted) and
    ``docs/`` per split with their task markers, then commit through
    :func:`build.finalize_commit` exactly like the distributed
    finalize. Idempotent."""
    B.check_not_purged(index_dir, "finalize")
    B.finalize_reset(index_dir)
    n_splits, n_buckets = int(info["n_splits"]), int(info["n_buckets"])
    n_docs = sum(M.read_split_manifest(index_dir, s)["n_docs"]
                 for s in range(n_splits))
    segs = _read_segments(index_dir, n_splits)
    bucket_metrics: dict[int, dict] = {}
    if segs is not None:
        postings, buckets = _merge_runs(segs, n_buckets)
        bounds = np.searchsorted(buckets, np.arange(n_buckets + 1))
        for k in range(n_buckets):
            lo, hi = int(bounds[k]), int(bounds[k + 1])
            if lo == hi:
                continue
            part = postings.slice(lo, hi - lo)
            dictionary = _dictionary(part, n_docs)
            _write(part, os.path.join(index_dir, "postings",
                                      f"term_bucket={k}"))
            _write(dictionary, os.path.join(index_dir, "dict",
                                            f"term_bucket={k}"))
            bucket_metrics[k] = {
                "n_rows": part.num_rows,
                "n_postings": int(pc.sum(dictionary.column("df")).as_py()),
                "n_terms": dictionary.num_rows}
    for k in range(n_buckets):
        M.write_task_marker(
            index_dir, f"fin_bucket_{k:04d}",
            bucket_metrics.get(k, {"n_rows": 0, "n_postings": 0,
                                   "n_terms": 0}))
    for s in range(n_splits):
        count = int(info["split_counts"].get(str(s), 0))
        if count:
            _finalize_docs(index_dir, info, s)
        M.write_task_marker(index_dir, f"fin_docs_{s:04d}",
                            {"n_docs": count})
    return B.finalize_commit(index_dir, info,
                             salt_threshold=salt_threshold,
                             n_salts=n_salts)
