"""Dump .explain('formatted') for every query/operator surface touched in
round 6 (OPTIMIZATION_r06.md evidence). Usage:
    python scripts/dump_plans_r06.py before|after
Writes plans/r06/<name>_<tag>.txt.
"""
import io
import os
import sys
import tempfile
import contextlib
import shutil

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r06")
os.makedirs(OUT, exist_ok=True)


def dump(name, df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
        f.write(buf.getvalue())
    print("wrote", name)


def main():
    from pyspark.sql import functions as F, Window
    from datastream_io_spark.session import get_spark
    from datastream_io_spark.operators import build as B
    from datastream_io_spark.operators import postings as P
    from datastream_io_spark.sources.scan import documents_as_corpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans_r06", cores=8, shuffle_partitions=16)
    tmp = tempfile.mkdtemp(prefix="plans_r06_")
    idx = os.path.join(tmp, "docs")
    B.build_index(spark, documents_as_corpus(spark, sf_dir), idx,
                  n_splits=4, n_buckets=16, tokenizer="simple",
                  salt_threshold=1000, n_salts=8, positions=True)

    # --- stage write plan (reconstructed the way stage_corpus builds it)
    corpus = documents_as_corpus(spark, sf_dir)
    staged_df = _stage_write_df(spark, corpus, B, F, Window)
    dump("build_stage_write", staged_df)

    # --- segment encode plan
    info = B.read_stats(idx)
    split_rows = spark.read.parquet(
        os.path.join(idx, "staged_corpus")).where(F.col("split_id") == 0)
    count = int(info["split_counts"]["0"])
    fan = min(max(4, -(-count // 256)), spark.sparkContext.defaultParallelism)
    tf = P.term_stats_fused(
        split_rows.select("doc_id", "content").repartition(fan, "doc_id"),
        "simple", True)
    salted = tf.withColumn("salt", F.lit(0))
    runs = (salted.select("term", "salt", "doc_id", "tf", "dl", "positions")
            .repartition(fan, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id")
            .mapInArrow(B._encode_partitions, B.BATCH_SEGMENT_SCHEMA))
    dump("build_segment_encode", runs)
    # dl side table plan
    dump("build_segment_dl", _dl_df(tf, F))

    # --- finalize merge + dict plans
    seg_bucket_dirs, seg_flat_dirs = B._seg_bucket_paths(idx, list(range(16)))
    segs = spark.read.schema(B.SEGMENT_SCHEMA).parquet(
        *(seg_bucket_dirs + seg_flat_dirs))
    n_buckets = int(info["n_buckets"])
    merged = (
        segs.withColumn("split_id", B._split_from_offsets(info))
        .withColumn("term_bucket",
                    F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
        .where(F.col("term_bucket").isin(list(range(16))))
        .repartition(16, "term_bucket")
        .groupBy("term", "term_bucket", "split_id")
        .agg(F.sum("df_run").alias("df"), F.sum("cf_run").alias("cf"),
             F.min("first_doc_id").alias("first_doc_id"),
             F.max("last_doc_id").alias("last_doc_id"),
             F.flatten(F.transform(
                 F.sort_array(F.collect_list(
                     F.struct("first_doc_id", "blocks"))),
                 lambda x: x["blocks"])).alias("blocks"))
    )
    dump("build_finalize_merge", merged)
    dump("build_finalize_dict", _dict_df(spark, idx, B, F, info, merged))

    # --- query plans (warm Searcher)
    from datastream_io_spark.operators.indexed_search import (
        Searcher, more_like_this, facet_counts, facet_counts_grouped,
        search_many)
    s = Searcher(spark, idx)
    dump("q_and", s.search("window agg", 10, "and"))
    dump("q_or", s.search("window agg", 10, "or"))
    dump("q_phrase", s.search("window agg", 10, "phrase"))
    dump("q_near", s.search_near("window agg", 10, slop=1, ordered=True))
    dump("q_wildcard", s.search_wildcard("s*", 10))
    mlt_src = s.search("window agg", 1, "and").collect()[0].doc_id
    dump("q_mlt", more_like_this(spark, idx, mlt_src, 10, 20,
                                 corpus=documents_as_corpus(spark, sf_dir)))
    dump("q_facet", facet_counts(spark, idx, "window agg", "lang", "and"))
    dump("q_facet_grouped", facet_counts_grouped(spark, idx, "window agg",
                                                 "lang", "and"))
    dump("q_batch_phrase", search_many(
        spark, idx, {"p0": "window agg", "p1": "spark stream batch",
                     "p2": "scan merge"}, 10, "phrase"))
    dump("q_batch_and_warm", s.search_many(
        {"q0": "scan", "q1": "window agg"}, 10, "and"))
    shutil.rmtree(tmp, ignore_errors=True)


def _stage_write_df(spark, corpus, B, F, Window):
    """The staged-write dataframe stage_corpus executes (r6: the
    production helper itself)."""
    return B._staged_local_df(corpus, 4)


def _dl_df(tf, F):
    from datastream_io_spark.operators import build as B
    return tf.select("doc_id", "dl").mapInPandas(
        B._dedup_doc_dl, "doc_id long, dl long")


def _dict_df(spark, idx, B, F, info, merged):
    """Mirror of write_dictionary's input as finalize runs it (r6:
    aggregation over the persisted merged frame, no read-back)."""
    n_docs = int(info["n_docs"])
    return (merged.groupBy("term", "term_bucket")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .select("term", "term_bucket", "df", "cf",
                    F.log1p((F.lit(float(n_docs)) - F.col("df") + 0.5)
                            / (F.col("df") + 0.5)).alias("idf")))


if __name__ == "__main__":
    main()
