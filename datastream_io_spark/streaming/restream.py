"""ST1 — restream source (SURVEY.md §2.10).

dsio heritage [pub:dsio]: datastream.io's core trick is "restreaming" a
static table as if it were a live feed (its CLI replayed a CSV into
Elasticsearch at a chosen speed). The Spark-native equivalent: write
the table as N small parquet files into a directory and read it back
with ``readStream`` + ``maxFilesPerTrigger`` — each micro-batch sees
one file's rows, giving a deterministic, rate-controllable replay that
works identically under ``processAllAvailable()`` in tests and under a
real trigger in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stage_restream(df: DataFrame, out_dir: str, n_chunks: int,
                   order_col: str | None = None) -> StructType:
    """Write ``df`` as ``n_chunks`` files so a file-source stream replays
    it in ``n_chunks`` micro-batches. Returns the schema (file streams
    must declare one). ``order_col`` makes the chunking deterministic
    and roughly time-ordered (e.g. 'ts' for events).

    Spark's file stream source orders new files by modification time,
    which a single parquet write leaves effectively identical across
    part files — replay order would be arbitrary (it bit us: stateful
    sequence tests diverged). So the part files are renamed to
    ``chunk_NNNN`` in partition order and given strictly increasing
    mtimes, making the replay order deterministic end to end."""
    import glob
    import os
    import shutil
    import time

    if order_col is not None:
        df = df.repartitionByRange(n_chunks, F.col(order_col))
    else:
        df = df.repartition(n_chunks)
    tmp = out_dir.rstrip("/") + "__staging"
    df.write.mode("overwrite").parquet(tmp)
    os.makedirs(out_dir, exist_ok=True)
    for old in glob.glob(os.path.join(out_dir, "chunk_*.parquet")):
        os.remove(old)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    base = time.time() - len(parts) - 10
    for i, p in enumerate(parts):
        dst = os.path.join(out_dir, f"chunk_{i:04d}.parquet")
        shutil.move(p, dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(tmp)
    return df.schema


def read_restream(spark: SparkSession, dir_path: str, schema: StructType,
                  max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )
