"""Driver-computed results are ArrowFrames: a ``pa.Table`` behind the
DataFrame API. Their collect / count / toPandas / toArrow must equal
what Spark returns for the same table as a local relation, for every
schema the engine builds on the driver (nulls and empty tables
included); every other DataFrame method must keep working through the
relation, which is built once per frame even under concurrent use."""

import contextlib
import io
import threading

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from datastream_io_spark.operators import indexed_search as IX
from datastream_io_spark.operators.partitioned import _result_schema

_FACET = T.StructType([T.StructField("lang", T.StringType()),
                       T.StructField("n_docs", T.LongType(), False)])
_CUT = _result_schema(["lang"], ["repo", "path", "commit"])

# (schema, rows) per locally built schema: scores, query_id-led
# batches, facet counts (non-nullable n_docs), _global_cut with doc
# cols, match_positions' int column — each with nulls, and empty
_TABLES = {
    "scores": (IX._SCORES_SCHEMA,
               [(3, 1.5), (1, 1.5), (None, 0.25), (7, None)]),
    "many": (IX._MANY_SCHEMA,
             [("a", 2, 3.0), ("a", 5, 1.0), (None, 1, 0.5)]),
    "facet": (_FACET, [("go", 3), (None, 1)]),
    "cut_doc_cols": (_CUT, [("de", 4, "r", "p", "c0", 2.5),
                            ("en", 9, None, "q", None, 2.5)]),
    "positions": (IX._POSITIONS_SCHEMA,
                  [(1, "agg", 0), (1, None, None)]),
}


def _cases():
    for name, (schema, rows) in _TABLES.items():
        yield name, schema, rows
        yield f"{name}_empty", schema, []


@pytest.mark.parametrize("name,schema,rows", list(_cases()),
                         ids=[c[0] for c in _cases()])
def test_frame_matches_spark_local_relation(spark, name, schema, rows):
    got = IX._empty_frame(spark, schema, rows)
    _assert_parity(spark, got)


def test_engine_frames_match_spark_local_relation(spark, pos_index):
    """The frames the engine really returns: a gated top-k, a gated
    batch, a facet empty and an empty top-k with doc cols."""
    s = IX.Searcher(spark, pos_index)
    frames = [s.search("window agg", 10, "or"),
              s.search_many({"a": "window agg", "b": "scan"}, 10, "or"),
              s._empty_facets("lang"),
              s.search("zzqqx", 10, "and", with_doc_cols=True)]
    assert frames[0].count() and frames[1].count()
    for df in frames:
        _assert_parity(spark, df)


def _assert_parity(spark, got):
    assert isinstance(got, IX.ArrowFrame)
    want = spark.createDataFrame(got.toArrow(), got.schema)
    assert got.schema == want.schema and got.columns == want.columns
    g, w = got.collect(), want.collect()
    assert g == w
    assert [r.__fields__ for r in g] == [r.__fields__ for r in w]
    assert ([[type(v) for v in r] for r in g]
            == [[type(v) for v in r] for r in w])
    assert got.count() == want.count() == len(w)
    assert got.isEmpty() == want.isEmpty()
    gp, wp = got.toPandas(), want.toPandas()
    assert dict(gp.dtypes) == dict(wp.dtypes)
    assert gp.equals(wp)
    assert got.toArrow().equals(want.toArrow())
    assert got.toArrow().schema == want.toArrow().schema


def test_spark_methods_work_on_frame(spark, pos_index):
    """Anything beyond the Arrow answers goes through the local
    relation: join, where, union, explain, cache, broadcast joins and
    the with_doc_cols docs join."""
    from pyspark.sql import functions as F

    s = IX.Searcher(spark, pos_index)
    df = s.search("window agg", 10, "or")
    assert isinstance(df, IX.ArrowFrame) and isinstance(df, DataFrame)
    rows = df.collect()
    ids = [r.doc_id for r in rows]
    assert len(rows) == 10

    docs = spark.read.parquet(f"{pos_index}/docs")
    joined = docs.join(F.broadcast(df), "doc_id").select("doc_id", "path")
    assert sorted(r.doc_id for r in joined.collect()) == sorted(ids)
    assert [r.doc_id for r in df.where(F.col("doc_id") == ids[0])
            .collect()] == [ids[0]]
    assert df.union(df).count() == 20
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    assert "LocalTableScan" in buf.getvalue()
    assert df.cache().collect() == rows and df.is_cached
    assert df.orderBy("doc_id").first().doc_id == min(ids)

    cols = s.search("window agg", 10, "or", with_doc_cols=True).collect()
    assert [(r.doc_id, r.score) for r in cols] == [tuple(r) for r in rows]
    paths = {r.doc_id: r.path for r in joined.collect()}
    assert {r.doc_id: r.path for r in cols} == paths


def test_relation_built_once_across_threads(spark, pos_index,
                                            monkeypatch):
    """8 threads collecting and joining one frame build its JVM
    relation exactly once, and see the same rows; collect alone never
    builds it."""
    s = IX.Searcher(spark, pos_index)
    df = s.search("window agg", 10, "or")
    builds = []
    real = spark.createDataFrame

    def counted(*args, **kwargs):
        builds.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", counted)
    want = df.collect()
    assert builds == []
    docs = spark.read.parquet(f"{pos_index}/docs").select("doc_id",
                                                          "path")
    barrier = threading.Barrier(8)
    out, errors = [None] * 8, []

    def work(i):
        try:
            barrier.wait()
            rows = df.collect()
            n = df.join(docs, "doc_id").count()
            out[i] = (rows, n)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert builds == [1]
    assert all(o == (want, len(want)) for o in out)

