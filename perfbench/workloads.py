"""The two workloads and the per-layer probes.

Both drive the engine from one closed-loop client in this process: the
next call starts only after the previous one returned. Every call into
the engine goes through a public function of ``datastream_io_spark``;
nothing here reaches into engine internals.

Each op is timed twice: wall time, and the CPU time of the whole process
tree (driver, JVM, Spark Python workers; see ``cpu.py``). The JVM keeps
compiling for several builds after the first, so an op's cost falls op
by op through a run, and how the compile work spreads over the ops
varies from run to run while its total does not. A run therefore
measures a fixed number of ops from a fresh session, derived from
``--seconds`` and a nominal op time (never "as many as fit"), and the
CPU statistic is over all of them: every run covers the same stretch of
that warm-up, on a fast host or a slow one, on this commit or the next.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd

from datastream_io_spark.golden import brute_force_topk
from datastream_io_spark.operators import build as B
from datastream_io_spark.operators import codec
from datastream_io_spark.operators.boolean_search import search_boolean
from datastream_io_spark.operators.dictindex import build_term_sidecars
from datastream_io_spark.operators.indexed_search import Searcher
from datastream_io_spark.operators.postings import term_stats_fused
from datastream_io_spark.functions.tokenize import tokenize_series
from datastream_io_spark.session import get_spark
from datastream_io_spark.streaming import incremental as INC

from perfbench import inputs
from perfbench.cpu import KINDS, tree_cpu, tree_cpu_s
from perfbench.tracing import Tracer

K = 10

# build_code: one op = a full build_index of BUILD_N files. Two splits
# run as concurrent split jobs (build_index's thread pool) and finalize
# merges two segments. salt_threshold sits below the df of the hot
# template terms (~BUILD_N / 5), so the hot postings are salted. The
# first build of a session compiles the plan shapes (JIT, codegen,
# Python worker imports), as every fresh build job's does; it is the
# first measured op. One build per NOMINAL_BUILD_S of --seconds.
BUILD_N = 400
BUILD_KW = dict(n_splits=2, n_buckets=4, tokenizer="code",
                salt_threshold=20, n_salts=4)
NOMINAL_BUILD_S = 7.0      # mean of the first three builds, 4-core host
MIN_BUILDS = 2

# serve_code: a positional index over SERVE_N files, with sidecars,
# built in set-up, which ends with WARM_CYCLES cycles of single queries.
# Then one cycle per NOMINAL_CYCLE_S of --seconds, then one search_many
# batch per mode.
SERVE_N = 600
WARM_CYCLES = 2
NOMINAL_CYCLE_S = 6.5      # a cycle of single queries, 4-core host
MIN_CYCLES = 2
# traced runs: two streaming micro-batches (finalize, then merge +
# compact) feed the incremental layer's metrics
STREAM_BATCH_N = 150
STREAM_KW = dict(n_buckets=8, tokenizer="code", salt_threshold=100,
                 n_salts=4)
GOLDEN_BUILD = 2           # brute-force-checked queries per workload
GOLDEN_SERVE = 3

FINAL_DIRS = ("postings", "dict", "docs")


class Run:
    """State of one benchmark run: session, tracer, counters."""

    def __init__(self, seed: int, seconds: float, cores: int, work: str,
                 conf: dict, tracer: Tracer):
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.work = work
        self.conf = conf
        self.tr = tracer
        self.spark = None
        self.src_bytes = 0  # content bytes of the workload's corpus
        self.attempted = 0
        self.failed = 0
        self.info: dict[str, tuple[float, str]] = {}
        self.build_bytes_ratio: list[float] = []
        self.build_phases: list[dict] = []  # merge.json phase_sec
        self.repeat_ratio: float | None = None
        # CPU seconds of the measured ops, by process kind
        self.op_cpu = dict.fromkeys(KINDS, 0.0)
        self.op_cpu_main: dict[str, float] = {}  # before traced extras

    def start_session(self) -> None:
        """Start the engine session; this launches the JVM."""
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench", cores=self.cores,
                                   extra_conf=self.conf)
        self.tr.spark = self.spark

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: WRONG {what}", file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def _ops(seconds: float, nominal_s: float, least: int) -> int:
    """How many ops a run measures: ``seconds`` at the nominal op time,
    at least ``least``."""
    return max(least, round(seconds / nominal_s))


def _measure(run: Run, fn):
    """Call ``fn``; returns its result, the wall seconds and the process
    tree's CPU seconds it took. The CPU, by process kind, also adds up
    in ``run.op_cpu``. /proc is read outside the wall clock."""
    c0 = tree_cpu()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    c1 = tree_cpu()
    for k in KINDS:
        run.op_cpu[k] += c1[k] - c0[k]
    return out, wall, sum(c1.values()) - sum(c0.values())


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _rows(df_rows) -> list[tuple[int, float]]:
    return [(int(r.doc_id), float(r.score)) for r in df_rows]


def _same(got: list[tuple[int, float]],
          want: list[tuple[int, float]]) -> bool:
    return ([g[0] for g in got] == [w[0] for w in want]
            and all(abs(g[1] - w[1]) <= 1e-9 for g, w in zip(got, want)))


def _text_by_doc_id(run: Run, index_dir: str,
                    pdf: pd.DataFrame) -> pd.DataFrame:
    """The fed rows in the index's doc-id space (golden scorer input)."""
    docs = (run.spark.read.parquet(os.path.join(index_dir, "docs"))
            .select("doc_id", "repo", "path", "commit").toPandas())
    joined = docs.merge(pdf, on=["repo", "path", "commit"])
    run.expect(len(joined) == len(pdf) == len(docs),
               f"docs table maps {len(joined)} of {len(pdf)} fed rows")
    return joined[["doc_id", "content"]].rename(columns={"content": "text"})


def _golden(run: Run, text: pd.DataFrame, cases, answer) -> None:
    for mode, q in cases:
        want = [(r["doc_id"], r["score"]) for r in
                brute_force_topk(text, q, K, mode, tokenizer="code")]
        run.expect(_same(answer(mode, q), want),
                   f"top-{K} of {mode} {q!r} vs brute force")


# -- build_code ------------------------------------------------------

def _build(run: Run, corpus, index_dir: str, op: str,
           positions: bool = False) -> None:
    """One build_index call. Traced runs also keep its phase wall times
    (build_index records them in manifest/merge.json) and its size."""
    with run.tr.span("build.op", op=op, jobs=True):
        B.build_index(run.spark, corpus, index_dir, positions=positions,
                      **BUILD_KW)
    if run.tr.enabled:
        merge = os.path.join(index_dir, "manifest", "merge.json")
        with open(merge) as f:
            run.build_phases.append(json.load(f)["phase_sec"])
        run.build_bytes_ratio.append(
            _dir_bytes(index_dir) / run.src_bytes)


def _write_corpus(run: Run, pdf: pd.DataFrame, name: str):
    """The input as a parquet table: builds re-scan their input per
    segment job, as they would a real table."""
    src = run.path(name)
    run.spark.createDataFrame(pdf).repartition(run.cores).write.parquet(src)
    return run.spark.read.parquet(src)


def _build_loop(run: Run, corpus,
                n: int) -> tuple[list[float], list[float], str]:
    """``n`` builds; their wall and CPU seconds and the last index."""
    times: list[float] = []
    cpus: list[float] = []
    last, failures = None, 0
    while len(times) < n:
        idx = run.path(f"build{len(times)}")
        run.attempted += 1
        try:
            _, wall, cpu = _measure(run, lambda: _build(
                run, corpus, idx, f"build{len(times)}"))
        except Exception as e:  # a failed op is counted, the loop goes on
            run.failed += 1
            failures += 1
            print(f"perfbench: build failed: {e!r}", file=sys.stderr)
            shutil.rmtree(idx, ignore_errors=True)
            if failures > 2:
                raise
            continue
        times.append(wall)
        cpus.append(cpu)
        if last:
            shutil.rmtree(last)
        last = idx
    return times, cpus, last


def _check_build(run: Run, idx: str, pdf: pd.DataFrame) -> None:
    n_docs = B.read_stats(idx)["n_docs"]
    run.expect(n_docs == len(pdf), f"stats n_docs {n_docs} != {len(pdf)}")
    searcher = Searcher(run.spark, idx)
    cases = inputs.golden_sample(run.seed, ("and", "or"), GOLDEN_BUILD)
    _golden(run, _text_by_doc_id(run, idx, pdf), cases,
            lambda m, q: _rows(searcher.search(q, K, m).collect()))


def _dir_bytes_final(idx: str) -> int:
    return sum(_dir_bytes(os.path.join(idx, d)) for d in FINAL_DIRS)


def build_code(run: Run) -> dict:
    """Set-up: launch the session, write the corpus. Then one build per
    NOMINAL_BUILD_S of --seconds, at least MIN_BUILDS, the first of them
    compiling."""
    pdf = inputs.corpus_rows(run.seed, BUILD_N)
    run.src_bytes = inputs.source_bytes(pdf)
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    run.start_session()
    corpus = _write_corpus(run, pdf, "corpus")
    setup_s = time.perf_counter() - t0
    setup_cpu = tree_cpu_s() - c0
    times, cpus, idx = _build_loop(
        run, corpus, _ops(run.seconds, NOMINAL_BUILD_S, MIN_BUILDS))
    run.op_cpu_main = dict(run.op_cpu)
    _check_build(run, idx, pdf)
    op_s = statistics.median(times[1:])
    op_cpu = statistics.fmean(cpus)
    ratio = _dir_bytes_final(idx) / run.src_bytes
    run.info.update({
        "setup_cpu_s": (setup_cpu, "s"),
        "build_first_s": (times[0], "s"),
        "build_warm_s_p50": (op_s, "s"),
        "build_warm_files_per_s": (BUILD_N / op_s, "1/s"),
        "builds_measured": (len(times), "count"),
    })
    shutil.rmtree(idx)
    if run.tr.enabled:
        _queries(run, _stream_cover(run), 1)
    return {"setup_s": (setup_s, "s"),
            "op_cpu_ms": (op_cpu * 1e3, "ms"),
            "index_bytes_per_source_byte": (ratio, "ratio")}


# -- serve_code ------------------------------------------------------

class Served:
    """An index being queried, with the rows it was built from."""

    def __init__(self, idx: str, pdf: pd.DataFrame):
        self.idx = idx
        self.pdf = pdf
        self.searcher = None

    def open(self, run: Run) -> None:
        """Open a Searcher and answer a first query."""
        with run.tr.span("search.open"):
            self.searcher = Searcher(run.spark, self.idx)
        _single(run, self.searcher, "and", inputs.QUERY_POOL["and"][0],
                "open")


def _single(run: Run, searcher: Searcher, mode: str, q: str, op: str):
    tr = run.tr
    if mode == "boolean":
        with tr.span("boolean.search", op=op, jobs=True):
            return _rows(search_boolean(run.spark, searcher.index_dir, q,
                                        K).collect())
    with tr.span(f"search.{mode}", op=op, jobs=True):
        with tr.span("search.plan"):
            if mode == "wildcard":
                df = searcher.search_wildcard(q, K)
            elif mode == "fuzzy":
                df = searcher.search_fuzzy(q, K)
            else:
                df = searcher.search(q, K, mode)
        with tr.span("search.exec"):
            return _rows(df.collect())


def _batch(run: Run, searcher: Searcher, mode: str, qs: list[str],
           op: str) -> dict[str, list[tuple[int, float]]]:
    with run.tr.span("search.batch", op=op, jobs=True):
        res = searcher.search_many({str(i): q for i, q in enumerate(qs)},
                                   K, mode).collect()
    out: dict[str, list] = {q: [] for q in qs}
    for r in res:
        out[qs[int(r.query_id)]].append((int(r.doc_id), float(r.score)))
    return {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in out.items()}


def _queries(run: Run, served: Served, cycles: int) -> dict:
    """``cycles`` whole mode cycles of single queries, then one
    ``search_many`` batch per mode over that mode's whole pool, so every
    run times the same mixes. The batched answer to a query is its
    reference: a seeded sample of them must match the brute-force
    scorer, and every single answer must equal them (checked after the
    clock stops)."""
    searcher = served.searcher
    stream = inputs.query_stream(run.seed, cycles)
    lat: list[float] = []
    cpu: list[float] = []
    answers = []
    for i, (mode, q) in enumerate(stream):
        rows, wall, c = _measure(run, lambda: _single(
            run, searcher, mode, q, f"q{i}"))
        lat.append(wall)
        cpu.append(c)
        answers.append((mode, q, rows))
    batch_s, batch_cpu, batch_answers = 0.0, 0.0, []
    for mode, qs in inputs.QUERY_POOL.items():
        got, wall, c = _measure(run, lambda: _batch(
            run, searcher, mode, qs, f"batch-{mode}"))
        batch_s += wall
        batch_cpu += c
        batch_answers += [(mode, q, rows) for q, rows in got.items()]
    run.repeat_ratio = 1 - len({(m, q) for m, q, _ in answers}) / len(answers)

    ref = {(mode, q): rows for mode, q, rows in batch_answers}
    _golden(run, _text_by_doc_id(run, served.idx, served.pdf),
            inputs.golden_sample(run.seed, ("and", "or", "phrase"),
                                 GOLDEN_SERVE),
            lambda m, q: ref[(m, q)])
    for mode, q, rows in answers:
        run.attempted += 1
        if not _same(rows, ref[(mode, q)]):
            run.failed += 1
            print(f"perfbench: WRONG {mode} {q!r} vs reference",
                  file=sys.stderr)
    return {"lat": lat, "cpu": cpu,
            "batch_qps": len(batch_answers) / batch_s,
            "batch_q_per_cpu_s": len(batch_answers) / batch_cpu}


def _tail(values: list[float]) -> tuple[int, float]:
    """Highest whole percentile (at most p99) with at least ten samples
    beyond it; the median when there are fewer than 21 samples."""
    p = min(99, int(100 * (1 - 10 / len(values))))
    if p <= 50:
        return 50, statistics.median(values)
    return p, float(np.percentile(values, p))


def serve_code(run: Run) -> dict:
    """Set-up: launch the session, write the corpus, build the index and
    its sidecars, open a Searcher, answer a first query and the warm-up
    cycles. Then the timed query phases."""
    pdf = inputs.corpus_rows(run.seed, SERVE_N)
    run.src_bytes = inputs.source_bytes(pdf)
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    run.start_session()
    corpus = _write_corpus(run, pdf, "serve_corpus")
    served = Served(run.path("serve_index"), pdf)
    t1 = time.perf_counter()
    _build(run, corpus, served.idx, "serve-build", positions=True)
    with run.tr.span("dictindex.build_term_sidecars"):
        build_term_sidecars(run.spark, served.idx)
    prep_s = time.perf_counter() - t1
    served.open(run)
    # warm-up, as a long-running server has had: WARM_CYCLES whole mode
    # cycles of single queries from a stream of their own, untimed
    for i, (mode, q) in enumerate(
            inputs.query_stream(~run.seed, WARM_CYCLES)):
        _single(run, served.searcher, mode, q, f"warm{i}")
    setup_s = time.perf_counter() - t0
    setup_cpu = tree_cpu_s() - c0
    n_docs = B.read_stats(served.idx)["n_docs"]
    run.expect(n_docs == len(pdf), f"stats n_docs {n_docs} != {len(pdf)}")

    out = _queries(run, served,
                   _ops(run.seconds, NOMINAL_CYCLE_S, MIN_CYCLES))
    run.op_cpu_main = dict(run.op_cpu)
    p50 = statistics.median(out["lat"])
    tail_p, tail = _tail(out["lat"])
    run.info.update({
        "setup_cpu_s": (setup_cpu, "s"),
        "index_prep_s": (prep_s, "s"),
        "query_p50_ms": (p50 * 1e3, "ms"),
        f"query_p{tail_p}_ms": (tail * 1e3, "ms"),
        "queries_measured": (len(out["lat"]), "count"),
        "batch_queries_per_s": (out["batch_qps"], "1/s"),
        "batch_queries_per_cpu_s": (out["batch_q_per_cpu_s"], "1/s"),
    })
    ratio = _dir_bytes_final(served.idx) / run.src_bytes
    shutil.rmtree(served.idx)
    if run.tr.enabled:
        shutil.rmtree(_stream_cover(run).idx)
    return {"setup_s": (setup_s, "s"),
            "op_cpu_ms": (statistics.fmean(out["cpu"]) * 1e3, "ms"),
            "index_bytes_per_source_byte": (ratio, "ratio")}


# -- traced runs: the streaming write path ---------------------------

def _stream_cover(run: Run) -> Served:
    """Grow a small streaming index by two micro-batches: ingest, then
    finalize (first) or merge, reopen a Searcher and query the batch's
    planted term; sidecars after the first batch (the merge refreshes
    them), compaction after the last. Returns the index, opened."""
    tr = run.tr
    idx = run.path("stream_index")
    fed, fresh, write = [], [], []
    for b in range(2):
        term = inputs.planted_term(run.seed, b)
        pdf, paths = inputs.plant(
            inputs.corpus_rows(run.seed, STREAM_BATCH_N,
                               offset=SERVE_N + b * STREAM_BATCH_N),
            term, run.seed, b)
        fed.append(pdf)
        batch_df = run.spark.createDataFrame(pdf)
        t0 = time.perf_counter()
        with tr.span("incremental.batch", op=f"batch{b}", jobs=True):
            with tr.span("incremental.ingest_batch"):
                INC.ingest_batch(run.spark, batch_df, b, idx,
                                 tokenizer="code", positions=True)
            if b == 0:
                with tr.span("incremental.finalize_stream_index"):
                    INC.finalize_stream_index(run.spark, idx, **STREAM_KW)
            else:
                with tr.span("incremental.merge_stream_batches"):
                    INC.merge_stream_batches(
                        run.spark, idx,
                        salt_threshold=STREAM_KW["salt_threshold"],
                        n_salts=STREAM_KW["n_salts"])
        write.append(time.perf_counter() - t0)
        with tr.span("search.open"):
            searcher = Searcher(run.spark, idx)
        hits = searcher.search(term, K, "and", with_doc_cols=True).collect()
        run.expect(sorted(r.path for r in hits) == sorted(paths),
                   f"planted term of stream batch {b}")
        fresh.append(time.perf_counter() - t0)
        if b == 0:
            with tr.span("dictindex.build_term_sidecars"):
                build_term_sidecars(run.spark, idx)
    with tr.span("incremental.compact_stream_index"):
        INC.compact_stream_index(run.spark, idx, target_splits=1)
    served = Served(idx, pd.concat(fed, ignore_index=True))
    served.open(run)
    n_docs = B.read_stats(idx)["n_docs"]
    run.expect(n_docs == len(served.pdf),
               f"stream n_docs {n_docs} != {len(served.pdf)}")
    run.info.update({
        "stream.ingest_files_per_s": (len(served.pdf) / sum(write), "1/s"),
        "stream.freshness_p50_s": (statistics.median(fresh), "s"),
    })
    return served


def layer_probes(run: Run) -> dict:
    """Fixed-size, seeded calls into the layers below the operators."""
    pdf = inputs.corpus_rows(run.seed, 400, offset=20 * SERVE_N)
    text = pdf["content"]
    mb = inputs.source_bytes(pdf) / 1e6

    def median_of(fn, reps=3):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    tok_s = median_of(lambda: tokenize_series(text, "code"))

    rng = np.random.default_rng(run.seed)
    lens = np.minimum(rng.zipf(1.3, 400), 5000)
    ids = np.concatenate([np.sort(rng.choice(100_000, n, replace=False))
                          for n in lens]).astype(np.int64)
    ends = np.cumsum(lens).astype(np.int64)
    starts = ends - lens
    tfs = rng.integers(1, 6, ids.size).astype(np.int64)
    dls = rng.integers(20, 400, ids.size).astype(np.int64)
    enc_s = median_of(lambda: codec.encode_runs(ids, tfs, dls, starts, ends))
    runs = codec.encode_runs(ids, tfs, dls, starts, ends)
    dec_s = median_of(lambda: [codec.decode_blocks(bl) for bl in runs])

    df = run.spark.createDataFrame(
        pdf[["content"]].assign(doc_id=np.arange(len(pdf), dtype=np.int64)))
    fused_s = median_of(
        lambda: term_stats_fused(df, "code", False).count(), reps=2)
    return {"tokenize.code_mb_per_s": (mb / tok_s, "MB/s"),
            "codec.encode_postings_per_s": (ids.size / enc_s, "1/s"),
            "codec.decode_postings_per_s": (ids.size / dec_s, "1/s"),
            "postings.term_stats_fused_s": (fused_s, "s")}


def layer_metrics(run: Run, probes: dict, wall_s: float) -> dict:
    tr = run.tr
    m = dict(probes)
    m["session.get_spark_s"] = (tr.durations("session.get_spark")[0], "s")
    for phase in ("stage", "segments", "finalize"):
        m[f"build.{phase}_s"] = (statistics.median(
            p[phase] for p in run.build_phases), "s")
    for key, span in [("dictindex.build_term_sidecars_s",
                       "dictindex.build_term_sidecars"),
                      ("incremental.ingest_batch_s",
                       "incremental.ingest_batch"),
                      ("incremental.merge_s",
                       "incremental.merge_stream_batches"),
                      ("incremental.compact_s",
                       "incremental.compact_stream_index")]:
        m[key] = (tr.median(span), "s")
    m["build.spark_jobs"] = (tr.mean_field("build.op", "spark_jobs"), "count")
    m["build.spark_tasks"] = (tr.mean_field("build.op", "spark_tasks"),
                              "count")
    m["build.bytes_written_per_source_byte"] = (
        statistics.median(run.build_bytes_ratio), "ratio")
    for key, span in [("search.open_ms", "search.open"),
                      ("search.plan_ms", "search.plan"),
                      ("search.exec_ms", "search.exec"),
                      ("search.batch_exec_ms", "search.batch"),
                      ("boolean.p50_ms", "boolean.search")] + [
            (f"search.{md}.p50_ms", f"search.{md}")
            for md in ("and", "or", "phrase", "wildcard", "fuzzy")]:
        m[key] = (tr.median(span) * 1e3, "ms")
    query_spans = [s for s in tr.spans if s["name"] in (
        "boolean.search", "search.and", "search.or", "search.phrase",
        "search.wildcard", "search.fuzzy")]
    m["search.spark_jobs_per_query"] = (
        statistics.fmean(s["spark_jobs"] for s in query_spans), "count")
    m["search.spark_tasks_per_query"] = (
        statistics.fmean(s["spark_tasks"] for s in query_spans), "count")
    m["search.repeat_ratio"] = (run.repeat_ratio, "ratio")
    m["incremental.spark_jobs_per_batch"] = (
        tr.mean_field("incremental.batch", "spark_jobs"), "count")
    for k, v in run.op_cpu_main.items():
        m[f"cpu.{k}_s"] = (v, "s")
    m["trace.overhead_pct"] = (100 * tr.overhead_s / wall_s, "%")
    return m


WORKLOADS = {"build_code": build_code, "serve_code": serve_code}
