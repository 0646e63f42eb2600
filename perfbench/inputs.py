"""Seeded inputs: corpus row ranges, planted terms and the query pool.

Everything here is a pure function of the seed. The engine only ever sees
the generated rows and query strings.
"""

from __future__ import annotations

import random
import string

import pandas as pd

from datastream_io_spark.corpus import corpus_pandas

# seed n reads corpus rows [n * ROW_STRIDE + offset, ...): disjoint row
# ranges, same Zipf/template statistics
ROW_STRIDE = 1_000_003

# The query pool is the same for every seed; within a mode, list order
# is popularity rank (Zipf). and/or/phrase entries are also checked
# against the brute-force scorer; every entry is checked for
# single-query vs batched parity.
QUERY_POOL = {
    "and": ["parseConfig", "parse config", "block encoder", "ident_3",
            "stream reader", "merge segments", "posting list", "ident_17",
            "query planner", "flush segment", "doc count", "result list",
            "fetchData", "error count", "ident_120"],
    "or": ["import os error", "defer close flush", "ident_2 ident_40",
           "logger warning error", "encoder iterator", "segments postings",
           "retry attempt failures", "ident_9 ident_250"],
    "phrase": ["import os", "defer file close", "package indexer",
               "import sys", "use std collections",
               "from collections import defaultdict",
               "logger error flush failed", "let mut encoder"],
    "wildcard": ["pars", "merg", "flush", "post", "encod", "stream", "conf",
                 "ident_1", "ident_2"],
    "fuzzy": ["parze", "mergr", "encodr", "postngs", "flusg", "confg",
              "segmnts", "readr"],
    "boolean": ['parse AND (config OR error)', '"import os" AND NOT sys',
                'merge OR flush', 'block AND encoder AND NOT postings',
                '"defer file close" OR package', 'reader AND NOT stream',
                'ident_5 OR ident_60', 'pars* AND config'],
}
MODES = tuple(QUERY_POOL)

# one closed-loop stream slot per entry: the mode mix is the same for
# every seed
MODE_CYCLE = ["and", "or", "phrase", "and", "boolean", "wildcard",
              "and", "fuzzy", "or", "phrase", "and", "boolean"]


def corpus_rows(seed: int, n: int, offset: int = 0) -> pd.DataFrame:
    return corpus_pandas(n, start=seed * ROW_STRIDE + offset)


def source_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["content"].map(lambda s: len(s.encode())).sum())


def planted_term(seed: int, batch: int) -> str:
    """A letters-only token (the code tokenizer keeps it whole) that no
    generated row contains."""
    rng = random.Random(f"plant-{seed}-{batch}")
    return "zqx" + "".join(rng.choice(string.ascii_lowercase)
                           for _ in range(8))


def plant(pdf: pd.DataFrame, term: str, seed: int, batch: int,
          n_docs: int = 3) -> tuple[pd.DataFrame, list[str]]:
    """Append ``term`` to ``n_docs`` seeded rows; returns the frame and
    the planted rows' paths."""
    rng = random.Random(f"plantrows-{seed}-{batch}")
    rows = sorted(rng.sample(range(len(pdf)), n_docs))
    out = pdf.copy()
    for r in rows:
        out.at[r, "content"] = out.at[r, "content"] + f"\n# {term}"
    return out, [out.at[r, "path"] for r in rows]


def query_stream(seed: int, cycles: int) -> list[tuple[str, str]]:
    """``cycles`` closed-loop cycles of (mode, query); modes follow
    MODE_CYCLE. Within a mode the queries are a fixed multiset with
    Zipf(1) popularity by pool rank (largest-remainder shares), so hot
    queries repeat; the seed only shuffles their order. Every seed thus
    times the same queries: which ones a seed drew would otherwise move
    the cost of a short stream more than the engine does."""
    rng = random.Random(f"stream-{seed}")
    drawn = {}
    for m, qs in QUERY_POOL.items():
        n = cycles * MODE_CYCLE.count(m)
        w = [1 / (r + 1) for r in range(len(qs))]
        quota = [n * x / sum(w) for x in w]
        counts = [int(x) for x in quota]
        by_remainder = sorted(range(len(qs)),
                              key=lambda r: counts[r] - quota[r])
        for r in by_remainder[:n - sum(counts)]:
            counts[r] += 1
        mode_qs = [q for q, c in zip(qs, counts) for _ in range(c)]
        rng.shuffle(mode_qs)
        drawn[m] = iter(mode_qs)
    return [(m, next(drawn[m])) for _ in range(cycles) for m in MODE_CYCLE]


def golden_sample(seed: int, modes: tuple[str, ...],
                  n: int) -> list[tuple[str, str]]:
    rng = random.Random(f"golden-{seed}")
    cands = [(m, q) for m in modes for q in QUERY_POOL[m]]
    return rng.sample(cands, n)
