"""Process-wide LRU of term rows for the driver query path.

Warm serving traffic is Zipf-shaped: the same hot terms are queried
again and again, and a gated query (Σ df ≤ ``SINGLE_TASK_MAX_POSTINGS``)
spent ~40% of its driver time re-reading their ``term_bucket=K`` parquet
files and converting them to pandas. :func:`bucket_term_rows` is the one
pruned bucket read both driver reads go through — the postings rows
(``indexed_search.Searcher._run``) and the small-dictionary rows
(``indexed_search.lookup_terms``) — and it keeps each term's converted
rows in memory under a byte budget, so a repeat reads nothing.

Only inputs are cached, never results: tombstones are still resolved
per query (deletes stay live) and every kernel still runs. Cached rows
are shared by every reader and must be treated as read-only (their
numpy arrays are marked non-writeable).

Staleness: an entry is keyed on the term AND on the bucket directory's
file identity — its realpath plus ``(name, inode, size, mtime_ns)`` of
every entry in it, one ``os.scandir`` per bucket per query. A rebuild at
the same path, a streaming merge wave (new files), a compaction or
purge swap (new inodes) all change the identity, so the next read
misses instead of serving stale rows; entries of a dead identity are
never hit again and age out of the LRU. A miss is inserted only when
the identity is unchanged after the read, so rows read across a
concurrent rewrite are never cached.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import numpy as np

# total estimated bytes of cached rows, process-wide. Every entry comes
# from a read under the single-task gate, so one term's rows are at most
# a few MB of compressed blocks; a larger entry is simply not cached
POSTINGS_CACHE_MAX_BYTES = 256 << 20

# estimated Python-object bytes per cached row (key, tuple, term string)
# and per postings block (the dict to_pandas builds for a block struct,
# its int fields and bytes headers; sys.getsizeof on CPython 3.11),
# on top of the blocks' binary payloads
_ROW_BYTES = 256
_BLOCK_BYTES = 576


class _TermRowsLRU:
    """``(base, term) → (rows, nbytes)`` in least-recently-used order,
    behind one lock: lookups, inserts and evictions are O(1) each."""

    def __init__(self):
        self._lock = threading.Lock()
        self._entries: OrderedDict = OrderedDict()
        self.nbytes = 0

    def get(self, base: tuple, terms: list) -> tuple[dict, list]:
        """``(hits, misses)``: cached rows of ``terms`` (each hit becomes
        most recently used) and the terms not cached."""
        hits, misses = {}, []
        with self._lock:
            for t in terms:
                e = self._entries.get((base, t))
                if e is None:
                    misses.append(t)
                else:
                    self._entries.move_to_end((base, t))
                    hits[t] = e[0]
        return hits, misses

    def put(self, base: tuple, rows: dict, nbytes: dict) -> None:
        """Insert each term's rows, then evict least recently used
        entries until the total fits the budget."""
        budget = POSTINGS_CACHE_MAX_BYTES
        with self._lock:
            for t, r in rows.items():
                if nbytes[t] > budget:
                    continue
                old = self._entries.pop((base, t), None)
                if old is not None:
                    self.nbytes -= old[1]
                self._entries[(base, t)] = (r, nbytes[t])
                self.nbytes += nbytes[t]
            while self.nbytes > budget:
                _, (_, n) = self._entries.popitem(last=False)
                self.nbytes -= n

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
            self.nbytes = 0


_CACHE = _TermRowsLRU()


def clear() -> None:
    """Drop every cached entry."""
    _CACHE.clear()


def cached_bytes() -> int:
    """Estimated bytes held by the cache."""
    return _CACHE.nbytes


def _identity(bdir: str) -> tuple | None:
    """The directory's file identity: sorted ``(name, inode, size,
    mtime_ns)`` of its entries. None when an entry vanished while being
    listed (a rewrite in flight: read, but do not cache)."""
    try:
        with os.scandir(bdir) as it:
            return tuple(sorted(
                (e.name, st.st_ino, st.st_size, st.st_mtime_ns)
                for e in it for st in (e.stat(),)))
    except FileNotFoundError:
        return None


def _row_bytes(table) -> np.ndarray:
    """Estimated in-memory bytes of each row of ``table`` once
    converted: a fixed row cost, the lengths of its string / binary
    values, and for list-of-struct columns (postings blocks) a fixed
    cost per element plus its binary fields' lengths."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def lengths(arr) -> np.ndarray:
        return pc.binary_length(arr).fill_null(0).to_numpy().astype(
            np.int64)

    size = np.full(table.num_rows, _ROW_BYTES, np.int64)
    for col in table.columns:
        col = col.combine_chunks()
        if pa.types.is_list(col.type):
            flat = col.flatten()
            per = np.full(len(flat), _BLOCK_BYTES, np.int64)
            if pa.types.is_struct(flat.type):
                for i, f in enumerate(flat.type):
                    if pa.types.is_binary(f.type) or pa.types.is_string(
                            f.type):
                        per += lengths(flat.field(i))
            parent = pc.list_parent_indices(col).to_numpy()
            size += np.bincount(parent, weights=per,
                                minlength=len(size)).astype(np.int64)
        elif pa.types.is_binary(col.type) or pa.types.is_string(col.type):
            size += lengths(col)
    return size


def _rows_by_term(table, columns: tuple, terms: list) -> tuple[dict, dict]:
    """``(rows, nbytes)`` per term of ``terms`` (absent terms: no rows,
    a fixed cost): each row a tuple of the non-term ``columns`` values,
    converted the way ``to_pandas`` converts them. Array values are
    made read-only."""
    rest = [c for c in columns if c != "term"]
    names = table.column("term").to_pylist()
    cols = [table.column(c).to_pandas().tolist() for c in rest]
    sizes = _row_bytes(table.select(rest))
    rows = {t: [] for t in terms}
    nbytes = dict.fromkeys(terms, _ROW_BYTES)
    for i, t in enumerate(names):
        row = tuple(c[i] for c in cols)
        for v in row:
            if isinstance(v, np.ndarray):
                v.flags.writeable = False
        rows[t].append(row)
        nbytes[t] += int(sizes[i])
    return rows, nbytes


def bucket_term_rows(bdir: str, columns: tuple, terms: list) -> dict:
    """The rows of each of ``terms`` in bucket directory ``bdir``
    (``{term: [row, ...]}`` in ``terms`` order, ``[]`` for a term with
    none; each row the tuple of ``columns`` other than ``term``). Cached
    terms cost no read; the others are read with ONE pruned
    ``pq.read_table(bdir, filters=[("term", "in", misses)])`` (row-group
    min/max on the term-sorted files prunes the I/O) and cached. A
    missing directory has no rows."""
    import pyarrow.parquet as pq

    if not terms or not os.path.isdir(bdir):
        return {t: [] for t in terms}
    ident = _identity(bdir)
    base = (os.path.realpath(bdir), columns, ident)
    if ident is None:
        hits, misses = {}, list(terms)
    else:
        hits, misses = _CACHE.get(base, terms)
    if misses:
        table = pq.read_table(bdir, columns=list(columns),
                              filters=[("term", "in", misses)])
        rows, nbytes = _rows_by_term(table, columns, misses)
        if ident is not None and _identity(bdir) == ident:
            _CACHE.put(base, rows, nbytes)
        hits.update(rows)
    return {t: hits[t] for t in terms}
