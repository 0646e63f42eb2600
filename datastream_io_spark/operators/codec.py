"""C2/C3 — posting-list block codec: delta + varint, PForDelta-style
blocks with block-max metadata (SURVEY.md §2.4; BASELINE.json:6).

Layout follows the columnar-inverted-index design (ICDE 2025, PAPERS.md)
and classic PForDelta (Zukowski et al., ICDE 2006): postings are split
into blocks of ≤128 doc ids; per block we store

    first_doc_id : int64   absolute — blocks are position-independent,
                           so merging runs never re-encodes
    max_doc_id   : int64   block-skip bound (intersection)
    n            : int32   postings in the block
    max_tf       : int32   raw tf bound
    min_dl       : int32   smallest doc_len in the block — the BM25
                           tf-normalization is increasing in tf and
                           decreasing in dl, so idf(t) * tfn(max_tf,
                           min_dl, avgdl) is a valid per-block score
                           upper bound (block-max WAND, Ding & Suel
                           SIGIR 2011) computable at QUERY time; storing
                           (max_tf, min_dl) instead of a precomputed
                           bound lets segments be fully encoded before
                           the global avgdl exists — the per-split jobs
                           checkpoint compressed blocks, not raw tf rows
    docs         : binary  varint deltas of doc_ids[1:] (doc_ids[0] ==
                           first_doc_id); strictly positive
    tfs          : binary  varint tfs (n values)
    dls          : binary  varint doc_lens (n values) — per-POSTING doc
                           length so BM25 needs no side lookup at query
                           time: the old design broadcast an int32
                           dl array built from a driver-side
                           ``docs.toPandas()``, which dies past ~10^9
                           docs; storing dl next to tf keeps the query
                           path executor-local at any corpus size for
                           ~1 extra varint byte per posting
    poss         : binary  OPTIONAL (None when the index is built
                           without positions): per-posting token
                           positions, sum(tfs) varints — each posting's
                           run starts with (first_pos + 1) followed by
                           strictly-positive within-doc deltas; posting
                           boundaries are recovered from the decoded
                           tfs, so no extra length stream is stored.
                           Powers phrase queries.

Everything is numpy-vectorized (no per-row Python): encode loops only
over byte-positions (≤10) and returns the blocks as one Arrow column
(:class:`EncodedRuns`), decode has a fast path for the dominant
all-single-byte case and an ``np.add.at`` scatter otherwise.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa

from datastream_io_spark import BLOCK_SIZE

_U64_7 = np.uint64(7)
_U64_0x7F = np.uint64(0x7F)

# phrase keys pack (doc_id << POS_BITS) | position into one int64:
# positions < 2^22 (4.2M tokens/doc) leaves 2^41 ≈ 2·10^12 doc ids —
# the north-rule corpus bound. Enforced at ENCODE time so the query
# side can rely on it instead of silently corrupting keys.
POS_BITS = 22

# one block as Arrow — the ``build.BLOCKS_TYPE`` element as Spark's
# Arrow conversion types it (pinned by tests/test_columnar.py)
BLOCK_ARROW = pa.struct(
    [(f, pa.int64()) for f in ("first_doc_id", "max_doc_id")]
    + [(f, pa.int32()) for f in ("n", "max_tf", "min_dl")]
    + [(f, pa.binary()) for f in ("docs", "tfs", "dls", "poss")])
BLOCKS_ARROW = pa.list_(pa.field("element", BLOCK_ARROW))


def ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Indices of the ranges ``[starts[i], starts[i] + lens[i])``, one
    after another: the gather that reorders or selects variable-length
    slices (a CSR ``take``) without a Python loop."""
    lens = np.asarray(lens, np.int64)
    ends = np.cumsum(lens)
    total = int(ends[-1]) if ends.size else 0
    return (np.repeat(np.asarray(starts, np.int64) - (ends - lens), lens)
            + np.arange(total))


def _varint_stream(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varint-pack a uint64 array into one uint8 buffer; also return the
    cumulative byte END offset of each value, so callers can slice the
    buffer at arbitrary value boundaries. This is what lets the encode
    kernel pack a whole Arrow batch's worth of blocks with ONE numpy
    pass per stream instead of 3-4 ``varint_encode`` calls per block
    (the per-call overhead dominated the build at ~20µs × 4 × blocks)."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, np.uint8), np.zeros(0, np.int64)
    nb = np.ones(v.size, np.int64)
    x = v >> _U64_7
    while x.any():
        nb += (x > 0)
        x = x >> _U64_7
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), np.uint8)
    for j in range(int(nb.max())):
        mask = nb > j
        idx = starts[mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & _U64_0x7F).astype(np.uint8)
        cont = (nb[mask] - 1 > j).astype(np.uint8)
        out[idx] = byte | (cont << 7)
    return out, ends


def varint_encode(vals: np.ndarray) -> bytes:
    """LEB128-style varint pack of a uint64 array, vectorized."""
    out, _ = _varint_stream(vals)
    return out.tobytes()


def varint_decode(buf: bytes, n: int) -> np.ndarray:
    """Inverse of :func:`varint_encode`; returns uint64[n]."""
    if n == 0:
        return np.zeros(0, np.uint64)
    b = np.frombuffer(buf, np.uint8)
    if b.size == n:  # fast path: every value fit in one byte
        return (b & 0x7F).astype(np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    lens = np.diff(ends, prepend=-1)  # bytes per value
    starts = ends - lens + 1
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lens)
    val_of_byte = np.repeat(np.arange(n, dtype=np.int64), lens)
    vals = np.zeros(n, np.uint64)
    np.add.at(
        vals, val_of_byte,
        (b & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64),
    )
    return vals


class EncodedRuns(Sequence):
    """The blocks of many runs: ``blocks`` is the segment column, one
    Arrow list of :data:`BLOCK_ARROW` per run, and ``payload_bytes`` the
    run's four byte streams summed (``build.blocks_bytes_col``'s
    definition). As a sequence it is the list-of-dicts form, one list of
    block dicts per run (converted on first use)."""

    def __init__(self, blocks: pa.ListArray, payload_bytes: np.ndarray):
        self.blocks = blocks
        self.payload_bytes = payload_bytes
        self._rows = None

    def to_pylist(self) -> list[list[dict]]:
        if self._rows is None:
            self._rows = self.blocks.to_pylist()
        return self._rows

    def __len__(self) -> int:
        return len(self.blocks)

    def __getitem__(self, i):
        return self.to_pylist()[i]


def _binary(buf: np.ndarray, bounds: np.ndarray) -> pa.Array:
    """Value i = ``buf[bounds[i]:bounds[i + 1]]``, with no copy."""
    return pa.BinaryArray.from_buffers(
        pa.binary(), bounds.size - 1,
        [None, pa.py_buffer(bounds.astype(np.int32)), pa.py_buffer(buf)])


def encode_runs(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    run_starts: np.ndarray,
    run_ends: np.ndarray,
    positions: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
) -> EncodedRuns:
    """C2 batch form — encode MANY contiguous runs in one numpy pass.

    ``doc_ids``/``tfs``/``dls`` are the whole sorted batch; run r owns
    rows [run_starts[r], run_ends[r]) and runs tile the batch
    contiguously (run_ends[r] == run_starts[r+1]). ``positions``, when
    given, is the batch-flat ascending within-doc position stream whose
    posting boundaries are ``tfs``. Every stream is packed with ONE
    varint pass over the batch, and each block's bytes are a slice of it
    at value boundaries: the block columns are built straight over those
    buffers, so no per-block Python object exists. Each run's blocks are
    byte-identical to encoding the run alone.
    """
    doc_ids = np.ascontiguousarray(doc_ids, np.int64)
    tfs = np.ascontiguousarray(tfs, np.int64)
    dls = np.ascontiguousarray(dls, np.int64)
    run_starts = np.ascontiguousarray(run_starts, np.int64)
    run_ends = np.ascontiguousarray(run_ends, np.int64)
    n = doc_ids.size
    nruns = run_starts.size
    if n == 0 or nruns == 0:
        return EncodedRuns(
            pa.ListArray.from_arrays(pa.array(np.zeros(nruns + 1, np.int32)),
                                     pa.array([], BLOCK_ARROW),
                                     type=BLOCKS_ARROW),
            np.zeros(nruns, np.int64))

    # block boundaries: run r yields ceil(len/bs) blocks, tiling its rows
    nb_run = (run_ends - run_starts + block_size - 1) // block_size
    total_b = int(nb_run.sum())
    run_of_block = np.repeat(np.arange(nruns), nb_run)
    within = (np.arange(total_b)
              - np.repeat(np.cumsum(nb_run) - nb_run, nb_run))
    bstart = run_starts[run_of_block] + within * block_size
    bend = np.minimum(bstart + block_size, run_ends[run_of_block])
    # runs tile the batch, so blocks do too: bend[i] == bstart[i+1]
    bn = bend - bstart

    # docs stream: within-block deltas (block-first ids are implicit)
    deltas = np.empty(n, np.int64)
    deltas[0] = 0
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    keep = np.ones(n, bool)
    keep[bstart] = False  # block starts carry no delta
    d_buf, d_ends = _varint_stream(deltas[keep].astype(np.uint64))
    # value-space bound of each block inside the masked delta array
    d_vb = np.concatenate(([0], np.cumsum(bn - 1)))
    d_bb = np.concatenate(([0], d_ends))[d_vb]  # byte bounds

    t_buf, t_ends = _varint_stream(tfs.astype(np.uint64))
    l_buf, l_ends = _varint_stream(dls.astype(np.uint64))
    vb = np.concatenate(([0], np.cumsum(bn)))  # == bstart + [n] in value space
    t_bb = np.concatenate(([0], t_ends))[vb]
    l_bb = np.concatenate(([0], l_ends))[vb]
    block_bytes = np.diff(d_bb) + np.diff(t_bb) + np.diff(l_bb)

    if positions is not None:
        positions = np.ascontiguousarray(positions, np.int64)
        if positions.size and int(positions.max()) >= (1 << POS_BITS):
            raise ValueError(
                f"token position {int(positions.max())} >= 2^{POS_BITS}: "
                f"documents longer than {1 << POS_BITS} tokens are not "
                "supported by the positional index (phrase-key packing)")
        pbounds = np.concatenate(([0], np.cumsum(tfs)))
        # per posting: (first_pos + 1) then strictly-positive deltas —
        # all values ≥ 1 so varints stay tight; block boundaries align
        # with posting boundaries, so per-block streams are unchanged
        pd_ = np.empty(positions.size, np.int64)
        if positions.size:
            pd_[0] = 0
            pd_[1:] = positions[1:] - positions[:-1]
            ps = pbounds[:-1][tfs > 0]  # posting starts (tf ≥ 1 always)
            pd_[ps] = positions[ps] + 1
        p_buf, p_ends = _varint_stream(pd_.astype(np.uint64))
        p_bb = np.concatenate(([0], p_ends))[pbounds[np.concatenate(
            (bstart, [n]))]]
        poss = _binary(p_buf, p_bb)
        block_bytes += np.diff(p_bb)
    else:
        poss = pa.nulls(total_b, pa.binary())

    blocks = pa.StructArray.from_arrays([
        pa.array(doc_ids[bstart]),
        pa.array(doc_ids[bend - 1]),
        pa.array(bn, pa.int32()),
        pa.array(np.maximum.reduceat(tfs, bstart), pa.int32()),
        pa.array(np.minimum.reduceat(dls, bstart), pa.int32()),
        _binary(d_buf, d_bb),
        _binary(t_buf, t_bb),
        _binary(l_buf, l_bb),
        poss,
    ], fields=list(BLOCK_ARROW))
    run_bb = np.concatenate(([0], np.cumsum(nb_run)))  # block bounds
    cum = np.concatenate(([0], np.cumsum(block_bytes)))
    return EncodedRuns(
        pa.ListArray.from_arrays(pa.array(run_bb.astype(np.int32)), blocks,
                                 type=BLOCKS_ARROW),
        cum[run_bb[1:]] - cum[run_bb[:-1]])


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """C2 — sorted (doc_id, tf, doc_len) arrays → list of block dicts.

    ``doc_ids`` must be strictly increasing int64. ``positions``, when
    given, is the FLAT ascending within-doc token-position stream whose
    posting boundaries are ``tfs`` (posting i owns tfs[i] positions).
    Blocks need no global statistics (see ``min_dl`` above), so segments
    are encodable the moment a split is tokenized. Single-run form of
    :func:`encode_runs` (used by purge and tests; the build kernels
    batch)."""
    doc_ids = np.ascontiguousarray(doc_ids, np.int64)
    return encode_runs(
        doc_ids, tfs, dls,
        np.zeros(1, np.int64), np.array([doc_ids.size], np.int64),
        positions=positions, block_size=block_size,
    )[0]


def decode_block_docs(block) -> np.ndarray:
    """Doc ids of one block (int64, sorted). ``block`` is a dict or Row."""
    n = block["n"]
    first = block["first_doc_id"]
    deltas = varint_decode(block["docs"], n - 1)
    out = np.empty(n, np.int64)
    out[0] = first
    if n > 1:
        np.cumsum(deltas.astype(np.int64), out=out[1:])
        out[1:] += first
    return out


def decode_block_tfs(block) -> np.ndarray:
    return varint_decode(block["tfs"], block["n"]).astype(np.int64)


def decode_block_dls(block) -> np.ndarray:
    return varint_decode(block["dls"], block["n"]).astype(np.int64)


def decode_block_positions(block, tfs: np.ndarray | None = None) -> np.ndarray:
    """Flat position stream of one block (posting boundaries = its tfs).
    Pass the already-decoded ``tfs`` to skip re-decoding them."""
    if block["poss"] is None:
        raise ValueError("index was built without positions "
                         "(build_index(..., positions=True))")
    if tfs is None:
        tfs = decode_block_tfs(block)
    total = int(tfs.sum())
    d = varint_decode(block["poss"], total).astype(np.int64)
    gs = np.cumsum(tfs) - tfs
    d[gs] -= 1  # undo the +1 on posting-first positions
    c = np.cumsum(d)
    base = c[gs] - d[gs]  # running total just before each posting
    return c - np.repeat(base, tfs)


def decode_blocks(blocks) -> tuple[np.ndarray, np.ndarray]:
    """C3 — full posting list back from a list of blocks."""
    if not blocks:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    ids = np.concatenate([decode_block_docs(b) for b in blocks])
    tfs = np.concatenate([decode_block_tfs(b) for b in blocks])
    return ids, tfs
