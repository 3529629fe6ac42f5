"""Posting-block codec: delta + FOR bit-packing with block-max metadata.

The reference delegates posting compression to shaded Lucene 7.7.2 (delta-encoded
doc IDs + term frequencies in compressed blocks). We re-derive the same layout
natively: fixed-size blocks of (doc_id delta, tf) pairs, each block carrying
(first_doc, last_doc, n, max_tf, max_tfnorm) so the query side can do
block-max pruning (Ding & Suel, SIGIR'11) before decoding.

One value writer: FOR — frame-of-reference fixed-width bit packing, the base
scheme of the PForDelta family (Zukowski et al., ICDE'06) without exception
patching: blocks are 128 postings, short enough that one outlier widening the
whole block costs less than patch bookkeeping. Payloads are self-describing
via a 1-byte tag (see ``_TAG_*``); the reader also keeps the retired LEB128
varint tag, so indexes written with it still decode.

All kernels are numpy-vectorized — inner loops are over byte/bit position,
never over values.
"""

from __future__ import annotations

import numpy as np


_ALLOCATOR_TUNED = False


def tune_allocator() -> None:
    """Keep large numpy buffers on the main heap instead of per-allocation
    mmap/munmap. Under a user-space-kernel sandbox (gVisor-style), first
    touching a freshly mmapped page costs ~100x a normal fault, and glibc's
    default behavior (mmap big blocks, return them to the OS on free) makes
    every kernel task re-fault its working set: measured 2.5x on the build
    kernel's allocation pattern. Raising M_MMAP_THRESHOLD / M_TRIM_THRESHOLD
    trades bounded worker RSS for warm pages. No-op where libc is absent.

    Called from the WORKER-SIDE kernels (build / score / compact / validate)
    only — never at import time, so a driver that merely loads this module
    (load_index, run_queries planning) keeps glibc defaults and its
    documented 1g default heap stays lean. Idempotent: one mallopt per
    process."""
    global _ALLOCATOR_TUNED
    if _ALLOCATOR_TUNED:
        return
    _ALLOCATOR_TUNED = True
    try:
        import ctypes
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:  # noqa: BLE001 — allocator tuning is best-effort
        pass

_U64 = np.uint64


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a LEB128 varint byte stream back to uint64 (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else buf
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    n = len(ends)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for i in range(int(lengths.max())):
        sel = lengths > i
        vals[sel] |= (b[starts[sel] + i] & 0x7F).astype(np.uint64) << _U64(7 * i)
    return vals


def for_encode(values: np.ndarray, count_bytes: int = 2) -> bytes:
    """FOR bit-packing: header (nbits:1B, count: count_bytes LE) + packed
    bits. Vectorized: one shift-matrix + packbits, no per-value loop."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    nbits = max(int(v.max()).bit_length(), 1) if n else 1
    bits = ((v[:, None] >> np.arange(nbits, dtype=np.uint64))
            & np.uint64(1)).astype(np.uint8)
    return bytes([nbits]) + n.to_bytes(count_bytes, "little") \
        + np.packbits(bits.ravel()).tobytes()


def for_decode(buf: bytes | memoryview, count_bytes: int = 2) -> np.ndarray:
    """Inverse of for_encode with the same count width. The header is
    parsed from the raw buffer, not a numpy view: numpy scalar access is a
    measurable share of one small block's decode on the query path."""
    mv = memoryview(buf)
    hdr = 1 + count_bytes
    nbits = mv[0]
    n = int.from_bytes(mv[1:hdr], "little")
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if nbits < 1 or nbits > 64 or (n * nbits + 7) // 8 > len(mv) - hdr:
        # corrupt header (e.g. a flipped tag byte): fail loudly instead
        # of allocating a bogus-count buffer
        raise ValueError("corrupt FOR payload header")
    bits = np.unpackbits(np.frombuffer(mv[hdr:], dtype=np.uint8),
                         count=n * nbits)
    m = bits.reshape(n, nbits).astype(np.uint64)
    return (m << np.arange(nbits, dtype=np.uint64)).sum(axis=1)


# payload tag (first byte) → codec; payloads are self-describing, so
# decode_block reads every tag. Tag 1 = FOR with a 2-byte count (doc, tf
# and length streams of a block); tag 2 = FOR with a 4-byte count (position
# streams hold up to block_size × tf values, and any longer value stream).
# Tag 0 = LEB128 varint: no longer written, still decoded, so indexes built
# with the retired varint codec stay readable.
_TAG_VARINT, _TAG_FOR, _TAG_FOR32 = 0, 1, 2
_COUNT_BYTES = {_TAG_FOR: 2, _TAG_FOR32: 4}


def encode_values(values: np.ndarray) -> bytes:
    """Tagged FOR encoding: tag 1, or tag 2 once the count outgrows the
    2-byte field (block_size never approaches this)."""
    tag = _TAG_FOR if len(values) <= 0xFFFF else _TAG_FOR32
    return bytes([tag]) + for_encode(values, _COUNT_BYTES[tag])


def decode_values(buf: bytes) -> np.ndarray:
    tag = buf[0]
    if tag == _TAG_FOR:
        return for_decode(memoryview(buf)[1:])
    if tag == _TAG_FOR32:
        return for_decode(memoryview(buf)[1:], _COUNT_BYTES[_TAG_FOR32])
    if tag == _TAG_VARINT:
        return varint_decode(memoryview(buf)[1:])
    raise ValueError(f"unknown payload tag {tag}")


def encode_positions(pos: np.ndarray, tfs: np.ndarray) -> bytes:
    """Position stream of one block: the concatenation, posting by posting,
    of each posting's ascending in-doc term positions (len == Σtf). Deltas
    reset per posting (first value absolute), FOR-packed under tag 2
    (4-byte count). Positions are doc-relative, so they survive doc-id
    rebasing (tree merge, merge-indexes) untouched."""
    pos = np.ascontiguousarray(pos, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    d = np.diff(pos, prepend=np.int64(0))
    starts = np.cumsum(tfs) - tfs
    d[starts] = pos[starts]
    return bytes([_TAG_FOR32]) + for_encode(d, _COUNT_BYTES[_TAG_FOR32])


def decode_positions(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_positions → (flat positions, per-posting start
    offsets). Posting i's positions are flat[offs[i]:offs[i]+tfs[i]]."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    starts = np.cumsum(tfs) - tfs
    d = decode_values(buf).astype(np.int64)
    if len(d) == 0:
        return d, starts
    # per-posting cumulative sums: global cumsum minus the running base
    # carried across posting boundaries
    cs = np.cumsum(d)
    base = np.zeros(len(d), dtype=np.int64)
    base[starts[1:]] = cs[starts[1:] - 1]
    np.maximum.accumulate(base, out=base)
    return cs - base, starts


def encode_doc_deltas(doc_ids: np.ndarray) -> bytes:
    """Delta-encode a strictly-ascending doc-id array (first delta is 0,
    base doc id lives in block metadata as ``first_doc``)."""
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.diff(d, prepend=d[0] if len(d) else 0)
    return encode_values(deltas)


def decode_doc_deltas(buf: bytes, first_doc: int) -> np.ndarray:
    deltas = decode_values(buf).astype(np.int64)
    if len(deltas) == 0:
        return deltas
    deltas[0] = first_doc
    return np.cumsum(deltas)


def bm25_tfnorm(tf: np.ndarray, doc_len: np.ndarray, avgdl: float,
                k1: float = 1.2, b: float = 0.75) -> np.ndarray:
    """Length-normalized term-frequency factor of Lucene BM25Similarity:
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).  idf multiplies at query time."""
    tf = tf.astype(np.float64)
    dl = doc_len.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, doc_lens: np.ndarray,
                  avgdl: float, block_size: int = 128,
                  k1: float = 1.2, b: float = 0.75) -> list[dict]:
    """Split one term's sorted postings into fixed-size compressed blocks.

    Returns a list of dict rows:
      first_doc, last_doc, n, doc_bytes, tf_bytes, len_bytes, max_tf, max_tfnorm
    Block-max soundness: max_tfnorm >= tfnorm of every posting in the block,
    so idf*max_tfnorm is an upper bound on any BM25 contribution in the block.

    Doc lengths are stored per posting (impact-style) so query scoring is
    self-contained — no norms-table join at query time (Lucene keeps norms in
    a separate per-doc file; inlining costs ~1 byte/posting and removes a
    shuffle from the query path).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    out: list[dict] = []
    for s in range(0, len(doc_ids), block_size):
        e = min(s + block_size, len(doc_ids))
        d, t, dl = doc_ids[s:e], tfs[s:e], doc_lens[s:e]
        tfnorm = bm25_tfnorm(t, dl, avgdl, k1, b)
        out.append({
            "first_doc": int(d[0]),
            "last_doc": int(d[-1]),
            "n": int(e - s),
            "doc_bytes": encode_doc_deltas(d),
            "tf_bytes": encode_values(t),
            "len_bytes": encode_values(dl),
            "max_tf": int(t.max()),
            # sum_tf/min_dl let df/cf derive from block METADATA alone
            # (term_stats without re-exploding tokens) and give an
            # avgdl-independent score bound tfnorm(max_tf, min_dl).
            "sum_tf": int(t.sum()),
            "min_dl": int(dl.min()),
            "max_tfnorm": float(tfnorm.max()),
        })
    return out


def decode_block(doc_bytes: bytes, tf_bytes: bytes, len_bytes: bytes,
                 first_doc: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_blocks for one block → (doc_ids, tfs, doc_lens).
    Payloads are self-describing (codec tag byte), so blocks written under
    any tag — even mixed within one index — decode uniformly."""
    docs = decode_doc_deltas(doc_bytes, first_doc)
    tfs = decode_values(tf_bytes).astype(np.int64)
    lens = decode_values(len_bytes).astype(np.int64)
    return docs, tfs, lens
