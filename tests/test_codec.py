import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_mapreduce_indexer_spark.index.codec import (
    bm25_tfnorm, decode_block, decode_doc_deltas, decode_values,
    encode_blocks, encode_doc_deltas, encode_positions, encode_values,
    varint_decode)


def _leb128(vals) -> bytes:
    """Independent LEB128 writer (the codec keeps only the varint reader)."""
    out = bytearray()
    for v in vals:
        v = int(v)
        while True:
            byte, v = v & 0x7F, v >> 7
            out.append(byte | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def test_varint_known_values():
    assert varint_decode(b"\x00").tolist() == [0]
    assert varint_decode(b"\x01").tolist() == [1]
    assert varint_decode(b"\x7f").tolist() == [127]
    assert varint_decode(b"\x80\x01").tolist() == [128]
    assert varint_decode(b"\xac\x02").tolist() == [300]
    assert varint_decode(b"").tolist() == []
    assert varint_decode(b"\x00\x80\x01\xac\x02\x7f").tolist() == \
        [0, 128, 300, 127]
    assert varint_decode(_leb128([2**63 - 1])).tolist() == [2**63 - 1]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_varint_decode_matches_reference_writer(vals):
    assert varint_decode(_leb128(vals)).tolist() == vals


@pytest.mark.parametrize("n", [0, 1, 127, 128, 129, 1000, 100_000])
def test_delta_roundtrip_lengths(n):
    rng = np.random.default_rng(7)
    docs = np.cumsum(rng.integers(1, 2**32, size=n).astype(np.int64)) if n else np.array([], np.int64)
    buf = encode_doc_deltas(docs)
    out = decode_doc_deltas(buf, int(docs[0]) if n else 0)
    assert np.array_equal(out, docs)


@pytest.mark.parametrize("n", [1, 127, 128, 129, 1000])
def test_block_roundtrip_and_blockmax_soundness(n):
    rng = np.random.default_rng(13)
    docs = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 1000, size=n).astype(np.int64)
    dls = rng.integers(1, 500, size=n).astype(np.int64)
    avgdl = float(dls.mean())
    blocks = encode_blocks(docs, tfs, dls, avgdl, block_size=128)
    assert sum(b["n"] for b in blocks) == n
    got_d, got_t, got_l = [], [], []
    for b in blocks:
        d, t, ln = decode_block(b["doc_bytes"], b["tf_bytes"], b["len_bytes"],
                                b["first_doc"])
        assert d[0] == b["first_doc"] and d[-1] == b["last_doc"]
        assert len(d) == b["n"] == len(t) == len(ln)
        # block-max soundness: bound >= every true tfnorm in the block
        true = bm25_tfnorm(t, ln, avgdl)
        assert b["max_tfnorm"] >= true.max() - 1e-12
        assert b["max_tf"] == t.max()
        got_d.append(d); got_t.append(t); got_l.append(ln)
    assert np.array_equal(np.concatenate(got_d), docs)
    assert np.array_equal(np.concatenate(got_t), tfs)
    assert np.array_equal(np.concatenate(got_l), dls)
    # postings strictly ascending across block boundaries
    alld = np.concatenate(got_d)
    assert (np.diff(alld) > 0).all()


def test_for_codec_roundtrip():
    import numpy as np
    from solr_mapreduce_indexer_spark.index.codec import for_decode, for_encode

    rng = np.random.default_rng(0)
    for vals in (rng.geometric(0.02, 128).astype(np.uint64),
                 rng.geometric(0.6, 128).astype(np.uint64),
                 np.zeros(5, dtype=np.uint64),
                 np.array([0], dtype=np.uint64),
                 np.array([2**40 - 1, 0, 7], dtype=np.uint64),
                 np.empty(0, dtype=np.uint64)):
        got = for_decode(for_encode(vals))
        assert (got == vals).all() and len(got) == len(vals)


def _varint_block(d, t, dl) -> tuple[bytes, bytes, bytes]:
    """Tag-0 (varint) payloads of one block, as indexes built with the
    retired varint writer hold them: first doc delta 0, then gaps."""
    deltas = np.diff(d, prepend=d[0])
    return (b"\x00" + _leb128(deltas), b"\x00" + _leb128(t),
            b"\x00" + _leb128(dl))


def test_tagged_payloads_mixed_codecs_decode():
    """Tag-0 (varint) and tag-1 (FOR) blocks, even mixed in one posting
    list, decode via the same decode_block — the payload tag byte
    dispatches."""
    rng = np.random.default_rng(1)
    docs = np.cumsum(rng.integers(1, 50, 200))
    tfs = rng.integers(1, 9, 200)
    dls = rng.integers(5, 80, 200)
    for_blocks = encode_blocks(docs, tfs, dls, 30.0, block_size=64)
    assert all(b["tf_bytes"][0] == 1 for b in for_blocks)
    out_d, out_t, out_l = [], [], []
    for i, b in enumerate(for_blocks):
        s = i * 64
        e = s + b["n"]
        payloads = ((b["doc_bytes"], b["tf_bytes"], b["len_bytes"])
                    if i % 2 else _varint_block(docs[s:e], tfs[s:e], dls[s:e]))
        d, t, dl = decode_block(*payloads, b["first_doc"])
        out_d.append(d); out_t.append(t); out_l.append(dl)
    assert (np.concatenate(out_d) == docs).all()
    assert (np.concatenate(out_t) == tfs).all()
    assert (np.concatenate(out_l) == dls).all()


def test_long_value_streams_use_tag2():
    """Past the 2-byte count, encode_values switches to tag 2 — the same
    bytes encode_positions writes for one position per posting."""
    rng = np.random.default_rng(3)
    short = rng.integers(0, 1000, 0xFFFF)
    assert encode_values(short)[0] == 1
    vals = rng.integers(0, 1000, 0xFFFF + 1)
    buf = encode_values(vals)
    assert buf[0] == 2
    assert buf == encode_positions(vals, np.ones(len(vals), np.int64))
    assert np.array_equal(decode_values(buf), vals)


def test_unknown_tag_and_corrupt_header_raise():
    good = encode_values(np.arange(10))
    with pytest.raises(ValueError, match="tag"):
        decode_values(b"\x07" + good[1:])
    # tag flipped 1 → 2: the 2-byte-count payload read as a 4-byte count
    with pytest.raises(ValueError, match="corrupt"):
        decode_values(b"\x02" + good[1:])
