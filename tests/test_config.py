"""IndexConfig validation and the manifest config decoder."""

import pytest

from solr_mapreduce_indexer_spark.config import IndexConfig, decode_config
from solr_mapreduce_indexer_spark.functions.analysis import TOKEN_PATTERN


def _older_manifest_config(**kw) -> dict:
    """A manifest "config" object as written before posting_codec,
    chunk_bits and token_pattern were retired (JSON: tuples are lists)."""
    raw = {"shards": 4, "reducers": 32, "fanout": 8, "max_segments": 1,
           "compression": "zstd", "intermediate_compression": "snappy",
           "block_size": 128, "posting_codec": "for", "positions": True,
           "doc_bits": 40, "chunk_bits": 18, "k1": 1.2, "b": 0.75,
           "token_pattern": "[a-z0-9]+", "min_token_len": 2,
           "stopwords": ["the", "a"],
           "conflict_resolver": "retain_most_recent", "order_by_field": "ts"}
    raw.update(kw)
    return raw


@pytest.mark.parametrize("codec", ["for", "varint"])
def test_decode_older_manifest_drops_retired_keys(codec):
    # posting_codec only chose the writer; tag-0 (varint) payloads still
    # decode (tests/test_codec.py::test_tagged_payloads_mixed_codecs_decode)
    cfg = decode_config(_older_manifest_config(posting_codec=codec))
    assert cfg == IndexConfig(shards=4, reducers=32, fanout=8, positions=True,
                              min_token_len=2, stopwords=("the", "a"))


def test_decode_rejects_other_token_pattern():
    assert TOKEN_PATTERN == "[a-z0-9]+"
    with pytest.raises(ValueError, match="token_pattern"):
        decode_config(_older_manifest_config(token_pattern="[a-z]+"))


@pytest.mark.parametrize("size", [0, 0xFFFF + 1, 1 << 20])
def test_block_size_out_of_range_rejected(size):
    # the posting kernel writes each block's count in a 2-byte field
    with pytest.raises(ValueError, match="block_size"):
        IndexConfig(block_size=size)


def test_block_size_limit_accepted():
    assert IndexConfig(block_size=0xFFFF).block_size == 0xFFFF
