"""Engine configuration.

Mirrors the knob surface of the reference tool's argument parser
(reference: MapReduceIndexerToolArgumentParser.java:51-450) reduced to the
parameters that affect index/query semantics. Everything else (memory sizing,
thread pools) is delegated to Spark.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class IndexConfig:
    # --- sharding / merge-tree (reference: IndexTool.java:166-213) ---
    shards: int = 2                # S: final shard count (--shards)
    reducers: int = -2             # R: micro-shards; -2 => R = S (no mtree merge),
                                   # mirrors --reducers -2 default semantics
    fanout: int = 2**31 - 1        # merge fanout F, clamped to ceil(R/S)
                                   # (MapReduceIndexerToolArgumentParser.java:262-267)
    max_segments: int = 1          # compaction target per shard after merge
                                   # (--max-segments, default 1)

    # --- posting layout ---
    compression: str = "zstd"      # parquet codec for segments/docmap (the
                                   # reference's zip-output claims ~1/5 size,
                                   # SolrOutputFormat.java:126-133; zstd gives
                                   # a similar ratio with cheap decode)
    intermediate_compression: str = "snappy"
                                   # codec for levels the merge tree rewrites
                                   # anyway (level 0 + inner merge levels +
                                   # stream generations): these bytes are
                                   # written once and read once, so cheap/
                                   # fast beats dense; the FINAL level (what
                                   # queries scan forever) always uses
                                   # `compression`
    block_size: int = 128          # postings per compressed block (Lucene-style);
                                   # at most 65535, the FOR header's 2-byte count
    positions: bool = False        # store per-posting term positions (one
                                   # extra FOR stream per block) and serve
                                   # "PHRASE" queries — what the reference's
                                   # Lucene 7.7.2 output stores by default
                                   # (pom.xml:36-37). Off by default: ~1
                                   # byte/occurrence extra index size.
    doc_bits: int = 40             # doc_id = (shard_id << doc_bits) | local_idx

    # --- BM25 (Lucene BM25Similarity defaults) ---
    k1: float = 1.2
    b: float = 0.75

    # --- analysis (token pattern: functions/analysis.TOKEN_PATTERN) ---
    min_token_len: int = 1
    stopwords: tuple[str, ...] = ()    # default: keep everything (Lucene
                                       # StandardAnalyzer w/o stopset)

    # --- dedup (reference §2.5; default RetainMostRecentUpdateConflictResolver) ---
    conflict_resolver: str = "retain_most_recent"
    order_by_field: str = "ts"     # analog of file_last_modified

    def __post_init__(self) -> None:
        if self.shards < 1:
            raise ValueError("shards must be >= 1")
        if not 1 <= self.block_size <= 0xFFFF:
            # the posting kernel writes each block's count in 2 bytes
            raise ValueError("block_size must be in [1, 65535]")

    # Reference invariant: R rounded up to S * F^N so the merge tree is uniform
    # (IndexTool.java:193-210). Returns (R, F, iterations).
    def plan_build_partitions(self) -> tuple[int, int, int]:
        s = self.shards
        r = self.reducers
        if r == -2 or r <= s:
            return s, 1, 0
        f = min(self.fanout, -(-r // s))  # clamp fanout to ceil(R/S), min 2
        f = max(2, f)
        # round R up to S * F^N
        n = 0
        cur = s
        while cur < r:
            cur *= f
            n += 1
        return cur, f, n


# manifest config keys of fields this version no longer has
_RETIRED_KEYS = ("posting_codec", "chunk_bits", "token_pattern")


def decode_config(raw: dict) -> IndexConfig:
    """IndexConfig from a manifest's ``config`` object (JSON lists back to
    tuples). Older manifests carry three retired keys, which are dropped:
    posting_codec (every payload tag it could write still decodes),
    chunk_bits (never read), and token_pattern — accepted only when it is
    the one analyzer this version tokenizes with."""
    from .functions.analysis import TOKEN_PATTERN
    pattern = raw.get("token_pattern", TOKEN_PATTERN)
    if pattern != TOKEN_PATTERN:
        raise ValueError(f"index was built with token_pattern={pattern!r}; "
                         f"only {TOKEN_PATTERN!r} is supported")
    return IndexConfig(**{k: (tuple(v) if k == "stopwords" else v)
                          for k, v in raw.items()
                          if k not in _RETIRED_KEYS})
