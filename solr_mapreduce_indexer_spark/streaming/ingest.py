"""Incremental / streaming index ingest.

The reference is a pure batch pipeline (no streaming operator exists in it —
SURVEY §2.8; fault tolerance is "rerun the job",
MapReduceIndexerToolArgumentParser.java:100-102). Its deployment story,
though, is incremental: batch-built shards are routed with the SAME murmur3
compositeId semantics as SolrCloud's near-real-time updates precisely so new
documents can keep flowing into the same collection
(SolrCloudPartitioner.java:40-50). This module is the Spark-native version of
that story: Structured Streaming micro-batches append **generations** of
posting segments to an index directory, and a finalize pass commits a
standard queryable manifest.

Design:

* Each micro-batch b becomes generation g=b with its own micro-shard id
  space: ``doc_id = ((g*S + shard) << doc_bits) | local_idx``. Within a final
  shard, generations occupy disjoint ascending doc-id ranges, so — exactly
  like the tree merge (index/merge.py) — combining generations is a
  metadata-level concat of block rows, never a posting rewrite.
* ``append_batch`` is idempotent per generation id (checkpoint-exists skip),
  so ``foreachBatch`` retries after failure give exactly-once segments.
* BM25's global stats (N, avgdl) drift as data arrives. Posting payloads are
  immutable and store raw (tf, dl) — scores stay exact under any avgdl. Only
  the block-max pruning bound bakes avgdl in; ``finalize_stream_index``
  recomputes it as a pure column expression from the avgdl-independent
  metadata pair (max_tf, min_dl): tfnorm is increasing in tf and decreasing
  in dl, so tfnorm(max_tf, min_dl, avgdl_final) upper-bounds every posting in
  the block — no payload decode, no Python.
* Cross-generation duplicate keys are NOT resolved at append time (the
  engine cannot delete from committed segments, same as Lucene segments
  pre-merge). ``finalize_stream_index`` RESOLVES them: the configured
  resolver picks one winner per key (retain-most-recent by default) and the
  losers become tombstones — subtracted by the query kernel and validator,
  physically purged by ``compact`` (the Lucene deleted-docs lifecycle;
  reference resolves every collision before serving,
  SolrReducer.java:80-108).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from .. import fsutil
from ..index import manifest as mf
from ..index.build import build_postings, docmap_cols


def _gen_phase(gen: int) -> str:
    return f"gen_{gen}"


def _prepare_gen_docs(df: DataFrame, cfg: IndexConfig, gen: int) -> DataFrame:
    """build.prepare_docs with doc ids in generation gen's micro-shard
    namespace (micro = gen*S + shard). Root-shard routing: partitions == S,
    which routing treats as root-shard assignment (route_keys). Shares the
    fused single-exchange dedup+route+doc-id plan."""
    from ..index.build import prepare_docs
    return prepare_docs(df, cfg, cfg.shards, micro_base=gen * cfg.shards)


def append_batch(spark: SparkSession, df: DataFrame, cfg: IndexConfig,
                 index_dir: str, gen: int) -> dict:
    """Append one generation of segments. Idempotent per (index_dir, gen):
    a committed generation checkpoint short-circuits (foreachBatch replays
    after failure therefore produce each segment exactly once)."""
    from ..session import ensure_shipped

    ck = mf.read_checkpoint(index_dir, _gen_phase(gen))
    if ck is not None:
        return ck
    ensure_shipped(spark)
    fsutil.mkdirs(index_dir)

    docmap_path = os.path.join(index_dir, f"docmap_gen_{gen}")
    seg_path = os.path.join(index_dir, "segments", f"gen_{gen}")

    docs = _prepare_gen_docs(df, cfg, gen).persist()
    # prepare_docs output is already hash-clustered by shard_id — write
    # directly, no re-shuffle (same layout, one exchange fewer)
    (docmap_cols(docs, cfg)
         .write.mode("overwrite").option("compression", cfg.compression)
         .partitionBy("shard_id").parquet(docmap_path))
    agg = (spark.read.parquet(docmap_path)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("total_tokens")
                ).collect()[0])
    n_docs, total_tokens = int(agg["n_docs"]), int(agg["total_tokens"])
    if n_docs == 0:
        docs.unpersist()
        payload = {"path": None, "n_docs": 0, "total_tokens": 0, "gen": gen}
        mf.write_checkpoint(index_dir, _gen_phase(gen), payload)
        return payload

    avgdl_batch = total_tokens / n_docs  # encoding-time bound only; finalize
    # recomputes bounds from (max_tf, min_dl) with the global avgdl.
    postings = build_postings(docs, cfg, avgdl_batch, cfg.shards)
    (postings.sortWithinPartitions("term", "first_doc")
             .write.mode("overwrite")
             .option("compression", cfg.intermediate_compression)
             .partitionBy("shard_id").parquet(seg_path))
    docs.unpersist()

    # NOTE: docmap path is NOT stored (manifest._relativize only rebases the
    # 'path' key, so an absolute docmap path would break index relocation —
    # an un-finalized streaming index copied elsewhere would read the old
    # location); list_generations derives it from index_dir + gen instead.
    payload = {"path": seg_path, "gen": gen,
               "n_docs": n_docs, "total_tokens": total_tokens,
               "lineage": {"mode": "stream_append", "generation": gen,
                           "routing": f"murmur3_x86_32 % S={cfg.shards}"}}
    mf.write_checkpoint(index_dir, _gen_phase(gen), payload)
    return payload


def stream_ingest(spark: SparkSession, stream_df: DataFrame, cfg: IndexConfig,
                  index_dir: str, checkpoint_location: str, **trigger):
    """Attach the appender to a streaming transcripts DataFrame.

    Returns the started StreamingQuery. Generation id = micro-batch id, so
    Spark's offset checkpointing + append_batch's idempotence give
    exactly-once segment generations end-to-end. Example::

        q = stream_ingest(spark, spark.readStream.schema(TRANSCRIPT_SCHEMA)
                                       .parquet(landing_dir),
                          cfg, idx_dir, ckpt_dir, availableNow=True)
        q.awaitTermination()
        finalize_stream_index(spark, idx_dir, cfg)
    """
    if not trigger:
        trigger = {"processingTime": "30 seconds"}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df.sparkSession, batch_df, cfg, index_dir,
                     gen=int(batch_id))

    return (stream_df.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_location)
            .trigger(**trigger)
            .start())


def list_generations(index_dir: str) -> list[dict]:
    gens = []
    g = 0
    while True:
        ck = mf.read_checkpoint(index_dir, _gen_phase(g))
        if ck is None:
            break
        # derive per-generation docmap location (relocation-safe: both the
        # checkpoint 'path' and this are rooted at the current index_dir)
        ck = dict(ck, docmap=os.path.join(index_dir, f"docmap_gen_{g}"))
        gens.append(ck)
        g += 1
    return gens


def finalize_stream_index(spark: SparkSession, index_dir: str,
                          cfg: IndexConfig) -> dict:
    """Commit all generations as one standard queryable index.

    Metadata-level concat (no posting decode): union generation block rows,
    recompute the block-max bound from (max_tf, min_dl) under the global
    avgdl, rewrite sorted per shard; union docmaps; derive term_stats from
    block metadata. Records cross-generation duplicate-key count."""
    from ..session import ensure_shipped
    ensure_shipped(spark)

    gens = [g for g in list_generations(index_dir) if g["n_docs"] > 0]
    if not gens:
        raise ValueError(f"no generations to finalize in {index_dir}")
    n_docs = sum(g["n_docs"] for g in gens)
    total_tokens = sum(g["total_tokens"] for g in gens)
    avgdl = total_tokens / n_docs

    from functools import reduce

    def _union_reads(paths: list[str]) -> DataFrame:
        # each generation dir is independently partitioned by shard_id, so a
        # multi-path read trips CONFLICTING_DIRECTORY_STRUCTURES — union them
        return reduce(DataFrame.unionByName,
                      [spark.read.parquet(p) for p in paths])

    # --- docmap union + duplicate-key audit ---------------------------------
    # Rewrite shard_id as the doc_id-embedded micro-shard (gen*S + shard) so
    # the final docmap has the SAME partition layout as a batch build: the
    # query side prunes docmap partitions by doc_id >> doc_bits
    # (query/bm25.py run_queries), which must match the partition column.
    docmap_path = os.path.join(index_dir, "docmap")
    dm = (_union_reads([g["docmap"] for g in gens])
          .withColumn("shard_id",
                      F.shiftright("doc_id", cfg.doc_bits).cast("int")))
    (dm.repartition(cfg.shards, "shard_id")
       .write.mode("overwrite").option("compression", cfg.compression)
       .partitionBy("shard_id").parquet(docmap_path))
    # cross-generation duplicate keys: RESOLVED (not just counted) — the
    # configured resolver picks one winner per key and losers become
    # tombstones the query kernel/validator subtract and compact purges
    # (reference resolves every collision before serving,
    # SolrReducer.java:80-108)
    from ..index.merge import resolve_duplicate_keys
    tombs, dup_keys = resolve_duplicate_keys(spark, docmap_path, cfg,
                                             index_dir)

    # --- postings: concat generations, re-bound block-max, sort, commit -----
    level_path = os.path.join(index_dir, "segments", "stream_final")
    k1, b = float(cfg.k1), float(cfg.b)
    blocks = _union_reads([g["path"] for g in gens])
    mtf = F.col("max_tf").cast("double")
    bound = (mtf * F.lit(k1 + 1.0)
             / (mtf + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("min_dl").cast("double")
                                   / F.lit(avgdl))))
    (blocks.withColumn("max_tfnorm", bound)
           .repartition(cfg.shards, "shard_id")
           .sortWithinPartitions("term", "first_doc")
           .write.mode("overwrite").option("compression", cfg.compression)
           .partitionBy("shard_id").parquet(level_path))

    # --- term stats from block metadata (column-pruned scan) ----------------
    from ..index.build import write_term_stats
    term_stats_path = os.path.join(index_dir, "term_stats")
    n_terms = write_term_stats(spark, level_path, term_stats_path)

    from ..index.build import segment_metrics
    mf.write_checkpoint(index_dir, "docmap", {
        "path": docmap_path,
        "stats": {"n_docs": n_docs, "avgdl": avgdl,
                  "total_tokens": total_tokens},
        "partitions": cfg.shards})
    mf.write_checkpoint(index_dir, "term_stats",
                        {"path": term_stats_path, "n_terms": n_terms})
    level = {"level": 0, "path": level_path, "n_shards": cfg.shards,
             "segments": segment_metrics(spark, level_path),
             "lineage": {"generations": [g["gen"] for g in gens],
                         "duplicate_keys": dup_keys}}
    mf.write_checkpoint(index_dir, "level_0", level)
    stats = {"n_docs": n_docs, "avgdl": avgdl, "total_tokens": total_tokens,
             "n_terms": n_terms, "duplicate_keys": dup_keys,
             "n_tombstones": dup_keys, "n_live_docs": n_docs - dup_keys}
    return mf.write_manifest(index_dir, cfg, stats, [level],
                             input_path=f"stream:{len(gens)} generations",
                             tombstones=tombs)
