"""CLI surface (reference tool parity: MapReduceIndexerTool / IndexMergeTool /
read-back validation, SolrRecordWriter.java:301-317) + compact equivalence."""

import json
import os

import pytest

from solr_mapreduce_indexer_spark.cli import main
from solr_mapreduce_indexer_spark.index.merge import compact_final
from solr_mapreduce_indexer_spark.index.validate import validate_index
from solr_mapreduce_indexer_spark.query.bm25 import bm25_topk, load_index
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, synth_transcripts_pandas)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    src = str(root / "tr")
    idx = str(root / "idx")
    pdf = synth_transcripts_pandas(n_convs=150, turns_per_conv=8,
                                   vocab_size=1500, seed=7)
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA) \
         .write.mode("overwrite").parquet(src)
    rc = main(["build", "--input", src, "--output-dir", idx,
               "--shards", "2", "--reducers", "8", "--fanout", "2"])
    assert rc == 0
    return idx


def test_cli_build_produces_manifest(built):
    assert os.path.exists(os.path.join(built, "manifest.json"))
    with open(os.path.join(built, "manifest.json")) as f:
        m = json.load(f)
    assert m["shards"] == 2 and m["final_level"] == 2


def test_cli_merge_resumes_noop(built):
    assert main(["merge", "--index-dir", built]) == 0


def test_cli_query_runs(built, capsys):
    rc = main(["query", "--index-dir", built, "--terms", "tok00001",
               "--mode", "OR", "-k", "3"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert [l["rank"] for l in lines] == list(range(1, len(lines) + 1))


def test_validate_ok(spark, built):
    report = validate_index(spark, built)
    assert report["ok"], report


def test_compact_preserves_results_and_validates(spark, built):
    h0 = load_index(built)
    before = [(r["doc_id"], round(r["score"], 9))
              for r in bm25_topk(spark, h0, ["tok00000", "tok00003"],
                                 k=10, mode="OR").collect()]
    compact_final(spark, built)
    h1 = load_index(built)
    assert h1.postings_path.endswith("_compact")
    after = [(r["doc_id"], round(r["score"], 9))
             for r in bm25_topk(spark, h1, ["tok00000", "tok00003"],
                                k=10, mode="OR").collect()]
    assert before == after
    assert validate_index(spark, built)["ok"]


def test_validate_catches_corruption(spark, built, tmp_path):
    """Flip payload bytes in one block → validator must flag it (the
    reference fails the task when the read-back open fails)."""
    import shutil

    import numpy as np
    import pandas as pd

    bad = str(tmp_path / "bad_idx")
    shutil.copytree(built, bad)
    final = load_index(bad).postings_path
    assert final.startswith(bad)  # manifest paths rebase: index is relocatable
    # corrupt one parquet file's first block row: perturb doc_bytes payload
    part = None
    for dirpath, _d, files in os.walk(final):
        for fn in files:
            if fn.endswith(".parquet"):
                part = os.path.join(dirpath, fn)
                break
        if part:
            break
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(part)
    payloads = tbl.column("tf_bytes").to_pylist()
    b = bytearray(payloads[0])
    # FOR layout: tag(1) nbits(1) count(2) then the packed bits, MSB-first
    # per byte, values LSB-first — 0x80 of byte 4 is the first tf's low
    # bit. Flipping it keeps the header (and so the stream) decodable, but
    # tf/sum_tf/cf no longer match the block metadata.
    assert b[0] == 1
    b[4] ^= 0x80
    payloads[0] = bytes(b)
    i = tbl.schema.get_field_index("tf_bytes")
    tbl = tbl.set_column(i, tbl.schema.field(i),
                         pa.array(payloads, type=tbl.schema.field(i).type))
    pq.write_table(tbl, part)
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # stale Hadoop checksum sidecar from the original write
    report = validate_index(spark, bad)
    assert not report["ok"]
    assert report["n_block_errors"] >= 1 and report["df_cf_mismatches"] >= 1
    assert any("sum_tf mismatch" in e for e in report["block_errors"]), report
    assert not any("decode failed" in e for e in report["block_errors"])


def test_index_with_retired_config_keys_loads(spark, built, tmp_path):
    """Manifests written before posting_codec/chunk_bits/token_pattern left
    IndexConfig carry those keys; such an index loads and serves the same
    results."""
    import shutil

    old = str(tmp_path / "old_idx")
    shutil.copytree(built, old)
    path = os.path.join(old, "manifest.json")
    with open(path) as f:
        m = json.load(f)
    m["config"].update(posting_codec="for", chunk_bits=18,
                       token_pattern="[a-z0-9]+")
    with open(path, "w") as f:
        json.dump(m, f)
    terms = ["tok00000", "tok00003"]

    def top(idx):
        return [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, load_index(idx), terms, k=10,
                          mode="OR").collect()]

    assert load_index(old).cfg == load_index(built).cfg
    assert top(old) == top(built)


def test_cli_dry_run_prints_docs(built, tmp_path, capsys):
    """Reference --dry-run analog (MorphlineEnabledIndexerTool.java:186-200):
    prints prepared documents, builds nothing."""
    src = os.path.join(os.path.dirname(built), "tr")
    out = str(tmp_path / "dry_idx")
    rc = main(["build", "--input", src, "--output-dir", out,
               "--shards", "2", "--dry-run", "--dry-run-rows", "5"])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "conv_id" in printed and "doc_id" in printed
    assert not os.path.exists(os.path.join(out, "manifest.json"))


def test_cli_build_with_set_overrides(spark, tmp_path, capsys):
    """--set FIELD=VALUE forces the value onto every doc before indexing
    (MorphlineMapRunner.java:84-93)."""
    src = str(tmp_path / "tr")
    idx = str(tmp_path / "idx")
    pdf = synth_transcripts_pandas(n_convs=20, turns_per_conv=4,
                                   vocab_size=200, seed=3)
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA) \
         .write.mode("overwrite").parquet(src)
    rc = main(["build", "--input", src, "--output-dir", idx,
               "--shards", "2", "--set", "role=assistant"])
    assert rc == 0
    dm = spark.read.parquet(os.path.join(idx, "docmap"))
    assert dm.select("role").distinct().collect() == [("assistant",)] or \
        [r["role"] for r in dm.select("role").distinct().collect()] == ["assistant"]


def test_cli_publish_verb(built, tmp_path, capsys):
    serving = str(tmp_path / "serving")
    rc = main(["publish", "--index-dir", built, "--serving-dir", serving])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["published"] is True
    assert os.path.islink(os.path.join(serving, "current"))
