"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


GENERATORS = {
    "transcripts": lambda s: inputs.transcripts(s, 2_000),
    "generations": lambda s: pd.concat(inputs.generations(s, 3, 300, vocab=200)),
    "documents": lambda s: inputs.documents(s, 500)[0],
    "embeddings": lambda s: inputs.embeddings(s, 200).assign(
        embedding=lambda d: d["embedding"].map(lambda v: v.tobytes())),
    "queries": lambda s: pd.DataFrame(inputs.queries(
        np.random.default_rng(s), inputs.transcripts(s, 500)["text"].tolist())
    ).assign(terms=lambda d: d["terms"].map(" ".join)),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generators_are_deterministic_per_seed(name):
    gen = GENERATORS[name]
    assert gen(7).equals(gen(7))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generators_differ_across_seeds(name):
    gen = GENERATORS[name]
    assert not gen(7).equals(gen(8))


def test_transcripts_duplicates_resolve_to_the_newest_row():
    df = inputs.transcripts(3, 1_000, dup_share=0.05)
    copies = df.groupby(["conv_id", "turn_idx"]).size()
    assert len(copies) == 1_000 and (copies > 1).sum() == 50
    assert copies.max() <= inputs.DUP_COPIES[1]
    live = inputs.latest_per_key(df)
    assert len(live) == 1_000
    # every copy of a key has its own ts, so the newest row is unambiguous
    assert df.groupby(["conv_id", "turn_idx"])["ts"].nunique().eq(copies).all()
    newest = df.sort_values("ts").groupby(["conv_id", "turn_idx"]).last()
    for key in copies[copies > 1].index:
        row = live[(live["conv_id"] == key[0]) & (live["turn_idx"] == key[1])]
        assert row["text"].iloc[0] == newest.loc[key, "text"]


def test_generations_resend_earlier_keys_with_newer_ts():
    gens = inputs.generations(5, 3, 400, resend_share=0.25, vocab=100)
    seen: dict = {}
    for g, pdf in enumerate(gens):
        keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
        assert len(set(keys)) == len(keys)  # no duplicate within a generation
        old = [k for k in keys if k in seen]
        assert len(old) == (0 if g == 0 else 100)
        ts = dict(zip(keys, pdf["ts"]))
        assert all(ts[k] > seen[k] for k in old)
        seen.update(ts)


def test_query_mix_shares_and_phrases_come_from_live_text():
    texts = inputs.transcripts(1, 500)["text"].tolist()
    qs = inputs.queries(np.random.default_rng(0), texts, 64)
    assert len(qs) == 64
    counts = {k: sum(q["kind"] == k for q in qs)
              for k in inputs.QUERY_CLASSES + ("phrase",)}
    # a third PHRASE, the rest bench.py's four classes in turn
    assert counts == {"head_and": 11, "mid_or": 11, "needle_and": 11,
                      "tail_absent_or": 10, "phrase": 21}
    for q in qs:
        if q["mode"] == "PHRASE":
            assert any(" ".join(q["terms"]) in t for t in texts)
    small = inputs.queries(np.random.default_rng(0), texts, 8, phrase=False,
                           vocab=200)
    assert len(small) == 8 and all(q["mode"] != "PHRASE" for q in small)
    assert all(int(t[3:]) < 200 for q in small for t in q["terms"]
               if t.startswith("tok"))


def test_documents_and_embeddings_have_the_sf01_shape():
    docs, planted = inputs.documents(4, 5_000)
    n_tok = docs["text"].str.count(" ") + 1
    assert n_tok.min() >= 10 and n_tok.max() <= 101
    assert len(docs) - docs["text"].nunique() == 8  # 0.16% exact copies
    assert len(planted) == 250  # 5% near copies
    assert all(docs["text"][b] == docs["text"][a] + " dup" for a, b in planted)
    vecs = np.stack(inputs.embeddings(4, 2_000)["embedding"].to_numpy())
    assert vecs.shape == (2_000, 64) and vecs.dtype == np.float32
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1, atol=1e-6)


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))  # 100 samples
    p, value, beyond = measure.tail(xs)
    assert (p, value, beyond) == (90.0, 90, 10)
    p, value, beyond = measure.tail(list(range(1, 1001)))
    assert (p, value, beyond) == (99.0, 990, 10)
    p, value, beyond = measure.tail(list(range(1, 21)))
    assert (p, value, beyond) == (50.0, 10, 10)
    assert measure.tail(list(range(1, 20))) is None


def test_tally_counts_failures_against_attempts():
    t = measure.Tally()
    assert t.run(lambda: 5) == 5
    assert t.run(lambda: 1 / 0) is None
    assert t.check(True, "fine") and not t.check(False, "broken")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert "ZeroDivisionError" in t.errors[0] and "broken" in t.errors[1]


def test_interval_arithmetic():
    assert spans.union([(0, 2), (1, 3), (5, 6)]) == [(0, 3), (5, 6)]
    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.overlap([(0, 4)], [(3, 10), (1, 2)]) == 2
    parent = {"id": 0, "parent": None, "start": 0.0, "end": 10.0}
    kids = [{"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
            {"id": 3, "parent": 1, "start": 1.0, "end": 2.0}]
    assert spans.self_time(parent, [parent] + kids) == 6.0


def test_recorder_nests_spans_and_stays_off_when_disabled():
    rec = spans.Recorder("t")
    with rec.span("off") as s:
        assert s is None
    rec.enabled = True
    with rec.span("a"):
        with rec.span("b", phase="x"):
            pass
    a, b = rec.spans
    assert (a["parent"], b["parent"], b["phase"]) == (None, a["id"], "x")
    assert a["start"] <= b["start"] <= b["end"] <= a["end"]
    sub = workloads.subtree(rec.spans, a)
    assert [s["name"] for s in sub] == ["b"]


def test_threads_started_in_a_span_are_its_children():
    import threading
    rec = spans.Recorder("t")
    rec.enabled = True
    orig = threading.Thread.start

    def child():
        with rec.span("child"):
            pass

    rec.patch_threads()
    try:
        with rec.span("parent"):
            with rec.span("sibling"):
                pass
            t = threading.Thread(target=child)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    finally:
        rec.unpatch()
    assert threading.Thread.start is orig
    parent, _, kid = rec.spans
    assert kid["name"] == "child" and kid["parent"] == parent["id"]


def test_event_log_attributes_stages_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {spans.SPAN_PROPERTY: "3"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "Submission Time": 1000,
            "Completion Time": 1500, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1200},
                {"Name": "internal.metrics.shuffle.write.bytesWritten",
                 "Value": 300}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 1, "Accumulables": [
                {"Name": "internal.metrics.diskBytesSpilled", "Value": 7}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ]
    (tmp_path / "local-1").write_text("\n".join(map(json.dumps, events)))
    log = spans.read_event_log(str(tmp_path))
    assert log["jobs"][0] == {"span": 3, "start": 1.0, "end": 2.0,
                              "stages": [0, 1]}
    assert log["jobs"][1]["span"] is None
    mine = spans.spark_totals(log, {3})
    # stage 1 never completed (skipped): it counts for neither
    assert mine == {"jobs": 1, "stages": 1, "tasks": 4, "task_time_s": 1.2,
                    "shuffle_write_bytes": 300, "spill_bytes": 0}
    assert spans.spark_totals(log)["spill_bytes"] == 7


def test_same_topk_allows_reordered_ties_only_at_the_cut():
    exp = pd.DataFrame({"conv_id": ["a", "b", "c"], "turn_idx": [0, 0, 0],
                        "score": [3.0, 2.0, 2.0]})
    tie = exp.assign(conv_id=["a", "c", "d"])
    assert workloads.same_topk(tie, exp, k=3)
    assert not workloads.same_topk(tie, exp, k=4)  # not full: sets must match
    assert not workloads.same_topk(exp.assign(conv_id=["z", "b", "c"]), exp, 3)
    assert not workloads.same_topk(exp.assign(score=[3.0, 2.0, 1.0]), exp, 3)
