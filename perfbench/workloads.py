"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned, until ``seconds`` have
passed and enough operations have been measured. Correctness checks run
between operations, outside the timed region and outside set-up time.

A workload returns a dict with
  setup      {part: seconds}, summed into setup_s ("inputs_s" is the median
             of INPUT_REPS repetitions of writing the inputs)
  latencies  [(seconds, traced)] of the operation whose median is op_p50_s
  items_per_s  work items (queries, documents and vectors) completed per
             second of measured operation time
  named      the workload's named end-to-end metrics {name: (value, unit)}
  props      measured input/output properties {name: value}
  layers     per-layer metrics of the traced operations {name: value}, or a
             function of the parsed Spark event log that returns them
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

import inputs
import spans
from measure import median, tail, timed

INPUT_REPS = 2
# the transcript fixture's smoke scale (FIXTURES.md): 1k conversations x 10
QUERY_TURNS = 10_000
INGEST_GENS, INGEST_GEN_TURNS, INGEST_VOCAB = 2, 600, 100
QUERY_BATCH, INGEST_BATCH, QUERY_WARMUP = 64, 8, 2
ORACLE_SAMPLE = 3  # AND/OR queries per batch compared against the oracle
# sf0.1's documents and embeddings tables have 5,000 and 2,000 rows
DOCS, VECS, DATAPREP_WARMUP = 5_000, 2_000, 8
MIN_UNTRACED = 3  # untraced operations a run measures at least


def _pkg():
    """The package's public API, imported late so the tracer can patch it."""
    import importlib
    names = ("config", "session", "index.build", "index.merge",
             "index.manifest", "query.bm25", "query.oracle",
             "streaming.ingest", "operators.dedupe_ops",
             "operators.simsearch", "functions.textops", "sources.transcripts")
    return {n.split(".")[-1]: importlib.import_module(
        f"solr_mapreduce_indexer_spark.{n}") for n in names}


def cfg_for(**kw):
    return _pkg()["config"].IndexConfig(shards=4, reducers=32, fanout=8, **kw)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files
                     if not f.startswith("."))
    return total


def write_table(ctx, pdf: pd.DataFrame, path: str, schema=None) -> str:
    ctx.spark.createDataFrame(pdf, schema=schema).write.mode(
        "overwrite").parquet(path)
    return path


def write_inputs(ctx, make, name: str) -> tuple[float, object]:
    """Synthesize and write the inputs INPUT_REPS times; set-up time counts
    the median repetition. ``make(path)`` returns what the workload needs."""
    reps, out = [], None
    for r in range(INPUT_REPS):
        dt, out = timed(make, ctx.path(f"{name}_{r}"))
        reps.append(dt)
    return median(reps), out


def closed_loop(ctx, op) -> list[tuple[float, bool]]:
    """Run ``op(i)`` -> seconds until ctx.seconds have passed and at least
    MIN_UNTRACED untraced operations were measured. In a traced run
    every other operation is traced, so traced and untraced operations of
    the same process give the tracing overhead."""
    ops: list[tuple[float, bool]] = []
    t_end, i = time.perf_counter() + ctx.seconds, 0
    # past the deadline, give up on MIN_UNTRACED after 2 * MIN_UNTRACED
    # attempts, so an operation that keeps failing ends the run
    while (time.perf_counter() < t_end or i < 2 * MIN_UNTRACED
           and sum(not tr for _, tr in ops) < MIN_UNTRACED):
        traced = ctx.trace and i % 2 == 0
        ctx.rec.enabled = traced
        try:
            with ctx.rec.span("bench.op"):
                dt = ctx.tally.run(op, i)
        finally:
            ctx.rec.enabled = False
        if dt is not None:
            ops.append((dt, traced))
        i += 1
    return ops


def untraced(ops: list[tuple[float, bool]]) -> list[float]:
    """The untraced latencies, or all of them if every operation was traced."""
    return [t for t, tr in ops if not tr] or [t for t, _ in ops]


def subtree(spans_, root: dict) -> list[dict]:
    """Spans in root's subtree (root excluded)."""
    ids, out = {root["id"]}, []
    for s in spans_:  # parents are recorded before their children
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _sum(spans_, name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans_ if s["name"] == name)


# --- build (run in the query set-up) ------------------------------------------

def index_sizes(index_dir: str, manifest: dict) -> dict:
    segs = manifest["levels"][-1].get("segments", [])
    served = sum(int(s["payload_bytes"]) for s in segs)
    docmap = dir_bytes(os.path.join(index_dir, "docmap"))
    ts = dir_bytes(os.path.join(index_dir, "term_stats"))
    return {"blocks": sum(int(s["n_blocks"]) for s in segs),
            "payload_bytes": served, "docmap_bytes": docmap,
            "index_bytes": served + docmap + ts}


def build_layers(all_spans: list[dict]) -> dict:
    """Phase intervals of each traced build_index call, as medians over the
    traced builds. A phase ends when its checkpoint commits."""
    rows = []
    for b in (s for s in all_spans if s["name"] == "build.build_index"):
        sub = subtree(all_spans, b)
        ck = {s["phase"]: s["end"] for s in sub
              if s["name"] == "manifest.write_checkpoint"}
        l0_end = ck["level_0"]
        merge_end = max(v for k, v in ck.items()
                        if k.startswith("level_") and k != "level_0")
        segm = [(s["start"], s["end"]) for s in sub
                if s["name"] == "build.segment_metrics"]
        ts = [(s["start"], s["end"]) for s in sub
              if s["name"] == "build.write_term_stats"]
        merge = [(l0_end, merge_end)]
        rows.append({
            "build.docmap_s": ck["docmap"] - b["start"],
            "build.level0_s": (l0_end - ck["docmap"])
            - spans.overlap(segm, [(ck["docmap"], l0_end)]),
            "merge.level_s": _sum(sub, "merge.merge_level"),
            "build.segment_metrics_s": spans.covered(segm),
            "manifest.commit_s": _sum(sub, "manifest.write_checkpoint")
            + _sum(sub, "manifest.write_manifest"),
            "build.term_stats_s": spans.covered(ts),
            "build.term_stats_merge_overlap_s": spans.overlap(ts, merge),
            "build.term_stats_after_merge_s": max(
                [0.0] + [e - merge_end for _, e in ts]),
            "build.build_index_s": b["end"] - b["start"],
        })
    return {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}


def same_topk(got: pd.DataFrame, exp: pd.DataFrame, k: int) -> bool:
    """Same scores rank by rank, and the same (conv_id, turn_idx) keys;
    at a full top-k, keys tied with the k-th score may differ."""
    gs = got["score"].to_numpy(np.float64)
    es = exp["score"].to_numpy(np.float64)
    if len(gs) != len(es) or not np.allclose(gs, es, rtol=0, atol=1e-9):
        return False
    gk = list(zip(got["conv_id"], got["turn_idx"].astype(int)))
    ek = list(zip(exp["conv_id"], exp["turn_idx"].astype(int)))
    if len(gs) < k:
        return set(gk) == set(ek)
    cut = es[-1] + 1e-9
    return ({x for x, v in zip(gk, gs) if v > cut}
            == {x for x, v in zip(ek, es) if v > cut})


# --- query ---------------------------------------------------------------------

def _norm_queries(queries: list[dict]) -> list[dict]:
    """run_queries' own normalization (lower-case; AND/OR sorted + deduped),
    for the in-process shard replay."""
    return [{"query_id": int(q["query_id"]),
             "terms": ([t.lower() for t in q["terms"]] if q["mode"] == "PHRASE"
                       else sorted({t.lower() for t in q["terms"]})),
             "mode": q["mode"], "k": int(q["k"])} for q in queries]


def replay_shards(ctx, h, queries: list[dict]) -> dict:
    """Replay the batch's per-shard kernel in this process, one shard at a
    time, through the package's own direct-fetch generator (as
    tests/test_blockmax.py runs the kernel). Splits postings fetch from
    decode+score and reads the kernel's block counters."""
    Q = _pkg()["bm25"]
    norm = _norm_queries(queries)
    terms = sorted({t for q in norm for t in q["terms"]})
    dfs = Q._lookup_dfs(ctx.spark, h, terms)
    idfs = {t: Q.idf(h.n_docs, dfs.get(t, 0)) for t in terms}
    present = [t for t in terms if t in dfs]
    phrase = sorted({t for q in norm if q["mode"] == "PHRASE"
                     for t in q["terms"] if t in dfs})
    kernel = Q._score_shard_kernel(norm, idfs, h.avgdl, h.cfg.k1, h.cfg.b,
                                   tombstones_path=h.tombstones_path,
                                   doc_bits=h.cfg.doc_bits)
    shards = []
    for sid in h.shard_ids:
        acc = {"score_s": 0.0, "pos_fetch_s": 0.0, "blocks_fetched": 0,
               "payload_bytes": 0}

        def score(blocks, pos_fetch, acc=acc):
            acc["blocks_fetched"] += len(blocks)
            acc["payload_bytes"] += int(sum(
                blocks[c].map(len).sum()
                for c in ("doc_bytes", "tf_bytes", "len_bytes")))
            timed_pos = None
            if pos_fetch is not None:
                def timed_pos(term, first_docs):
                    dt, r = timed(pos_fetch, term, first_docs)
                    acc["pos_fetch_s"] += dt
                    return r
            dt, r = timed(kernel, blocks, timed_pos)
            acc["score_s"] += dt
            return r

        before = dict(Q.DECODE_STATS)
        gen = Q._direct_fetch_gen(h.postings_path, present, phrase, score)
        total_s, outs = timed(lambda: list(gen(
            [pd.DataFrame({"shard_id": [int(sid)]})])))
        acc["candidates"] = sum(len(o) for o in outs)
        delta = {k: Q.DECODE_STATS[k] - before[k] for k in before}
        # the kernel counts a position-block decode in blocks_decoded too
        acc["blocks_decoded"] = (delta["blocks_decoded"]
                                 - delta["pos_blocks_decoded"])
        acc["pos_blocks_fetched"] = delta["pos_blocks_fetched"]
        acc["score_s"] -= acc["pos_fetch_s"]
        acc["fetch_s"] = total_s - acc["score_s"]
        shards.append(acc)
    slow = max(shards, key=lambda a: a["fetch_s"] + a["score_s"])
    tot = {k: sum(a[k] for a in shards) for k in
           ("blocks_fetched", "blocks_decoded", "pos_blocks_fetched",
            "payload_bytes", "candidates")}
    return tot | {"fetch_s": slow["fetch_s"], "score_s": slow["score_s"],
                  "slowest_shard_s": slow["fetch_s"] + slow["score_s"],
                  "pruned_frac": 1 - tot["blocks_decoded"]
                  / max(1, tot["blocks_fetched"])}


class QueryRunner:
    """Runs batches through run_queries, checks them, and in traced runs
    decomposes each traced batch into its layers."""

    def __init__(self, ctx, h, oracle=None, live=None):
        self.ctx, self.h, self.oracle = ctx, h, oracle
        self.live_text = (None if live is None else dict(zip(
            zip(live["conv_id"], live["turn_idx"]), live["text"])))
        self.traced: list[dict] = []  # per traced batch: span ids + replay

    def run(self, queries: list[dict]) -> tuple[float, pd.DataFrame]:
        ctx, bm25 = self.ctx, _pkg()["bm25"]
        qs = [{k: q[k] for k in ("query_id", "terms", "mode", "k")}
              for q in queries]
        t0 = time.perf_counter()
        with ctx.rec.span("bench.query_batch") as batch:
            res = bm25.run_queries(ctx.spark, self.h, qs)
            with ctx.rec.span("bench.result_collect"):
                pdf = res.toPandas()
        dt = time.perf_counter() - t0
        if batch is not None:
            ctx.rec.enabled = False
            self.traced.append({"batch": batch["id"],
                                "replay": replay_shards(ctx, self.h, qs)})
            ctx.rec.enabled = True
        return dt, pdf

    def check(self, queries: list[dict], res: pd.DataFrame, rng) -> None:
        tally = self.ctx.tally
        by_q = {q: g for q, g in res.groupby("query_id")}
        if self.oracle is not None:
            andor = [q for q in queries if q["mode"] in ("AND", "OR")]
            for j in rng.choice(len(andor), min(ORACLE_SAMPLE, len(andor)),
                                replace=False):
                q = andor[int(j)]
                exp = self.oracle.score(q["terms"], q["mode"], q["k"])
                got = by_q.get(q["query_id"], res.iloc[:0])
                tally.check(
                    list(got["doc_id"]) == [int(d) for d in exp["doc_id"]]
                    and np.allclose(got["score"].to_numpy(np.float64),
                                    exp["score"].to_numpy(np.float64),
                                    rtol=0, atol=1e-9),
                    f"oracle mismatch on {q}")
        if self.live_text is not None:
            for q in queries:
                if q["mode"] != "PHRASE":
                    continue
                got = by_q.get(q["query_id"], res.iloc[:0])
                phrase = " " + " ".join(q["terms"]) + " "
                tally.check(len(got) > 0 and all(
                    phrase in " " + self.live_text[(c, int(t))] + " "
                    for c, t in zip(got["conv_id"], got["turn_idx"])),
                    f"PHRASE hits without the phrase: {q}")

    def layers(self, all_spans: list[dict], log: dict) -> dict:
        """Median per traced batch of each query layer."""
        if not self.traced:
            return {}
        rows = []
        for t in self.traced:
            b = all_spans[t["batch"]]
            sub = subtree(all_spans, b)
            rq = next(s for s in sub if s["name"] == "bm25.run_queries")
            rq_ids = {rq["id"]} | {s["id"] for s in subtree(all_spans, rq)}
            kernel = sum(j["end"] - j["start"] for j in log["jobs"].values()
                         if j["span"] in rq_ids and j["end"])
            lookup = _sum(sub, "bm25._lookup_dfs")
            r = t["replay"]
            rows.append({
                "query.term_stats_s": lookup,
                "query.kernel_stage_s": kernel,
                "query.rank_fetch_assemble_s":
                    (rq["end"] - rq["start"]) - lookup - kernel,
                "query.result_count_s": _sum(sub, "bench.result_collect"),
                "query.shard_fetch_s": r["fetch_s"],
                "query.shard_score_s": r["score_s"],
                "query.worker_overhead_s": kernel - r["slowest_shard_s"],
                "query.blocks_fetched": r["blocks_fetched"],
                "query.blocks_decoded": r["blocks_decoded"],
                "query.blocks_pruned_frac": r["pruned_frac"],
                "query.pos_blocks_fetched": r["pos_blocks_fetched"],
                "query.payload_bytes": r["payload_bytes"],
                "query.candidates_collected": r["candidates"],
            })
        return {k: median([r[k] for r in rows]) for k in rows[0]}


def query(ctx) -> dict:
    """64-query batches on an index built in set-up. The set-up also runs one
    streaming-ingest cycle, so the build and ingest layers are measured (and
    traced) in every query run."""
    P = _pkg()
    schema = P["transcripts"].TRANSCRIPT_SCHEMA
    cfg = cfg_for(positions=True)

    def make(path):
        pdf = inputs.transcripts(ctx.seed, QUERY_TURNS)
        return write_table(ctx, pdf, path, schema), pdf

    inputs_s, (src, pdf) = write_inputs(ctx, make, "corpus")
    stream = Stream(ctx)
    idx = ctx.path("served_idx")
    ctx.rec.enabled = ctx.trace
    index_s, m = timed(P["build"].build_index, ctx.spark,
                       ctx.spark.read.parquet(src), cfg, idx,
                       input_path=src, resume=False)
    cycle_s, _ = timed(stream.cycle, ctx.path("stream"), stream.paths)
    ctx.rec.enabled = False
    shutil.rmtree(ctx.path("stream"))
    h = P["bm25"].load_index(idx)
    live = inputs.latest_per_key(pdf)
    live_texts = live["text"].tolist()
    rng = np.random.default_rng(ctx.seed + 1)
    runner = QueryRunner(ctx, h, live=live)
    warm_s = sum(runner.run(inputs.queries(rng, live_texts, QUERY_BATCH))[0]
                 for _ in range(QUERY_WARMUP))
    # untimed and outside set-up time: the oracle and the set-up checks
    runner.oracle = P["oracle"].PandasOracle(
        pdf, shards=cfg.shards, partitions=cfg.plan_build_partitions()[0])
    ctx.tally.check(m["stats"]["n_docs"] == len(live),
                    "served index n_docs != unique keys")
    n_tokens = int(live["text"].str.count(" ").sum() + len(live))
    ctx.tally.check(m["stats"]["total_tokens"] == n_tokens,
                    "served index total_tokens != live token count")
    stream.check()
    batches, kinds = [], []

    def op(i):
        qs = inputs.queries(rng, live_texts, QUERY_BATCH)
        kinds.extend(q["kind"] for q in qs)
        dt, res = runner.run(qs)
        runner.check(qs, res, rng)
        batches.append(len(res))
        return dt

    ops = closed_loop(ctx, op)
    times = untraced(ops)
    pruned = replay_shards(ctx, h, inputs.queries(rng, live_texts,
                                                  QUERY_BATCH))["pruned_frac"]
    sizes = index_sizes(idx, m)
    text_bytes = int(live["text"].str.len().sum())
    qps = QUERY_BATCH * len(times) / sum(times)
    named = {"query_batch_p50_s": (median(times), "s"),
             "query_qps": (qps, "queries/s"),
             "build_turns_per_s": (len(pdf) / index_s, "turns/s"),
             "index_bytes_per_text_byte": (sizes["index_bytes"] / text_bytes,
                                           "ratio")}
    t = tail(times)
    if t:
        named["query_batch_tail_s"] = (t[1], f"s@p{t[0]:g},n_beyond={t[2]}")
    named |= stream.named()
    out = {"setup": {"inputs_s": inputs_s, "stream_inputs_s": stream.inputs_s,
                     "index_s": index_s, "stream_cycle_s": cycle_s,
                     "warmup_s": warm_s},
           "latencies": ops, "items_per_s": qps, "named": named,
           "props": {"corpus_turns": len(pdf), "unique_keys": len(live),
                     "duplicate_key_share": round(1 - len(live) / len(pdf), 4),
                     "text_bytes": text_bytes, **sizes,
                     "query_class_shares": {
                         k: round(kinds.count(k) / len(kinds), 4)
                         for k in inputs.QUERY_CLASSES + ("phrase",)},
                     "result_rows_per_batch": median(batches),
                     "fetched_blocks_pruned_share": round(pruned, 4),
                     **stream.props()}}
    if ctx.trace:
        out["layers"] = lambda log: (
            build_layers(ctx.rec.spans) | stream.layers(log)
            | runner.layers(ctx.rec.spans, log)
            | {"build.blocks": sizes["blocks"],
               "build.payload_bytes": sizes["payload_bytes"],
               "build.docmap_bytes": sizes["docmap_bytes"]})
    return out


# --- streaming ingest (run in the query set-up) --------------------------------

class Stream:
    """One cycle of the streaming-ingest path over seeded generations: append
    every generation, finalize (duplicates become tombstones), a small batch
    on the tombstoned index, compact, the same batch again."""

    def __init__(self, ctx):
        P = _pkg()
        self.ctx, self.P = ctx, P
        self.cfg = P["config"].IndexConfig(shards=4)
        schema = P["transcripts"].TRANSCRIPT_SCHEMA

        def make(path):
            gens = inputs.generations(ctx.seed, INGEST_GENS, INGEST_GEN_TURNS,
                                      vocab=INGEST_VOCAB)
            return [write_table(ctx, g, f"{path}/gen_{i}", schema)
                    for i, g in enumerate(gens)], gens

        self.inputs_s, (self.paths, gens) = write_inputs(ctx, make, "gens")
        # the generation that sent a key last wins it
        self.winner = {}
        for g, pdf in enumerate(gens):
            self.winner.update(
                dict.fromkeys(zip(pdf["conv_id"], pdf["turn_idx"]), g))
        self.n_sent = sum(len(g) for g in gens)
        self.n_losers = self.n_sent - len(self.winner)
        self.sent = pd.concat(gens, ignore_index=True)
        self.live_texts = inputs.latest_per_key(self.sent)["text"].tolist()
        self.rng = np.random.default_rng(ctx.seed + 2)
        self.c: dict = {}

    def cycle(self, d: str, gen_paths: list[str]) -> None:
        ctx, P, cfg, c = self.ctx, self.P, self.cfg, self.c
        c["append_s"] = 0.0
        for g, p in enumerate(gen_paths):
            dt, _ = timed(P["ingest"].append_batch, ctx.spark,
                          ctx.spark.read.parquet(p), cfg, d, g)
            c["append_s"] += dt
        c["finalize_s"], c["manifest"] = timed(
            P["ingest"].finalize_stream_index, ctx.spark, d, cfg)
        c["qs"] = inputs.queries(self.rng, self.live_texts, INGEST_BATCH,
                                 phrase=False, vocab=INGEST_VOCAB)
        c["pre_runner"] = QueryRunner(ctx, P["bm25"].load_index(d))
        c["pre_s"], c["pre"] = c["pre_runner"].run(c["qs"])
        c["compact_s"], c["compacted"] = timed(P["merge"].compact_final,
                                               ctx.spark, d)
        _, c["post"] = QueryRunner(ctx, P["bm25"].load_index(d)).run(c["qs"])

    def check(self) -> None:
        """Untimed: tombstone count, no loser returned, and the compacted
        index ranks as BM25 over the live rows does."""
        t, bits, c = self.ctx.tally, self.cfg.doc_bits, self.c
        n_t = c["manifest"]["stats"]["n_tombstones"]
        t.check(n_t == self.n_losers,
                f"tombstones {n_t} != re-sent keys {self.n_losers}")
        pre, post = c["pre"], c["post"]
        gen_of = (pre["doc_id"].to_numpy() >> bits) // self.cfg.shards
        won = [self.winner[(cv, int(ti))]
               for cv, ti in zip(pre["conv_id"], pre["turn_idx"])]
        t.check(np.array_equal(gen_of, np.asarray(won, dtype=np.int64)),
                "a tombstoned loser was returned")
        # Compaction purges the losers and with them their share of n_docs,
        # avgdl and df, so scores shift and near-ties may reorder: the
        # compacted index must rank exactly as BM25 over the live rows does,
        # and match as many documents as before compaction.
        oracle = self.P["oracle"].PandasOracle(
            self.sent, shards=self.cfg.shards, partitions=self.cfg.shards)
        for q in c["qs"]:
            a = pre[pre["query_id"] == q["query_id"]]
            b = post[post["query_id"] == q["query_id"]]
            exp = oracle.score(q["terms"], q["mode"], q["k"])
            t.check(len(a) == len(b) and same_topk(b, exp, q["k"]),
                    f"post-compact ranking != BM25 over live rows: {q}")

    def named(self) -> dict:
        c = self.c
        return {
            "ingest_turns_per_s": (self.n_sent / c["append_s"], "turns/s"),
            "ingest_finalize_s": (c["finalize_s"], "s"),
            "ingest_compact_s": (c["compact_s"], "s"),
            "ingest_query_p50_s": (c["pre_s"], "s")}

    def props(self) -> dict:
        return {"stream_generations": INGEST_GENS,
                "stream_turns_sent": self.n_sent,
                "stream_live_keys": len(self.winner),
                "stream_resent_share": round(self.n_losers / self.n_sent, 4),
                "stream_tombstones":
                    self.c["manifest"]["stats"]["n_tombstones"]}

    def layers(self, log: dict) -> dict:
        sp, c = self.ctx.rec.spans, self.c
        stats = c["manifest"]["stats"]
        segs_in = c["manifest"]["levels"][-1]["segments"]
        segs_out = c["compacted"]["levels"][-1]["segments"]
        ql = c["pre_runner"].layers(sp, log)
        return {
            "ingest.append_s": _sum(sp, "ingest.append_batch"),
            "merge.resolve_dups_s": _sum(sp, "merge.resolve_duplicate_keys"),
            "ingest.finalize_term_stats_s": sum(
                _sum(subtree(sp, f), "build.write_term_stats") for f in sp
                if f["name"] == "ingest.finalize_stream_index"),
            "merge.compact_s": _sum(sp, "merge.compact_level"),
            "merge.compact_blocks_in": sum(int(s["n_blocks"])
                                           for s in segs_in),
            "merge.compact_blocks_out": sum(int(s["n_blocks"])
                                            for s in segs_out),
            "merge.compact_bytes_rewritten": sum(int(s["payload_bytes"])
                                                 for s in segs_out),
            "tombstones.count": stats["n_tombstones"],
            "tombstones.share": stats["n_tombstones"] / stats["n_docs"],
            "ingest.query_worker_overhead_s":
                ql.get("query.worker_overhead_s", 0.0),
            "query.tomb_blocks_decoded": ql.get("query.blocks_decoded", 0),
        }


# --- dataprep ------------------------------------------------------------------

def _shingles(text: str, w: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)}


def jaccard(a: str, b: str) -> float:
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / max(1, len(x | y))


def dataprep(ctx) -> dict:
    P = _pkg()
    D, S, T = P["dedupe_ops"], P["simsearch"], P["textops"]

    def make(path):
        docs, planted = inputs.documents(ctx.seed, DOCS)
        emb = inputs.embeddings(ctx.seed, VECS)
        return (write_table(ctx, docs, f"{path}/docs"),
                write_table(ctx, emb, f"{path}/emb",
                            "vec_id long, embedding array<float>"),
                docs, emb, planted)

    inputs_s, (dp, ep, docs_pdf, emb_pdf, planted) = write_inputs(
        ctx, make, "tables")
    docs, emb = ctx.spark.read.parquet(dp), ctx.spark.read.parquet(ep)
    rng = np.random.default_rng(ctx.seed + 3)
    mat = np.stack(emb_pdf["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    n_distinct = docs_pdf["text"].nunique()
    texts = docs_pdf["text"].tolist()
    per_op: dict[str, list[float]] = {k: [] for k in (
        "exact_dedup_s", "minhash_pairs_s", "cosine_topk_s", "quality_scan_s",
        "operators.minhash_signatures_s")}

    def one_round(check: bool) -> float:
        qv = (mat[int(rng.integers(len(mat)))]
              + 0.1 * rng.normal(size=mat.shape[1])).tolist()
        t = {}
        t["exact_dedup_s"], ed = timed(lambda: D.exact_dedup(docs).toPandas())
        t["minhash_pairs_s"], mp = timed(lambda: D.minhash_lsh_pairs(
            docs, num_perm=64, bands=16, jaccard_threshold=0.5).toPandas())
        t["cosine_topk_s"], ct = timed(
            lambda: S.cosine_topk(emb, qv, k=10).toPandas())
        t["quality_scan_s"], qf = timed(
            lambda: T.quality_features(docs).toPandas())
        if ctx.rec.enabled:
            with ctx.rec.span("operators.minhash_signatures"):
                t["operators.minhash_signatures_s"], _ = timed(
                    lambda: D.minhash_signatures(docs, num_perm=64).write
                    .format("noop").mode("overwrite").save())
        for k, v in t.items():
            per_op[k].append(v)
        if check:
            _check_dataprep(ctx.tally, ed, mp, ct, qf, qv)
        return sum(v for k, v in t.items() if not k.startswith("operators."))

    def _check_dataprep(tally, ed, mp, ct, qf, qv):
        tally.check(len(ed) == n_distinct and ed["n_copies"].sum() == DOCS,
                    "exact_dedup groups != distinct texts")
        found = set(zip(mp["id_a"], mp["id_b"]))
        strong = [p for p in planted if jaccard(texts[p[0]], texts[p[1]]) >= 0.8]
        tally.check(all(p in found for p in strong),
                    "minhash missed a planted near-duplicate pair")
        tally.check(all(jaccard(texts[a], texts[b]) >= 0.2 for a, b in found),
                    "minhash returned a dissimilar pair")
        q = np.asarray(qv, dtype=np.float64)
        cos = mat @ q / (norms * np.linalg.norm(q))
        exp = np.lexsort((np.arange(len(cos)), -cos))[:10]
        # the operator squares float32 elements in float32 for the norm, so
        # its cosines agree with float64 arithmetic to ~1e-7
        tally.check(list(ct["vec_id"]) == exp.tolist() and np.allclose(
            ct["cosine"].to_numpy(), cos[exp], rtol=0, atol=1e-6),
            f"cosine_topk {list(ct['vec_id'])} {ct['cosine'].tolist()} != "
            f"brute force {exp.tolist()} {cos[exp].tolist()}")
        n_tok = docs_pdf["text"].str.count(" ").to_numpy() + 1
        qf = qf.sort_values("doc_id")
        tally.check(len(qf) == DOCS
                    and np.array_equal(qf["n_tokens"].to_numpy(), n_tok)
                    and bool(qf["quality"].between(0, 1).all()),
                    "quality_features token counts or range wrong")

    # round times fall for several rounds in a new JVM while the JIT
    # compiles the hot paths (README.md, Steadiness); set-up runs those
    warm_s = sum(one_round(check=False) for _ in range(DATAPREP_WARMUP))
    for v in per_op.values():
        v.clear()
    ops = closed_loop(ctx, lambda i: one_round(check=True))
    named = {k: (median(v), "s") for k, v in per_op.items()
             if v and not k.startswith("operators.")}
    rounds = untraced(ops)
    out = {"setup": {"inputs_s": inputs_s, "warmup_s": warm_s},
           "latencies": ops, "named": named,
           # three operators read every document, one every vector
           "items_per_s": (3 * DOCS + VECS) * len(rounds) / sum(rounds),
           "props": {"documents": DOCS, "vectors": VECS,
                     "distinct_texts": int(n_distinct),
                     "planted_near_dup_pairs": len(planted)}}
    if ctx.trace:
        out["layers"] = {"operators.minhash_signatures_s": median(
            per_op["operators.minhash_signatures_s"])}
    return out


WORKLOADS = {"query": query, "dataprep": dataprep}
