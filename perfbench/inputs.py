"""Seeded input generators. Everything a workload feeds the package comes
from here, as plain pandas frames or lists built from ``--seed``; the same
seed gives byte-identical inputs.

The parameters are not invented: the transcript corpus follows the
repository's transcript fixture (FIXTURES.md sections 1 and 2), the query
classes are those of ``bench.py``'s ``make_queries``, and the documents and
embeddings reproduce properties measured on the sf0.1 ``documents`` and
``embeddings`` tables (README.md, Inputs).

Token strings are fixed width (``tok`` + 5 digits) so one join of the whole
token stream can be sliced into per-row texts without a per-row join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# FIXTURES.md section 1: a ~10k-term Zipf(s~1.1) vocabulary, 5-80 tokens a
# turn, 10 turns a conversation, ~8 tool names on tool rows
VOCAB, ZIPF_S, TURN_TOKENS, TURNS_PER_CONV = 10_000, 1.1, (5, 80), 10
TOOLS = ("bash", "python", "grep", "read", "write", "edit", "search", "fetch")
TOKEN_W = 8  # len("tok00000")
NEEDLES = ("zyzzyvanote", "quokkajoin", "xylophonic", "warpspindle")
# FIXTURES.md section 2: ~2% of keys appear 2-4 times with increasing ts
DUP_SHARE, DUP_COPIES = 0.02, (2, 4)

# bench.py make_queries: four classes in turn, rank ranges over the same
# 10k vocabulary. PHRASE takes a third of a batch: the repository's
# entry-point query set (__spark_entry__.queries) has one BM25 query per
# mode (AND, OR, PHRASE).
QUERY_CLASSES = ("head_and", "mid_or", "needle_and", "tail_absent_or")
PHRASE_SHARE = 1 / 3
ABSENT = "absentterm"

# sf0.1 documents.parquet: 5,000 documents of 10-100 tokens (uniform) over
# 30 words of about equal frequency; 0.16% exact copies; 5% near copies,
# each an earlier document with the token "dup" appended
DOC_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window")
DOC_TOKENS, DOC_EXACT_SHARE, DOC_NEAR_SHARE = (10, 100), 0.0016, 0.05
# sf0.1 embeddings.parquet: 2,000 unit-norm float32 vectors of 64 dims in
# 10 labelled clusters, centroid spread 0.071 of the within-cluster spread
EMB_DIM, EMB_CLUSTERS, EMB_CENTROID_SCALE = 64, 10, 0.071

_T0 = pd.Timestamp("2024-01-01")


def term(rank: int) -> str:
    return f"tok{rank:05d}"


def _zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def _texts(rng: np.random.Generator, n: int,
           vocab: int = VOCAB) -> list[str]:
    lens = rng.integers(TURN_TOKENS[0], TURN_TOKENS[1] + 1, size=n)
    ranks = rng.choice(vocab, size=int(lens.sum()), p=_zipf_probs(vocab))
    stream = " ".join(term(r) for r in ranks.tolist())
    ends = np.cumsum(lens) * (TOKEN_W + 1) - 1
    starts = ends - lens * (TOKEN_W + 1) + 1
    return [stream[s:e] for s, e in zip(starts.tolist(), ends.tolist())]


def transcripts(seed: int, n_turns: int, dup_share: float = DUP_SHARE,
                key_offset: int = 0, ts_offset_s: int = 0,
                vocab: int = VOCAB) -> pd.DataFrame:
    """Transcript rows in the package's TRANSCRIPT_SCHEMA column order.

    ``dup_share`` of the keys appear 2-4 times, each copy with a later
    ``ts`` and other text, so the build's dedup keeps exactly one row per
    key and the newest row wins. Every needle is planted in a few rows."""
    rng = np.random.default_rng(seed)
    n = n_turns
    texts = _texts(rng, n, vocab=vocab)
    for needle in NEEDLES:
        for row in rng.choice(n, size=max(3, n // 2000), replace=False):
            texts[row] = f"{texts[row]} {needle}"
    idx = np.arange(n) + key_offset
    conv, turn = idx // TURNS_PER_CONV, idx % TURNS_PER_CONV
    ts = _T0 + pd.to_timedelta(conv % 40_000 * 86_400 + turn * 60
                               + ts_offset_s, unit="s")
    role = turn % 3
    df = pd.DataFrame({
        "conv_id": [f"c{c:08d}" for c in conv.tolist()],
        "turn_idx": turn.astype(np.int32),
        "role": np.array(["user", "assistant", "tool"])[role],
        "text": texts,
        "tool": np.where(role == 2, np.array(TOOLS)[conv % len(TOOLS)], None),
        "ts": ts,
    })
    n_dup = int(n * dup_share)
    if n_dup:
        keys = np.sort(rng.choice(n, size=n_dup, replace=False))
        extra = rng.integers(DUP_COPIES[0] - 1, DUP_COPIES[1], size=n_dup)
        dup = df.iloc[np.repeat(keys, extra)].copy()
        dup["text"] = _texts(rng, len(dup), vocab=vocab)
        # the c-th extra copy of a key is c minutes newer than the original
        copy_no = np.concatenate([np.arange(1, e + 1) for e in extra])
        dup["ts"] = dup["ts"] + pd.to_timedelta(copy_no, unit="min") / 2
        df = pd.concat([df, dup], ignore_index=True)
    return df


def latest_per_key(df: pd.DataFrame) -> pd.DataFrame:
    """The row per (conv_id, turn_idx) a retain-most-recent build keeps."""
    return (df.sort_values(["conv_id", "turn_idx", "ts", "text"])
              .groupby(["conv_id", "turn_idx"], as_index=False).last())


def generations(seed: int, n_gens: int, turns_per_gen: int,
                resend_share: float = 0.25,
                vocab: int = VOCAB) -> list[pd.DataFrame]:
    """Stream generations. Generation 0 is all new keys; each later one
    re-sends ``resend_share`` of the keys already sent, with a newer ``ts``
    and changed text, and fills up with new keys."""
    rng = np.random.default_rng(seed)
    gens: list[pd.DataFrame] = []
    next_key = 0
    for g in range(n_gens):
        n_resend = int(turns_per_gen * resend_share) if g else 0
        new = transcripts(int(rng.integers(2**31)), turns_per_gen - n_resend,
                          dup_share=0.0, key_offset=next_key,
                          ts_offset_s=g * 3600, vocab=vocab)
        next_key += turns_per_gen - n_resend
        parts = [new]
        if n_resend:
            sent = pd.concat(gens, ignore_index=True).drop_duplicates(
                ["conv_id", "turn_idx"])
            old = sent.iloc[np.sort(rng.choice(len(sent), n_resend,
                                               replace=False))].copy()
            old["text"] = _texts(rng, n_resend, vocab=vocab)
            old["ts"] = old["ts"] + pd.Timedelta(hours=g)
            parts.append(old)
        gens.append(pd.concat(parts, ignore_index=True))
    return gens


def _rank(rng: np.random.Generator, lo: int, hi: int, vocab: int) -> str:
    """A term of Zipf rank in [lo, hi), the range cut to the vocabulary."""
    hi = min(hi, vocab)
    return term(int(rng.integers(min(lo, hi - 1), hi)))


def queries(rng: np.random.Generator, live_texts: list[str],
            n: int = 64, phrase: bool = True,
            vocab: int = VOCAB) -> list[dict]:
    """One query batch: PHRASE_SHARE of it PHRASE queries (when ``phrase``),
    the rest QUERY_CLASSES in turn, in a random order.

    Phrases are 2-3 consecutive tokens cut from a random live document, so
    every phrase query has at least one hit."""
    n_phrase = round(n * PHRASE_SHARE) if phrase else 0
    kinds = ([QUERY_CLASSES[i % 4] for i in range(n - n_phrase)]
             + ["phrase"] * n_phrase)
    out = []
    for i, kind in enumerate(rng.permutation(kinds).tolist()):
        if kind == "head_and":
            terms = [_rank(rng, 0, 20, vocab), _rank(rng, 0, 20, vocab)]
            mode = "AND"
        elif kind == "mid_or":
            terms = [_rank(rng, 20, 500, vocab), _rank(rng, 20, 500, vocab),
                     _rank(rng, 500, 2000, vocab)]
            mode = "OR"
        elif kind == "needle_and":
            terms = [NEEDLES[int(rng.integers(len(NEEDLES)))],
                     _rank(rng, 0, 50, vocab)]
            mode = "AND"
        elif kind == "tail_absent_or":
            terms, mode = [_rank(rng, 2000, 9999, vocab), ABSENT], "OR"
        else:
            toks = live_texts[int(rng.integers(len(live_texts)))].split()
            w = int(rng.integers(2, 4))
            s = int(rng.integers(0, max(1, len(toks) - w + 1)))
            terms, mode = toks[s:s + w], "PHRASE"
        out.append({"query_id": i, "terms": terms, "mode": mode, "k": 10,
                    "kind": kind})
    return out


def documents(seed: int, n_docs: int) -> tuple[pd.DataFrame, list]:
    """Documents for the dataprep operators: (doc_id, text), with sf0.1's
    lengths, vocabulary and shares of exact and near copies. Returns the
    frame and the planted near-duplicate (id_a, id_b) pairs."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, size=n_docs)
    words = np.array(DOC_WORDS)[rng.integers(len(DOC_WORDS),
                                             size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    n_exact = max(1, round(n_docs * DOC_EXACT_SHARE))
    n_near = round(n_docs * DOC_NEAR_SHARE)
    picks = rng.choice(n_docs // 2, size=n_exact + n_near, replace=False)
    targets = rng.choice(np.arange(n_docs // 2, n_docs), size=n_exact + n_near,
                         replace=False)
    planted = []
    for j, (src, dst) in enumerate(zip(picks.tolist(), targets.tolist())):
        if j < n_exact:
            texts[dst] = texts[src]
            continue
        texts[dst] = texts[src] + " dup"
        planted.append((src, dst))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                         "text": texts}), planted


def embeddings(seed: int, n_vecs: int) -> pd.DataFrame:
    """Unit-norm float32 vectors in weak clusters, as in sf0.1:
    (vec_id, embedding)."""
    rng = np.random.default_rng(seed)
    cents = EMB_CENTROID_SCALE * rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    lab = rng.integers(EMB_CLUSTERS, size=n_vecs)
    vecs = cents[lab] + rng.normal(size=(n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                         "embedding": list(vecs.astype(np.float32))})
