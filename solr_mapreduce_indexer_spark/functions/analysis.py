"""Text analysis chain: tokenization as Catalyst expressions.

The reference delegates analysis to Lucene analyzers declared in schema.xml
(reference: morphline/MorphlineMapRunner.java:133-143); we declare a fixed,
oracle-reproducible chain: lowercase → extract `[a-z0-9]+` runs → optional
stopword removal / min-length filter.

Implemented as *built-in* Spark SQL functions (regexp_extract_all), so the
whole analysis stage stays JVM-side inside WholeStageCodegen — no Python in
the tokenize hot path. A numpy/pandas twin (`tokenize_pandas`) exists for the
independent oracle only, and DuckDB's regexp_extract_all reproduces the same
semantics for the driver's SQL oracle.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import IndexConfig

# lowercase + ASCII word-break. MUST be dialect-portable: the same pattern
# runs under JVM regexp_extract_all (docmap doc_len), Python re (oracles) and
# DuckDB (SQL oracle), and index/fastbuild.py's byte tokenizer implements it
# as a byte-class mask. validate_index cross-checks posting Σtf against
# docmap doc_len per doc, so a divergence fails validation rather than
# silently skewing BM25 norms.
TOKEN_PATTERN = "[a-z0-9]+"


def tokenize_col(text: Column | str, cfg: IndexConfig) -> Column:
    """text → array<string> of analyzed tokens (JVM-side)."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)
    if cfg.min_token_len > 1:
        toks = F.filter(toks, lambda t: F.length(t) >= cfg.min_token_len)
    if cfg.stopwords:
        stop = F.array(*[F.lit(s) for s in cfg.stopwords])
        toks = F.filter(toks, lambda t: ~F.array_contains(stop, t))
    return toks


def tokenize_pandas(texts: pd.Series, cfg: IndexConfig) -> pd.Series:
    """Oracle twin of tokenize_col (pure pandas/re, no Spark)."""
    pat = re.compile(TOKEN_PATTERN)
    stop = set(cfg.stopwords)

    def tok(t: str) -> list[str]:
        if t is None:
            return []
        toks = pat.findall(t.lower())
        if cfg.min_token_len > 1:
            toks = [x for x in toks if len(x) >= cfg.min_token_len]
        if stop:
            toks = [x for x in toks if x not in stop]
        return toks

    return texts.map(tok)


def tokenize_sql(expr: str, cfg: IndexConfig) -> str:
    """DuckDB-compatible SQL expression producing the same token array."""
    base = f"regexp_extract_all(lower({expr}), '{TOKEN_PATTERN}')"
    if cfg.min_token_len > 1:
        base = f"list_filter({base}, t -> length(t) >= {cfg.min_token_len})"
    if cfg.stopwords:
        stoplist = ", ".join(f"'{s}'" for s in cfg.stopwords)
        base = f"list_filter({base}, t -> t NOT IN ({stoplist}))"
    return base
