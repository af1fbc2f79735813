"""Corpus-relative token-rarity scoring — a CCNet-style perplexity proxy
(reference scope: the lakehouse's quality-gate tier,
/root/reference/pipelines/silver/transform_local.py stage map; this operator
extends the same curation tier with corpus-statistics-based quality
bucketing, the standard step between per-doc heuristics and model-based
filters in LLM training-data pipelines).

CCNet (Wenzek et al., 2020) buckets documents into head/middle/tail by
language-model perplexity. Without a language model in the engine, the
standard proxy is corpus-level token document frequency: documents made of
tokens that appear in few other documents score "rare" (tail — often noise,
boilerplate-free spam, or genuinely novel text worth inspecting), documents
of broadly-shared vocabulary score "common" (head). The per-occurrence
surprisal proxy is the scaled integer ``scale // df(token)`` so every score
is exact integer arithmetic — reproducible bit-for-bit in any engine (the
oracle-parity pattern used across this repo's quality signals).

Scale design (100 TB corpus):
- The vocabulary (token → document frequency) is built with one
  explode + per-doc ``array_distinct`` (map-side) + hash aggregate; the
  shuffle carries (token, partial count) pairs, never text. Word-level
  vocabularies are heavy-tailed but bounded (≪ corpus size).
- Scoring joins token occurrences against the vocabulary. The vocabulary
  is always BROADCAST, so the corpus side never shuffles — and the
  per-doc aggregation that follows combines map-side (explode preserves
  row locality), putting one (doc, k, rarity_sum) row per document into
  the shuffle. Precondition: the vocabulary fits a broadcast relation. A
  shuffle join on ``tok`` would skew on stopword-grade tokens anyway; a
  vocabulary past that size should be pruned at the head first (df above
  a floor contributes weight 0 at ``scale // df`` granularity).
- Head/tail assignment compares each doc's mean against CORPUS-relative
  bounds as cross-multiplied integers (no floating division, no global
  sort): the one-row corpus aggregate broadcasts, and at 100 TB the same
  comparison works against approx-quantile boundaries instead of the mean
  — the comparison stays a scan-local filter either way.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from creatorops_lakehouse_spark.operators.text import _idiv, tokens

#: surprisal scale: weight(token) = RARITY_SCALE // df(token); a token seen
#: in every doc of a 1M-doc corpus still contributes weight 1 at 1e6.
RARITY_SCALE = 1_000_000


def token_doc_freq(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(tok, df): in how many documents each token appears.

    ``array_distinct`` runs per row BEFORE the explode, so each document
    contributes each token once and the aggregate is a plain COUNT — no
    countDistinct shuffle of (tok, doc_id) pairs."""
    return (
        corpus.select(
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def rarity_scores(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = RARITY_SCALE,
) -> DataFrame:
    """Per-document rarity: (id_col, n_tokens, rarity_sum, rarity_mean_c).

    rarity_sum  = Σ_occurrences scale // df(token)   (exact integer)
    rarity_mean_c = rarity_sum // n_tokens           (exact integer)

    Documents with zero tokens carry no rarity evidence and are omitted
    (they are the length gate's job, not the rarity gate's)."""
    vocab = F.broadcast(
        token_doc_freq(corpus, text_col, id_col).select(
            "tok", _idiv(F.lit(scale), F.col("df")).alias("w")
        )
    )
    occurrences = corpus.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    scored = (
        occurrences.join(vocab, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("rarity_sum"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        "rarity_sum",
        _idiv(F.col("rarity_sum"), F.col("n_tokens")).alias("rarity_mean_c"),
    )


def rarity_buckets(
    scored: DataFrame,
    id_col: str = "doc_id",
    tail_mult: int = 2,
) -> DataFrame:
    """CCNet-style head/middle/tail assignment, corpus-relative and exact:

    - tail: rarity_mean_c ≥ tail_mult × corpus mean of rarity_mean_c,
    - head: rarity_mean_c ≤ corpus mean,
    - middle: otherwise.

    Both comparisons are cross-multiplied integers
    (mean_c × n_docs  vs  k × Σ mean_c), so no floating-point division ever
    happens — any engine agrees on every boundary doc. The corpus aggregate
    is one row (broadcast join); at 100 TB swap the mean bounds for
    approx-quantile bounds without changing the comparison shape.

    ``scored`` is consumed twice (the corpus aggregate and the per-doc
    bucket projection), so it is scope-persisted — without it the whole
    vocabulary-join subtree re-executes for the one-row aggregate."""
    from creatorops_lakehouse_spark.operators.cache import scoped_persist

    scored = scoped_persist(scored)
    totals = scored.agg(
        F.count(F.lit(1)).alias("_n_total"),
        F.sum("rarity_mean_c").alias("_sum_mean"),
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        id_col,
        "n_tokens",
        "rarity_sum",
        "rarity_mean_c",
        F.when(
            F.col("rarity_mean_c") * F.col("_n_total")
            >= tail_mult * F.col("_sum_mean"),
            F.lit("tail"),
        )
        .when(
            F.col("rarity_mean_c") * F.col("_n_total") <= F.col("_sum_mean"),
            F.lit("head"),
        )
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )
