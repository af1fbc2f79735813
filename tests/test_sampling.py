"""Deterministic sampling/splitting: engine-portable hash buckets, split
stability under corpus growth, per-group sample reproducibility."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from creatorops_lakehouse_spark.operators.sampling import (
    deterministic_sample,
    hash_bucket,
    per_group_sample,
    stratified_split,
)


def _expected_bucket(key: int, n: int = 10_000) -> int:
    return int(hashlib.sha256(str(key).encode()).hexdigest()[:8], 16) % n


def test_hash_bucket_matches_python_sha256(spark):
    df = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: r.b
        for r in df.select("doc_id", hash_bucket(F.col("doc_id")).alias("b")).collect()
    }
    assert got == {i: _expected_bucket(i) for i in range(50)}


def test_split_stable_under_corpus_growth(spark):
    splits = {"train": 0.9, "eval": 0.05, "test": 0.05}
    small = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    big = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    s_small = {
        r.doc_id: r.split for r in stratified_split(small, "doc_id", splits).collect()
    }
    s_big = {
        r.doc_id: r.split for r in stratified_split(big, "doc_id", splits).collect()
    }
    # every doc keeps its split when 10x more docs arrive
    assert all(s_big[k] == v for k, v in s_small.items())
    # fractions roughly honored at 2000 docs
    from collections import Counter

    c = Counter(s_big.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert c["train"] + c["eval"] + c["test"] == 2000


def test_deterministic_sample_is_subset_filter(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    s1 = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.2).collect()}
    s2 = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.2).collect()}
    assert s1 == s2  # rerun-stable
    assert 0.15 < len(s1) / 1000 < 0.25
    # nested: a 10% sample is a subset of the 20% sample (threshold filter)
    s10 = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.1).collect()}
    assert s10 <= s1


def test_per_group_sample_exact_k_and_stable(spark):
    rows = [(i, f"g{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    s1 = sorted(
        (r.grp, r.doc_id) for r in per_group_sample(df, "grp", "doc_id", 10).collect()
    )
    s2 = sorted(
        (r.grp, r.doc_id) for r in per_group_sample(df, "grp", "doc_id", 10).collect()
    )
    assert s1 == s2
    from collections import Counter

    assert Counter(g for g, _ in s1) == {f"g{i}": 10 for i in range(4)}


# ---- mixture reweighting ----------------------------------------------


def test_mixture_targets_exact_arithmetic():
    from creatorops_lakehouse_spark.operators.mixing import mixture_targets

    counts = {"en": 218, "de": 70, "es": 73, "fr": 64, "zh": 75}
    weights = {"en": 4000, "de": 1500, "es": 1500, "fr": 1500, "zh": 1500}
    # T = min(218*1e4//4000, 70*1e4//1500, 73*.., 64*.., 75*..) = 426 (fr binds)
    k = mixture_targets(counts, weights)
    assert k == {"en": 170, "de": 63, "es": 63, "fr": 63, "zh": 63}


def test_mixture_targets_rejects_bad_weights():
    import pytest as _pytest

    from creatorops_lakehouse_spark.operators.mixing import mixture_targets

    with _pytest.raises(ValueError, match="sum to 10000"):
        mixture_targets({"en": 10}, {"en": 9999})
    with _pytest.raises(ValueError, match="absent"):
        mixture_targets({"en": 10}, {"en": 5000, "xx": 5000})


def test_mixture_sample_counts_and_determinism(spark):
    from creatorops_lakehouse_spark.operators.mixing import mixture_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 3 == 0 else "b") for i in range(90)],
        "doc_id long, grp string",
    )
    # counts: a=30, b=60; weights 50/50 -> T=min(30*2,60*2)=60, k=30 each
    out = mixture_sample(df, "grp", "doc_id", {"a": 5000, "b": 5000})
    got = {r[0]: r[1] for r in out.groupBy("grp").count().collect()}
    assert got == {"a": 30, "b": 30}
    # deterministic: same membership on re-run
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(
        r.doc_id
        for r in mixture_sample(df, "grp", "doc_id", {"a": 5000, "b": 5000}).collect()
    )
    assert ids1 == ids2
    # unweighted groups drop entirely
    out2 = mixture_sample(df, "grp", "doc_id", {"a": 10000})
    assert {r.grp for r in out2.collect()} == {"a"}


def test_dsir_scores_separate_target_from_offtarget(spark):
    """Docs sharing the target slice's bigrams must outscore docs with
    off-target bigrams; empty/one-token docs score 0 and are rejected."""
    import pyspark.sql.functions as F

    from creatorops_lakehouse_spark.operators.dsir import (
        importance_resample,
        importance_scores,
    )

    rows = [
        # target slice: English-ish bigram profile
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox sleeps under the old tree", "en"),
        # raw docs: one matching the target profile, one disjoint
        (3, "the quick brown fox jumps over the lazy dog", "xx"),
        (4, "zork blut krem flup zork blut krem flup wibble", "xx"),
        (5, "solo", "xx"),  # 1 token → no bigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    scores = importance_scores(df, is_target=F.col("lang") == "en")
    out = {r.doc_id: r for r in importance_resample(scores).collect()}
    assert out[3].score_scaled > out[4].score_scaled
    assert out[5].n_bigrams == 0 and out[5].score_scaled == 0
    assert out[5].accepted is False
    # target-profile docs must clearly outscore disjoint-bigram docs
    # (absolute values depend on the Laplace floor, large in a tiny
    # corpus — only the ordering and the gap are contract)
    assert out[3].score_scaled > 1.5 * out[4].score_scaled


def test_dsir_acceptance_is_deterministic(spark):
    """Same corpus → identical accept set across two evaluations."""
    import pyspark.sql.functions as F

    from creatorops_lakehouse_spark.operators.dsir import (
        importance_resample,
        importance_scores,
    )

    rows = [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7}", "en" if i % 3 == 0 else "xx") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    def run():
        s = importance_scores(df, is_target=F.col("lang") == "en")
        return sorted(
            (r.doc_id, r.accepted) for r in importance_resample(s).collect()
        )

    assert run() == run()


def test_guards_raise_value_error(spark):
    # ValueError, not assert: the guards must survive ``python -O``
    import pytest

    from creatorops_lakehouse_spark.operators.sampling import (
        epoch_orders,
        split_column,
    )

    with pytest.raises(ValueError, match="sum to"):
        split_column(F.col("doc_id"), {"train": 0.8, "eval": 0.3})
    df = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="already has 'epoch'"):
        epoch_orders(df.withColumn("epoch", F.lit(0)), "doc_id", [0])
    with pytest.raises(ValueError, match="empty epoch list"):
        epoch_orders(df, "doc_id", [])


def test_epoch_order_permutes_differently_but_reproducibly(spark):
    from creatorops_lakehouse_spark.operators.sampling import epoch_order

    df = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])

    def order(epoch):
        return [
            r.doc_id
            for r in epoch_order(df, "doc_id", epoch)
            .orderBy("epoch_pos")
            .collect()
        ]

    e0, e0b, e1 = order(0), order(0), order(1)
    assert e0 == e0b  # reproducible
    assert e0 != e1  # epochs differ
    assert sorted(e0) == sorted(e1) == list(range(100))  # true permutations
    assert e0 != list(range(100))  # actually shuffled


def test_distributed_global_rank_matches_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from creatorops_lakehouse_spark.operators.sampling import (
        distributed_global_rank,
    )

    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("v")
    )
    ranked, n = distributed_global_rank(
        df, [F.col("v").asc(), F.col("id").asc()], rank_col="rk"
    )
    assert n == 500
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = {
        (r.id, r.rk)
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {(r.id, r.rk) for r in ranked.collect()}
    assert got == want
