"""Scale rehearsal: validate that the dedup/similarity suite's cost model
holds beyond the bench scale (VERDICT r1 item 8).

Synthesizes a 10× corpus from sf0.1 (50k documents / 20k embeddings) under
.scale/ (gitignored), then times the suite at sf0.1 and at 10× and reports
the observed scaling ratio per operator. Perturbation design:

- documents: 10 copies; copy k replaces every 4th token with a
  copy-specific token, so cross-copy Jaccard lands well below the 0.5/0.6
  thresholds — the original near-dup structure is preserved ×10 without
  manufacturing a quadratic pair explosion, while posting-list density
  (the real scale risk of inverted-index joins) grows 10×.
- embeddings: 10 copies with deterministic per-element hash noise in
  [−0.01, 0.01) — near-dup pairs stay within copies, bucket occupancy ×10.

    python tools/scale_rehearsal.py [--skip-gen] [--copies=N] [--only=substr]

``--copies=100`` is the two-decades spot-check (VERDICT r4 next-round #6):
same perturbation design, written to .scale100/, id offsets spaced so 100
copies never collide. Synthesis is a crossJoin against spark.range(N) —
one distributed plan regardless of N, not an N-way union.
"""

from __future__ import annotations

import os
import sys
import time

import pyspark.sql.functions as F

SF_DIR = "/root/testdata/sf0.1"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COPIES = 10


def scale_dir(copies: int) -> str:
    return os.path.join(_REPO, ".scale" if copies == 10 else f".scale{copies}")


def synthesize(spark, copies: int = COPIES) -> None:
    out = scale_dir(copies)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ks = spark.range(copies).select(F.col("id").alias("_k"))
    toks = F.split(F.lower(F.col("text")), "[^a-z0-9]+")
    # copy k replaces every 4th token with a copy-specific token (k=0 is
    # the original corpus, byte-identical)
    pert = F.transform(
        toks,
        lambda t, i: F.when(
            i % 4 == 0,
            F.concat(F.lit("v"), F.col("_k").cast("string"), F.lit("x"), i.cast("string")),
        ).otherwise(t),
    )
    scaled = docs.crossJoin(ks).select(
        (F.col("doc_id") + F.col("_k") * F.lit(1_000_000)).alias("doc_id"),
        F.when(F.col("_k") == 0, F.col("text"))
        .otherwise(F.array_join(pert, " "))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    scaled.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    noisy = F.transform(
        F.col("embedding"),
        lambda x, i: (
            x.cast("double")
            + F.pmod(
                F.xxhash64(
                    F.col("vec_id") * F.lit(997) + i * F.lit(13) + F.col("_k")
                ),
                F.lit(1000),
            ).cast("double")
            / F.lit(50_000.0)
            - F.lit(0.01)
        ).cast("float"),
    )
    escaled = emb.crossJoin(ks).select(
        (F.col("vec_id") + F.col("_k") * F.lit(1_000_000)).alias("vec_id"),
        F.when(F.col("_k") == 0, F.col("embedding")).otherwise(noisy).alias("embedding"),
        "label",
    )
    escaled.repartition(8).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def suite(spark, docs, emb, ddir=None):
    """(name, thunk) pairs over the given tables. ``ddir`` lets entries
    invoke registered queries (they only need documents/embeddings, which
    the synthesized corpus provides)."""
    from creatorops_lakehouse_spark.operators.decontam import ngram_contamination
    from creatorops_lakehouse_spark.operators.dedup import (
        connected_components,
        duplicate_clusters,
        fingerprint_clusters,
        jaccard_pairs,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from creatorops_lakehouse_spark.operators.sampling import per_group_sample
    from creatorops_lakehouse_spark.operators.similarity import (
        ann_lsh_topk,
        embedding_neardup_pairs,
    )

    from creatorops_lakehouse_spark.operators.decontam import (
        embedding_contamination,
    )
    from creatorops_lakehouse_spark.operators.rarity import (
        rarity_buckets,
        rarity_scores,
    )

    q = emb.filter(F.col("vec_id") % F.lit(1_000_000) < 8)
    # deterministic ~1% eval slice for decontamination (same rule at both
    # scales, so the broadcast side grows with the corpus — the honest case)
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    # deterministic 10% eval slice for embedding decontamination — the
    # collected eval matrix grows with the corpus (200 → 2000 vectors),
    # stressing the closure-broadcast path the operator relies on
    eval_emb = emb.filter(F.col("vec_id") % F.lit(10) == 0)
    corpus_emb = emb.filter(F.col("vec_id") % F.lit(10) != 0)

    def _cc():
        pairs = jaccard_pairs(
            docs, threshold=0.6, ngram=3, prefix_filter=False
        ).select("a_id", "b_id")
        return connected_components(pairs).count()

    def _semantic_pairs(e):
        # same sizing as the registered query: k tracks the corpus for
        # constant cell occupancy, one Lloyd pass, nprobe=3
        from creatorops_lakehouse_spark.operators.similarity import (
            semantic_dedup_pairs,
            train_ivf_centroids,
        )

        k = max(8, e.count() // 50)
        cents = train_ivf_centroids(e, k=k, iters=1, dim=64, sample_mod=5)
        return semantic_dedup_pairs(e, cents, threshold=0.45, nprobe=3).count()

    return [
        (
            "decontam_5gram",
            lambda: ngram_contamination(docs, eval_docs, n=5).count(),
        ),
        (
            "emb_decontam_0.4",
            lambda: embedding_contamination(
                corpus_emb, eval_emb, threshold=0.4
            ).count(),
        ),
        (
            "semantic_dedup_pairs_0.45",
            lambda: _semantic_pairs(emb),
        ),
        (
            "token_rarity_buckets",
            lambda: rarity_buckets(rarity_scores(docs)).count(),
        ),
        ("dedup_clusters_cc", _cc),
        (
            "per_group_sample_k50",
            lambda: per_group_sample(docs, "lang", "doc_id", 50).count(),
        ),
        ("exact_dedup_clusters", lambda: duplicate_clusters(docs, "text", "doc_id").count()),
        ("fingerprint_clusters", lambda: fingerprint_clusters(docs, "text", "doc_id").count()),
        (
            "jaccard_trigram_0.6",
            lambda: jaccard_pairs(docs, threshold=0.6, ngram=3, prefix_filter=False).count(),
        ),
        (
            "jaccard_trigram_0.6_dfcap",
            lambda: jaccard_pairs(
                docs, threshold=0.6, ngram=3, prefix_filter=False, max_token_df=100
            ).count(),
        ),
        (
            "minhash_lsh_0.5",
            lambda: minhash_lsh_pairs(docs, threshold=0.5, ngram=2).count(),
        ),
        (
            # the SHIPPED geometry (queries/dedup.py::SIMHASH_GEOMETRY):
            # h≤7 via 4×16-bit chunks + 1-bit multiprobe
            "simhash_h7_probe",
            lambda: simhash_pairs(
                docs, max_hamming=7, n_chunks=4, probe=1, ngram=2
            ).count(),
        ),
        (
            "emb_neardup_0.9",
            # auto planes/tables — the shape the registered query now runs
            lambda: embedding_neardup_pairs(emb, threshold=0.9).count(),
        ),
        (
            "ann_lsh_topk",
            lambda: ann_lsh_topk(
                emb, k=5, query_pred=lambda c: c % 1_000_000 < 8
            ).count(),
        ),
        (
            # copies perturb every 4th token, so duplicated 16-windows stay
            # WITHIN a copy: dup mass and posting density both grow 10x
            # without a cross-copy explosion — the honest scaling case.
            "strip_spans_w16",
            lambda: _strip_spans(docs),
        ),
        (
            "dsir_resample",
            lambda: _dsir(docs),
        ),
        (
            # round-6: the two-phase distributed epoch permutation (the
            # r5 single-partition window fix) — rank mass grows 10x, the
            # per-range windows stay partitioned
            "epoch_order_e1",
            lambda: __import__(
                "creatorops_lakehouse_spark.operators.sampling",
                fromlist=["epoch_order"],
            ).epoch_order(docs.select("doc_id"), "doc_id", epoch=1).count(),
        ),
        (
            # hub-skewed bipartite doc<->source graph: 5 source hubs whose
            # degree grows 10x with the corpus — the iteration cost model
            # (K scans of the degree-annotated edge list) under max skew
            "pagerank_6iter",
            lambda: _pagerank(docs),
        ),
        (
            "bm25_search",
            lambda: _registered(spark, ddir, "docs_bm25_search"),
        ),
        (
            "lang_id_confusion",
            lambda: _registered(spark, ddir, "docs_lang_id_confusion"),
        ),
        (
            # round-6 late: min-denominator containment over the same
            # trigram posting join as jaccard — candidate mass scales with
            # posting density, accept test differs
            "containment_0.8",
            lambda: __import__(
                "creatorops_lakehouse_spark.operators.dedup",
                fromlist=["containment_pairs"],
            ).containment_pairs(docs, threshold=0.8, ngram=3).count(),
        ),
        (
            # round-6 late: symmetric-delete fuzzy join on synthesized
            # zero-padded names (the customer-name shape) — variant-index
            # density and true dist-1 pair mass both grow with the corpus
            "edit1_names",
            lambda: __import__(
                "creatorops_lakehouse_spark.operators.dedup",
                fromlist=["edit1_pairs"],
            ).edit1_pairs(
                docs.select(
                    "doc_id",
                    F.format_string("Doc#%09d", F.col("doc_id")).alias("nm"),
                    (F.col("doc_id") % 25).alias("blk"),
                ),
                name_col="nm",
                id_col="doc_id",
                block_cols=["blk"],
            ).count(),
        ),
        (
            "cooccurrence_lift_top40",
            lambda: _registered(spark, ddir, "docs_token_cooccurrence_lift"),
        ),
        (
            # round-6 late: the containment SCALE path — fixed 64 postings
            # per doc regardless of length. 10x only: at 100x this corpus's
            # cross-copy noise (J~0.27) sits above the containment recall
            # floor, the candidate-mass guard refuses (by design — see the
            # operator's REGIME GUARD docstring), and the exact pass is the
            # measured tool there (84.6x, BENCH_NOTES)
            "containment_lsh_0.8",
            lambda: __import__(
                "creatorops_lakehouse_spark.operators.dedup",
                fromlist=["containment_pairs_lsh"],
            ).containment_pairs_lsh(
                docs, threshold=0.8, max_ratio=4, ngram=3, num_perm=64
            ).count(),
        ),
        (
            # round-7: PQ ANN — codebook training is a bounded driver
            # sample, encoding is one Arrow pass (linear), the ADC scan is
            # one matmul per batch against a fixed 8-query lookup table
            "pq_topk",
            lambda: _pq_topk(emb),
        ),
        (
            # round-7: bigram LM score — one doc-partitioned lead window +
            # two hash aggregates + a model join; all key-partitioned
            "bigram_lm_score",
            lambda: _registered(spark, ddir, "docs_bigram_lm_score"),
        ),
        (
            # round-7: snake shard manifest — distributed_global_rank
            # (range shuffle + per-partition window) + one hash aggregate
            "shard_manifest",
            lambda: _registered(spark, ddir, "docs_shard_manifest"),
        ),
    ]


def _pq_topk(emb):
    from creatorops_lakehouse_spark.operators.similarity import (
        build_pq_codes,
        pq_topk,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=8, k=32, dim=64, iters=4)
    codes = build_pq_codes(emb, books)
    queries = [
        (r.vec_id, r.embedding)
        for r in emb.filter(F.col("vec_id") % F.lit(1_000_000) < 8)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        .collect()
    ]
    return pq_topk(codes, queries, books, emb, k=5, candidate_factor=16).count()


def _registered(spark, ddir, name):
    from creatorops_lakehouse_spark.queries import all_queries

    return all_queries()[name](spark, ddir).count()


def _pagerank(docs):
    from creatorops_lakehouse_spark.operators.pagerank import pagerank

    directed = docs.select(
        (F.col("doc_id") * 2).alias("src"),
        (F.pmod(F.xxhash64("source"), F.lit(1000)) * 2 + 1).alias("dst"),
    ).persist()
    edges = directed.unionAll(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    n = pagerank(edges, iters=6, check_dangling=False).count()
    directed.unpersist()
    return n


def _strip_spans(docs):
    from creatorops_lakehouse_spark.operators.dedup import strip_duplicate_spans

    return (
        strip_duplicate_spans(docs, window=16)
        .filter(F.col("n_removed") > 0)
        .count()
    )


def _dsir(docs):
    from creatorops_lakehouse_spark.operators.dsir import (
        importance_resample,
        importance_scores,
    )

    scores = importance_scores(docs, is_target=F.col("lang") == "en")
    return importance_resample(scores).filter("accepted").count()


def main() -> int:
    sys.path.insert(0, _REPO)
    from creatorops_lakehouse_spark.session import build_spark

    copies = COPIES
    for a in sys.argv:
        if a.startswith("--copies="):
            copies = int(a.split("=", 1)[1])
    sdir = scale_dir(copies)
    xtag = f"{copies}x"
    spark = build_spark("scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    if "--skip-gen" not in sys.argv:
        t0 = time.time()
        synthesize(spark, copies)
        print(f"synthesized {xtag} corpus in {time.time() - t0:.0f}s -> {sdir}")

    results: dict[str, dict[str, float]] = {}
    for tag, ddir in (("sf0.1", SF_DIR), (xtag, sdir)):
        docs = spark.read.parquet(f"{ddir}/documents.parquet")
        emb = spark.read.parquet(f"{ddir}/embeddings.parquet")
        only = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--only=")]
        for name, thunk in suite(spark, docs, emb, ddir):
            if only and not any(o in name for o in only):
                continue
            t0 = time.time()
            n = thunk()
            dt = time.time() - t0
            results.setdefault(name, {})[tag] = dt
            results[name][tag + "_rows"] = n
            print(f"{tag:6} {name:28} rows={n:<8} {dt:6.1f}s", flush=True)

    print(f"\n| operator | sf0.1 | {xtag} | ratio | rows sf0.1 | rows {xtag} |")
    print("|---|---|---|---|---|---|")
    for name, r in results.items():
        ratio = r[xtag] / r["sf0.1"] if r["sf0.1"] > 0 else float("nan")
        print(
            f"| {name} | {r['sf0.1']:.1f}s | {r[xtag]:.1f}s | {ratio:.1f}x "
            f"| {int(r['sf0.1_rows'])} | {int(r[xtag + '_rows'])} |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
