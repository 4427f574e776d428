"""Invariants of the round-2 merged registry entries that the
value-hash oracle can't express: cross-leg consistency, bound
semantics, and equivalence of the concurrent streaming form with the
sequential single-query operators."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.plans.registry import REGISTRY

from .conftest import SF_SMOKE


@pytest.mark.slow
def test_ann_recall_bounds_all_pass(spark):
    from map_reduce_sf_crime_spark.plans.similarity_queries import ANN_METHODS

    rows = REGISTRY["ann_recall_check"].spark(spark, SF_SMOKE).collect()
    # includes the persisted-index serving legs (ivf_indexed/pq_indexed)
    assert {r.method for r in rows} == set(ANN_METHODS)
    assert all(r.ok == 1 for r in rows), rows


def test_ann_fold_leg_is_adversarial(spark):
    """The ivf_folded/pq_folded gate legs must have TEETH: the base
    build is poisoned with cosine-1.0 PHANTOM copies of every query
    vector (out-of-corpus ids whose only existence is the poison),
    and only the change-feed fold's tombstones remove them. Pin that
    a broken tombstone path (simulated by stripping the tombstone
    partition from a copy of each index) floods top-k with phantoms
    and drops recall below BOTH gate floors in BOTH serving paths —
    the PQ leg included, whose exact re-rank would rescue any poison
    that still had a clean true vector (the round-5 review's
    finding)."""
    import os
    import shutil

    from map_reduce_sf_crime_spark.operators import similarity
    from map_reduce_sf_crime_spark.plans import similarity_queries as sq

    emb = sq._emb(spark, SF_SMOKE)
    idx = sq._ann_index_dir(SF_SMOKE, emb)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin(sq.QUERY_IDS))
        .select("vec_id", "embedding")
        .collect()
    ]
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.knn_bruteforce(emb, sq.QUERY_IDS, sq.K)
        .select("query_id", "vec_id")
        .collect()
    }
    imps = {i for pair in sq._FOLD_IMPOSTORS.values() for i in pair}
    emb_aug = emb.select("vec_id", "embedding").unionByName(
        sq._fold_phantoms(spark, queries)
    )
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        "fold_no_tombstones",
    )

    def broken_probe(sub_idx, tomb_sub, probe):
        dst = os.path.join(scratch, sub_idx)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(f"{idx}/{sub_idx}", dst)
        shutil.rmtree(os.path.join(dst, *tomb_sub))
        return {
            (r.query_id, r.vec_id)
            for r in probe(dst).select("query_id", "vec_id").collect()
        }

    for sub_idx, tomb_sub, probe in [
        (
            "ivf_fold",
            ("lists", "_tombstones"),
            lambda p: similarity.ann_topk_indexed(spark, p, queries, k=sq.K),
        ),
        (
            "pq_fold",
            ("codes", "_tombstones"),
            lambda p: similarity.ann_topk_indexed(
                spark, p, queries, emb_aug, sq.K
            ),
        ),
    ]:
        got = broken_probe(sub_idx, tomb_sub, probe)
        recall = len(got & exact) / len(exact)
        flooded = sum(1 for (_, v) in got if v in imps)
        # two exact-copy phantoms per query → at most one true
        # neighbor of three survives per query
        assert recall <= 0.4, f"{sub_idx} poison has no teeth: {recall}"
        assert flooded >= 2 * len(sq.QUERY_IDS) - 2, (
            sub_idx, recall, flooded,
        )
    shutil.rmtree(scratch, ignore_errors=True)


def test_dedup_exact_flags_kept_equals_distinct_hashes(spark):
    from map_reduce_sf_crime_spark.sources.parquet import load_table

    flags = REGISTRY["dedup_exact_flags"].spark(spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    n_unique = docs.select(F.md5("text")).distinct().count()
    agg = flags.agg(
        F.count(F.lit(1)).alias("n"), F.sum("kept").alias("kept")
    ).first()
    assert agg.n == n_docs
    assert agg.kept == n_unique
    # exactly one representative per duplicate group, never zero or two
    per_hash = (
        flags.join(docs.select("doc_id", F.md5("text").alias("h")), "doc_id")
        .groupBy("h")
        .agg(F.sum("kept").alias("k"))
        .select(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .first()
    )
    assert per_hash.lo == 1 and per_hash.hi == 1


def test_doc_signatures_complete_and_doc_keyed(spark):
    from map_reduce_sf_crime_spark.sources.parquet import load_table

    sigs = REGISTRY["doc_signatures"].spark(spark, SF_SMOKE)
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sigs.count() == n_docs
    assert sigs.select("doc_id").distinct().count() == n_docs
    missing = sigs.filter(
        F.col("minhash_sig").isNull()
        | F.col("simhash").isNull()
        | F.col("fingerprint").isNull()
    ).count()
    assert missing == 0  # every fixture doc has text → every leg joined


def test_multimodal_profile_paths_agree(spark):
    prof = REGISTRY["multimodal_profile"].spark(spark, SF_SMOKE)
    assert prof.filter(F.col("paths_agree") != 1).count() == 0


def test_concurrent_window_counts_equal_sequential(spark):
    from map_reduce_sf_crime_spark.streaming import windows

    merged = REGISTRY["stream_window_counts"].spark(spark, SF_SMOKE)
    tumb_seq = windows.tumbling_counts(spark, SF_SMOKE, "1 hour")
    tumb_leg = merged.filter(F.col("kind") == "tumbling").drop("kind")
    assert tumb_leg.exceptAll(tumb_seq).count() == 0
    assert tumb_seq.exceptAll(tumb_leg).count() == 0


def test_stream_dedup_state_disciplines_agree(spark):
    """The bounded-state watermarked dedup must produce the same
    per-type distinct counts as the unbounded form on this replay
    (all duplicates arrive within the watermark of each other)."""
    rows = REGISTRY["stream_dedup_counts"].spark(spark, SF_SMOKE).collect()
    kinds = {r.kind for r in rows}
    assert kinds == {"unbounded", "watermarked"}
    a = sorted((r.event_type, r.n_users) for r in rows if r.kind == "unbounded")
    b = sorted(
        (r.event_type, r.n_users) for r in rows if r.kind == "watermarked"
    )
    assert a == b and len(a) > 0


def test_corpus_pack_bins_contiguous_and_full(spark):
    from map_reduce_sf_crime_spark.plans.pipeline_queries import PACK_BUDGET

    packed = REGISTRY["corpus_pack"].spark(spark, SF_SMOKE).cache()
    per_bin = (
        packed.groupBy("source", "bin_id")
        .agg(F.sum("n_tok").alias("bin_tokens"))
    )
    # bins are contiguous 0..max within each source
    spans = per_bin.groupBy("source").agg(
        F.min("bin_id").alias("lo"),
        F.max("bin_id").alias("hi"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    bad = spans.filter(
        (F.col("lo") != 0) | (F.col("n_bins") != F.col("hi") + 1)
    ).collect()
    assert bad == []
    # every non-final bin's cumulative end crosses its budget boundary:
    # sum over bins 0..b >= (b+1)*budget
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("bin_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_bin.withColumn("cum_tokens", F.sum("bin_tokens").over(w))
    final_bin = per_bin.groupBy("source").agg(F.max("bin_id").alias("fb"))
    underfull = (
        cum.join(final_bin, "source")
        .filter(F.col("bin_id") < F.col("fb"))
        .filter(F.col("cum_tokens") < (F.col("bin_id") + 1) * PACK_BUDGET)
        .collect()
    )
    assert underfull == []


def test_corpus_sample_rates_and_determinism(spark):
    from map_reduce_sf_crime_spark.operators.sampling import (
        DEFAULT_RATE,
        MIXTURE_RATES,
    )

    a = REGISTRY["corpus_sample"].spark(spark, SF_SMOKE)
    b = REGISTRY["corpus_sample"].spark(spark, SF_SMOKE)
    # bit-determinism: same decisions on re-execution
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # empirical per-stratum rate tracks the configured per-mille rate
    stats = a.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("kept").alias("k")
    ).collect()
    for r in stats:
        rate = MIXTURE_RATES.get(r.lang, DEFAULT_RATE) / 1000
        # binomial 4-sigma tolerance at the stratum size
        tol = 4 * (rate * (1 - rate) / r.n) ** 0.5 + 1 / r.n
        assert abs(r.k / r.n - rate) <= tol, (r.lang, r.k, r.n, rate)


def test_int8_quantization_roundtrip_error(spark):
    from map_reduce_sf_crime_spark.sources.parquet import load_table

    prof = REGISTRY["embedding_profile"].spark(spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    joined = prof.select("vec_id", "int8_codes", "int8_scale").join(emb, "vec_id")
    rows = joined.collect()
    assert rows
    for r in rows:
        codes = [int(c) for c in r.int8_codes.split(",")]
        assert len(codes) == len(r.embedding)
        assert all(-127 <= c <= 127 for c in codes)
        # floor quantization: dequant error bounded by one scale step,
        # plus slack for the published scale being rounded to 6dp
        # (|c| <= 127 amplifies the <=5e-7 rounding by up to 6.4e-5)
        for c, x in zip(codes, r.embedding):
            assert abs(float(x) - c * r.int8_scale) <= r.int8_scale + 1e-4
