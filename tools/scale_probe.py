"""Scale probe: replicate the documents/embeddings fixtures N× into
.scratch and time the heavy operators — answers "does this operator's
cost scale with input (good) or blow up superlinearly (bad)?" locally.

Caveat baked into the reading: replication gives every doc N-1 exact
twins, so NEAR-DUP OUTPUT grows ~N² by construction. Pair-emitting
operators (near_jaccard, minhash_lsh, simhash, near_pairs) are
expected to track their output size; linear operators (exact dedup,
text stats, signatures, assignments) must track input size.

    python tools/scale_probe.py [N=10]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from map_reduce_sf_crime_spark.plans.registry import REGISTRY
from map_reduce_sf_crime_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
PROBES = [
    "dedup_exact_flags",
    "doc_signatures",
    "text_profile",
    "embedding_profile",
    "knn_bruteforce",
    "corpus_pack",
    "token_doc_freq",
    "corpus_sample",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "dedup_near_jaccard",
    "embedding_near_pairs",
]


def replicate(n: int) -> str:
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".scratch", f"scale_x{n}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table, key, stride in [("documents", "doc_id", 5000), ("embeddings", "vec_id", 2000)]:
        dst = os.path.join(out, f"{table}.parquet")
        # rebuild when the base is newer — the driver regenerates
        # /root/testdata between rounds and a stale replica would
        # silently probe last round's fixtures (missing base: keep
        # the replica and let the copy path surface the clear error)
        src = os.path.join(BASE, f"{table}.parquet")
        if (
            os.path.exists(dst)
            and os.path.exists(src)
            and os.path.getmtime(src) > os.path.getmtime(dst)
        ):
            os.remove(dst)
        if not os.path.exists(dst):
            cols = duckdb.sql(f"select * from '{BASE}/{table}.parquet' limit 0").columns
            rest = ", ".join(c for c in cols if c != key)
            con.execute(
                f"copy (select {key} + {stride}*r as {key}, {rest} "
                f"from '{BASE}/{table}.parquet', range({n}) t(r)) "
                f"to '{dst}' (format parquet, row_group_size 65536)"
            )
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = replicate(n)
    spark = get_spark("scale_probe")
    REGISTRY["dedup_exact_flags"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()  # warm
    for q in PROBES:
        t0 = time.perf_counter()
        REGISTRY[q].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(f"x{n} {q}: {time.perf_counter() - t0:.2f}s")
        # isolate per-operator cost: accumulated caches from earlier
        # probes otherwise skew (and memory-pressure) later ones
        spark.catalog.clearCache()

    # SemDeDup scaling contrast. The registry entry (embedding_profile,
    # probed above) now DEFAULTS to the corpus-scaled quantizer
    # (semdedup_k: ~100-vector lists ⇒ within-list pair work LINEAR in
    # n). These two lines isolate the SD1 leg: the scaled default vs
    # the round-2 pinned k=IVF_K whose (n/k)^2 list growth was the one
    # flagged scale-killer — kept here as the measured counterexample.
    from map_reduce_sf_crime_spark.operators.similarity import (
        IVF_K,
        semantic_dedup,
        semdedup_k,
    )
    from map_reduce_sf_crime_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = semdedup_k(emb.count())
    t0 = time.perf_counter()
    semantic_dedup(emb, k=k).write.format("noop").mode("overwrite").save()
    print(f"x{n} semantic_dedup[scaled k={k}]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    semantic_dedup(emb, k=IVF_K).write.format("noop").mode("overwrite").save()
    print(f"x{n} semantic_dedup[pinned k={IVF_K}]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # Incremental dedup: recompute form (re-shingles the whole
    # catalog every run) vs the persisted-catalog form (write once,
    # probe bucketed, shuffle only the batch) — quantifies what the
    # catalog buys at the daily-ingest shape. Write time is charged
    # to the one-off build line, not the daily run.
    import shutil

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators.dedup import (
        incremental_lsh_flags,
        incremental_lsh_flags_cataloged,
        write_signature_catalog,
    )

    from map_reduce_sf_crime_spark.sources.parquet import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pred = (SF.col("doc_id") % 5) == 4
    t0 = time.perf_counter()
    incremental_lsh_flags(docs, pred, threshold=0.8).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"x{n} incremental[recompute]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tb in ("probe_sig_buckets", "probe_sig_shingles"):
        spark.sql(f"drop table if exists {tb}")
        shutil.rmtree(os.path.join(wh, tb), ignore_errors=True)
    t0 = time.perf_counter()
    write_signature_catalog(
        docs.filter(~pred), "probe_sig_buckets", "probe_sig_shingles"
    )
    print(f"x{n} incremental[catalog build, one-off]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    incremental_lsh_flags_cataloged(
        spark, docs.filter(pred), "probe_sig_buckets", "probe_sig_shingles",
        threshold=0.8,
    ).write.format("noop").mode("overwrite").save()
    print(f"x{n} incremental[catalog-backed daily run]: {time.perf_counter() - t0:.2f}s")
    # the daily loop's closing step: append the flagged batch's
    # signatures so tomorrow's batch dedups against today's docs —
    # batch-sized shingling + bucketed append, no catalog rewrite
    from map_reduce_sf_crime_spark.operators.dedup import (
        append_signature_catalog,
    )

    t0 = time.perf_counter()
    append_signature_catalog(
        docs.filter(pred), "probe_sig_buckets", "probe_sig_shingles"
    )
    print(f"x{n} incremental[catalog append, daily]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # PQ-ADC search: codebook training is bounded, encode + ADC scan
    # are narrow maps, shortlist re-rank is shortlist-sized — the
    # whole path should track input size.
    from map_reduce_sf_crime_spark.operators.similarity import pq_topk

    t0 = time.perf_counter()
    pq_topk(emb, [0, 1, 2, 3, 4], 3).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"x{n} pq_topk: {time.perf_counter() - t0:.2f}s")

    # Persisted serving paths (late round 3): index build is the
    # one-off line; the indexed query should beat or match its live
    # twin since assignment/encoding never recomputes.
    from map_reduce_sf_crime_spark.operators.similarity import (
        ann_topk_indexed,
        append_ann_index,
        ivf_topk,
        write_ann_index,
    )

    scratch = os.path.join(os.path.dirname(sf_dir), f"probe_idx_x{n}")
    shutil.rmtree(scratch, ignore_errors=True)
    qrows = emb.filter(SF.col("vec_id") < 5).collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    t0 = time.perf_counter()
    write_ann_index(emb, os.path.join(scratch, "ivf"), "ivf")
    print(f"x{n} ivf index[build, one-off]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    ivf_topk(emb, [0, 1, 2, 3, 4], 3).write.format("noop").mode("overwrite").save()
    print(f"x{n} ivf_topk[live]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    ann_topk_indexed(spark, os.path.join(scratch, "ivf"), queries, k=3).write.format(
        "noop"
    ).mode("overwrite").save()
    print(f"x{n} ivf_topk[indexed]: {time.perf_counter() - t0:.2f}s")
    # daily append: a batch-sized assignment map + write — never
    # re-reads the base lists (cost must track the batch, not n)
    t0 = time.perf_counter()
    append_ann_index(
        emb.filter(SF.col("vec_id") % 5 == 4), os.path.join(scratch, "ivf"), 1
    )
    print(f"x{n} ivf index[append, daily]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    write_ann_index(emb, os.path.join(scratch, "pq"), "pq")
    print(f"x{n} pq index[build, one-off]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    ann_topk_indexed(
        spark, os.path.join(scratch, "pq"), queries, emb, 3
    ).write.format("noop").mode("overwrite").save()
    print(f"x{n} pq_topk[indexed]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    append_ann_index(
        emb.filter(SF.col("vec_id") % 5 == 4), os.path.join(scratch, "pq"), 1
    )
    print(f"x{n} pq index[append, daily]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # Lakehouse layout/maintenance: z-order build is sketch + one
    # range shuffle; compaction reads/writes only the touched
    # partitions — both should track input size.
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        compact_partitioned,
        write_zordered,
    )

    t0 = time.perf_counter()
    write_zordered(
        emb.select("vec_id", "label"), os.path.join(scratch, "zorder"),
        ["vec_id", "label"], n_files=32,
    )
    print(f"x{n} write_zordered: {time.perf_counter() - t0:.2f}s")
    cpath = os.path.join(scratch, "compact")
    docs.select("doc_id", "source").repartition(16).write.mode(
        "overwrite"
    ).partitionBy("source").parquet(cpath)
    t0 = time.perf_counter()
    compact_partitioned(spark, cpath, ["source"], target_rows_per_file=10_000_000)
    print(f"x{n} compact_partitioned: {time.perf_counter() - t0:.2f}s")
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
