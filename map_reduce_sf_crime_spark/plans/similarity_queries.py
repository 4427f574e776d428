"""Similarity-search queries over ``embeddings`` (north-star ANN
operators).

The approximate top-k tier (banded-hyperplane LSH, IVF probe, IVF
with Lloyd-refined quantizer) is gate-checked through
``ann_recall_check``: recall against exact brute force is computed in
Spark and emitted as a per-(method, query) boolean the SQL oracle
asserts — converting "approximate ⇒ no oracle" into a hard driver
signal.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import quantize, similarity
from ..sources.parquet import fan_out, load_table
from ..functions.caching import plan_cache
from .registry import register

QUERY_IDS = [0, 1, 2, 3, 4]
K = 3
NEAR_THRESHOLD = 0.4
#: Gate-checked PER-METHOD recall floors (percent, round 5 — one
#: shared 0.6 before). The two tiers fail differently, so they gate
#: differently: the PQ family re-ranks an exact-cosine shortlist, so
#: with the widened 64·k ADC shortlist it measures 15/15 on all
#: three driver corpora — a floor of 0.8 (3 recall steps of margin
#: at 15 true pairs) turns a serving-quality regression red at the
#: DRIVER, not just in pytest. The LSH/IVF tier is genuinely
#: approximate on near-orthogonal synthetic vectors (measured range
#: 0.67–1.0 across the sf0.001/0.01/0.1 corpora) and keeps the 0.6
#: floor its variance needs. Floors are also EMITTED as a column and
#: enumerated in the oracle VALUES rows, so silently loosening one
#: hash-mismatches.
ANN_METHODS = {
    "lsh": 60,
    "ivf": 60,
    "ivf_refined": 60,
    "pq": 80,
    "ivf_indexed": 60,
    "pq_indexed": 80,
    "ivf_appended": 60,
    "pq_appended": 80,
    "ivf_folded": 60,
    "pq_folded": 80,
    # round 7: the IVF-PQ hybrid (partition-pruned lists of 16-byte
    # codes + exact re-rank). The floor matches the PQ family: the
    # re-rank is exact, and nprobe=4/32 lists measured 15/15 on all
    # three driver corpora; its folded leg carries the same phantom
    # teeth as pq_folded.
    "ivfpq_indexed": 80,
    "ivfpq_folded": 80,
    # round 8: the IVFADC residual-encoding mode (codes are PQ of
    # x̂ − ĉ, served with per-(query, probed-list) tables). Finer
    # codes than flat at identical layout — same exact re-rank, same
    # PQ-family floor.
    "ivfpq_residual": 80,
    # round 10 (ANN11/ANN12): the BULK (DataFrame-in) throughput
    # serve of each persisted tier — same artifacts, same floors as
    # the latency twins (bulk ≡ latency is bit-pinned in pytest; the
    # gate watches the recall bound hold through the fully
    # distributed execution: probe mapInPandas, executor-side ADC
    # tables / cogroup blocks, windowed shortlists).
    "ivfpq_bulk": 80,
    "pq_bulk": 80,
    "ivf_bulk": 60,
}

#: The change-feed fold legs poison the base build with PHANTOMS —
#: for each query q, two vec_ids far outside the corpus whose
#: embedding is an exact copy of q's vector (cosine 1.0). The folded
#: change batch DELETES the phantoms (tombstones; there is no
#: re-insert that could rescue them) and inserts a small held-out
#: corpus slice, so the folded index serves exactly the live corpus.
#: A fold or tombstone failure leaves ≥2 cosine-1.0 phantoms in every
#: query's top-3 — and because the phantoms' ONLY vectors are the
#: poison itself, no exact re-rank can rescue the result (the round-5
#: review caught that corpus-member impostors restored by the fold
#: were invisible to the PQ leg, whose shortlist re-ranks against
#: true embeddings): recall ≤ 33 % and both floors (60/80) turn the
#: driver red. The probe passes the phantom-augmented frame as the
#: PQ re-rank side for exactly this reason.
_FOLD_IMPOSTORS = {
    q: (9_000_000 + 2 * q, 9_000_001 + 2 * q) for q in QUERY_IDS
}


def _fold_phantoms(spark: SparkSession, queries) -> DataFrame:
    """(vec_id, embedding) phantom rows from the collected query
    vectors — the same construction at build and probe time."""
    qvecs = dict(queries)
    rows = [
        (int(pid), [float(x) for x in qvecs[q]])
        for q, pids in _FOLD_IMPOSTORS.items()
        for pid in pids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


_DIM_CHECKED: set[str] = set()

#: sf_dir → scratch dir holding the persisted IVF + PQ serving indexes
#: (built once per process; bench reps and repeated gate calls reuse
#: the build — the build-once/query-many production contract).
_INDEX_DIRS: dict[str, str] = {}


def _qframe(emb: DataFrame) -> DataFrame:
    """The gate's query vectors as the bulk serves' DataFrame shape
    ``(query_id, embedding)`` — a deterministic parquet-backed filter
    (the bulk contract: the serve plans multiple passes over the
    query frame)."""
    return emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _ann_index_dir(sf_dir: str, emb: DataFrame) -> str:
    """Build (once per process per corpus) the persisted ANN serving
    indexes — one per kind of ``similarity.write_ann_index``: ``ivf``
    (centroid quantizer + hive-partitioned inverted lists), ``pq``
    (codebooks + 16-byte code table), ``ivfpq`` and its residual mode
    — in a scratch directory, so the gate exercises the paths a 100 TB
    deployment actually serves from rather than only the live
    recompute forms."""
    if sf_dir not in _INDEX_DIRS:
        import tempfile

        base = tempfile.mkdtemp(prefix="sgraft_ann_idx_")
        for kind in ("ivf", "pq", "ivfpq"):
            similarity.write_ann_index(emb, f"{base}/{kind}", kind)
        # round 8: the IVFADC residual-encoding mode of the hybrid
        similarity.write_ann_index(emb, f"{base}/ivfpq_res", "ivfpq_residual")
        # round 8 (ANN10): the partitioned raw-vector store — the
        # production re-rank source (directory-pruned point lookups
        # instead of a full raw-vector scan); served by the
        # ivfpq_indexed leg below, bit-identical to the emb form
        similarity.write_vector_store(emb, f"{base}/vstore")
        # the DAILY-LOOP form: base build on 4/5 of the corpus, then
        # the held-out 1/5 folded in through the append path (stored
        # quantizer/codebooks, batch's own append_id partitions) — so
        # the gate also watches the incremental-ingest serving shape
        older = emb.filter(F.col("vec_id") % 5 != 4)
        batch = emb.filter(F.col("vec_id") % 5 == 4)
        for kind in ("ivf", "pq"):
            similarity.write_ann_index(older, f"{base}/{kind}_app", kind)
            similarity.append_ann_index(batch, f"{base}/{kind}_app", 1)
        # the CHANGE-FEED form: base build on a POISONED corpus —
        # the live corpus minus a held-out slice, plus each query's
        # two cosine-1.0 PHANTOM copies (_FOLD_IMPOSTORS) — then one
        # read_changes-shaped batch folds through
        # apply_changes_to_ann_index: phantom DELETEs (tombstones) and
        # held-out INSERTs (appends). Probing the folded index must
        # recall the TRUE neighbors: a dead tombstone filter leaves
        # phantoms on top of every query and fails both floors (see
        # _FOLD_IMPOSTORS for why deletes, not updates, are the poison).
        spark = emb.sparkSession
        qrows = [
            (int(r["vec_id"]), list(r["embedding"]))
            for r in emb.filter(F.col("vec_id").isin(QUERY_IDS))
            .select("vec_id", "embedding")
            .collect()
        ]
        phantoms = _fold_phantoms(spark, qrows)
        eslim = emb.select("vec_id", "embedding")
        held = F.col("vec_id") % 97 == 13
        poisoned = eslim.filter(~held).unionByName(phantoms)
        changes = (
            phantoms.withColumn("_change_type", F.lit("delete"))
            .unionByName(
                eslim.filter(held).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        )
        for kind in ("ivf", "pq", "ivfpq"):
            similarity.write_ann_index(poisoned, f"{base}/{kind}_fold", kind)
            similarity.apply_changes_to_ann_index(
                spark, f"{base}/{kind}_fold", changes, 1
            )
        _INDEX_DIRS[sf_dir] = base
    return _INDEX_DIRS[sf_dir]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # The hyperplane/IVF constructions bake DIM into driver-precomputed
    # literals and oracle SQL — if a testdata regeneration changes the
    # vector width (the way it changed events.ts), fail loudly here
    # instead of hash-mismatching 6 queries downstream. Once per dir
    # per process.
    if sf_dir not in _DIM_CHECKED:
        row = emb.select("embedding").first()
        if row is None or row[0] is None:
            raise ValueError(
                f"embeddings table at {sf_dir} is empty or has a NULL "
                "first embedding — cannot validate vector width"
            )
        dim = len(row[0])
        if dim != similarity.DIM:
            raise ValueError(
                f"embeddings dim {dim} != configured DIM {similarity.DIM};"
                " update operators/similarity.py:DIM"
            )
        _DIM_CHECKED.add(sf_dir)
    # vector math is CPU-bound per row — spread scan-side work
    return fan_out(emb)


@register(
    "knn_bruteforce",
    similarity.knn_bruteforce_sql(QUERY_IDS, K),
    survey_ids=("ANN1",),
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_bruteforce(_emb(spark, sf_dir), QUERY_IDS, K)


@register(
    "embedding_near_pairs",
    similarity.cosine_near_pairs_sql(NEAR_THRESHOLD),
    survey_ids=("ANN2", "DD5"),
)
def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs baseline)."""
    return similarity.cosine_near_pairs(_emb(spark, sf_dir), NEAR_THRESHOLD)


@register(
    "embedding_profile",
    f"""
    with n as (
      select vec_id,
             round(sqrt(list_sum(list_transform(range(1, 65),
                   i -> embedding[i]::double * embedding[i]::double))), 6) as l2,
             {quantize.int8_quantize_sql('embedding')} as int8_codes,
             {quantize.int8_scale_sql('embedding')} as int8_scale
      from embeddings
    ),
    p as ({similarity.plane_signatures_sql()}),
    a as ({similarity.ivf_assignments_sql()}),
    sd as ({similarity.semantic_dedup_sql()})
    select n.vec_id, n.l2, n.int8_codes, n.int8_scale,
           p.sig as plane_sig, a.centroid_id,
           sd.sd_max_prior_sim, sd.sd_keep
    from n
    join p using (vec_id)
    join a using (vec_id)
    join sd using (vec_id)
    """,
    survey_ids=("UDF1", "ANN3", "ANN4", "QZ1", "SD1"),
)
def embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding catalog in one entry: L2 norm via a scalar
    ``@pandas_udf`` (Arrow-vectorized, SURVEY §2.10 — accumulates one
    dimension at a time in float64, the SQL fold order, so
    sqrt+round match bit-for-bit), symmetric int8 quantization codes
    + dequant scale (QZ1, operators/quantize.py — floor-based, no
    round-half mode to diverge), deterministic random-hyperplane
    signature (ANN3 — seeded md5 plane weights reproduced
    bit-for-bit in SQL), IVF coarse-quantizer assignment (ANN4 —
    broadcast centroid matrix, narrow map, identical tie-break), and
    the SemDeDup decision (SD1, operators/similarity.semantic_dedup —
    max cosine to an earlier cluster-mate + keep flag). The SD1 leg
    clusters with the CORPUS-SCALED quantizer (``semdedup_k``:
    k = clamp(n//100, 32, 65536), derived identically by the oracle
    from a count(*) subquery so the SQL stays static) — ~100-vector
    lists keep the within-cluster quadratic kernel linear-in-n; the
    pinned-k form round 2 flagged as the one scale-killer is gone.
    One vec-keyed join of per-vector projections."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def l2(vecs: pd.Series) -> pd.Series:
        # accumulate one DIMENSION at a time over the whole Arrow
        # batch matrix: the same sequential float64 fold order as the
        # SQL oracle (so sqrt+round stay bit-identical — numpy's
        # pairwise einsum/norm would diverge in the last ulp), but
        # vectorized across ROWS: dim Python iterations per batch
        # instead of dim per row
        if not len(vecs):
            return pd.Series([], dtype="float64")
        m = np.array(list(vecs), dtype=np.float64)
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for d in range(m.shape[1]):
            col = m[:, d]
            acc += col * col
        return pd.Series(np.sqrt(acc))

    emb = _emb(spark, sf_dir)
    norms = emb.select(
        "vec_id",
        F.round(l2("embedding"), 6).alias("l2"),
        quantize.int8_quantize_col(F.col("embedding")).alias("int8_codes"),
        quantize.int8_scale_col(F.col("embedding")).alias("int8_scale"),
    )
    planes = similarity.plane_signatures(emb).select(
        "vec_id", F.col("sig").alias("plane_sig")
    )
    ivf = similarity.ivf_assignments(emb)
    sd = similarity.semantic_dedup(emb)
    return (
        norms.join(planes, "vec_id").join(ivf, "vec_id").join(sd, "vec_id")
    )


@register(
    "ann_recall_check",
    "select * from (values "
    + ", ".join(
        f"('{m}', {len(QUERY_IDS)}, {floor}, 1)"
        for m, floor in ANN_METHODS.items()
    )
    + ") t(method, n_queries, floor_pct, ok)",
    survey_ids=(
        "ANN3", "ANN4", "ANN5", "ANN6", "ANN7", "ANN8", "ANN9", "ANN10",
        "ANN11", "ANN12",
    ),
)
def ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable bound for the approximate ANN tier: per-method
    recall@k over the query set against exact brute force, emitted as
    ``ok = recall >= floor`` with the PER-METHOD floor from
    ``ANN_METHODS`` (round 5 — previously one shared 0.6; the
    near-exact PQ legs now gate at 0.8, so a serving regression to
    0.65 turns the DRIVER red instead of only pytest). The emitted
    ``floor_pct`` column is enumerated in the oracle VALUES rows, so
    loosening a floor on one side alone hash-mismatches. The bound is
    per METHOD (aggregate over queries): banded LSH/IVF guarantee
    recall in expectation over queries, not per individual query —
    a single query whose neighbors straddle a partition boundary can
    legitimately recall 1/k (measured per-query floors on the
    fixtures: lsh 2/3, ivf 1/3). The ``pq`` leg is PQ-ADC with exact
    re-rank of the ADC shortlist (operators/similarity.pq_topk).

    The ``ivf_indexed`` / ``pq_indexed`` legs are the PERSISTED
    serving paths (write_ann_index → ann_topk_indexed, kinds ivf and
    pq): the index is built once per process into a
    scratch dir and queried back with the same query vectors — each
    is bit-identical to its live twin (tests/test_similarity.py), and
    gating them here means the hard correctness signal watches the
    build-once/query-many form a production deployment runs.

    The ``ivf_appended`` / ``pq_appended`` legs gate the DAILY-INGEST
    form on top: the index is built on 4/5 of the corpus and the
    held-out 1/5 (which contains query id 4) folds in through
    ``append_ann_index`` — stored quantizer and
    codebooks, batch-sized assignment/encode, the batch's own
    ``append_id`` partitions. Equality with a same-quantizer one-shot
    rebuild is pytest-pinned; the gate asserts the recall bound holds
    through the incremental path.

    The ``ivf_folded`` / ``pq_folded`` legs (round 5) gate the
    CHANGE-FEED maintenance loop — the delete half the append legs
    can't see. The base index is built on a poisoned corpus (each
    query gets two cosine-1.0 PHANTOM copies under out-of-corpus
    ids, and a small corpus slice is held out), and one
    ``read_changes``-vocabulary batch folds through
    ``apply_changes_to_ann_index``: phantom deletes become
    generation-scoped tombstones, held-out inserts append. The legs
    are adversarial by construction: if tombstones are dropped or
    ignored at probe time, every query's top-3 floods with phantoms
    — which exist ONLY as the poison, so the IVF leg's stored-vector
    re-rank and the PQ leg's exact re-rank (fed the phantom-augmented
    frame) both rank them at 1.0 — recall ≤ 33 % and both floors
    (60/80) turn the driver red. The gate thereby watches that
    deletes REALLY die in both serving paths.

    Round 8 (ANN10): the ``ivfpq_indexed`` leg re-ranks through the
    PERSISTED vector store (``write_vector_store`` →
    ``vector_store=``) instead of the live frame — bit-identical
    results (pytest-pinned), so the gate watches the serve whose
    every phase is corpus-size-independent: partition-pruned code
    lists AND directory-pruned raw-vector fetch.

    Round 10 (ANN11/ANN12): the ``ivfpq_bulk`` / ``pq_bulk`` /
    ``ivf_bulk`` legs run the BULK (DataFrame-in) serves over the
    same persisted artifacts — probe selection, distance tables, and
    shortlisting all distributed; the hybrid through the vector
    store. Each is bit-identical to its latency twin (pytest), so
    the floors match; gating them means the driver's hard signal
    watches BOTH serve shapes of every tier."""
    emb = _emb(spark, sf_dir)
    exact = (
        similarity.knn_bruteforce(emb, QUERY_IDS, K)
        .select("query_id", "vec_id")
        .transform(plan_cache)
    )
    idx = _ann_index_dir(sf_dir, emb)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin(QUERY_IDS))
        .select("vec_id", "embedding")
        .collect()
    ]
    approx = {
        "lsh": similarity.ann_lsh_topk(emb, QUERY_IDS, K),
        "ivf": similarity.ivf_topk(emb, QUERY_IDS, K),
        "ivf_refined": similarity.ivf_topk(emb, QUERY_IDS, K, refine=True),
        "pq": similarity.pq_topk(emb, QUERY_IDS, K),
        "ivf_indexed": similarity.ann_topk_indexed(
            spark, f"{idx}/ivf", queries, k=K
        ),
        "pq_indexed": similarity.ann_topk_indexed(
            spark, f"{idx}/pq", queries, emb, K
        ),
        "ivf_appended": similarity.ann_topk_indexed(
            spark, f"{idx}/ivf_app", queries, k=K
        ),
        "pq_appended": similarity.ann_topk_indexed(
            spark, f"{idx}/pq_app", queries, emb, K
        ),
        "ivf_folded": similarity.ann_topk_indexed(
            spark, f"{idx}/ivf_fold", queries, k=K
        ),
        # re-rank frame = corpus ∪ phantoms: a phantom code that a
        # broken tombstone path lets through re-ranks at cosine 1.0
        # and floods top-k — passing bare emb would let the exact
        # re-rank silently drop it and rescue the leg
        "pq_folded": similarity.ann_topk_indexed(
            spark,
            f"{idx}/pq_fold",
            queries,
            emb.select("vec_id", "embedding").unionByName(
                _fold_phantoms(spark, queries)
            ),
            K,
        ),
        # round 7: the IVF-PQ hybrid serving path (partition-pruned
        # lists of 16-byte codes; _adc_probed_scan; exact re-rank) —
        # its folded leg gets the same phantom-augmented re-rank frame
        # as pq_folded, for the same no-rescue reason
        # served through the ANN10 vector store (bit-identical to
        # the emb re-rank — pytest-pinned), so the gate watches the
        # fully corpus-size-independent serve: pruned lists AND
        # pruned raw-vector fetch
        "ivfpq_indexed": similarity.ann_topk_indexed(
            spark, f"{idx}/ivfpq", queries, k=K,
            vector_store=f"{idx}/vstore",
        ),
        # round 8: residual-mode hybrid (detected from the stored
        # meta — the serve call is identical)
        "ivfpq_residual": similarity.ann_topk_indexed(
            spark, f"{idx}/ivfpq_res", queries, emb, K
        ),
        "ivfpq_folded": similarity.ann_topk_indexed(
            spark,
            f"{idx}/ivfpq_fold",
            queries,
            emb.select("vec_id", "embedding").unionByName(
                _fold_phantoms(spark, queries)
            ),
            K,
        ),
        # round 10 (ANN11/ANN12): the bulk serve shapes over the SAME
        # persisted artifacts — query vectors arrive as a DataFrame
        # (deterministic parquet-backed filter, per the bulk
        # contract), the hybrid re-ranks through the vector store
        # like its latency twin
        "ivfpq_bulk": similarity.ann_topk_bulk(
            spark, f"{idx}/ivfpq", _qframe(emb), k=K,
            vector_store=f"{idx}/vstore",
        ),
        "pq_bulk": similarity.ann_topk_bulk(
            spark, f"{idx}/pq", _qframe(emb), emb, K
        ),
        "ivf_bulk": similarity.ann_topk_bulk(
            spark, f"{idx}/ivf", _qframe(emb), k=K
        ),
    }
    total = len(QUERY_IDS) * K
    out = None
    for method, floor in ANN_METHODS.items():
        hits = (
            approx[method]
            .select("query_id", "vec_id")
            .join(exact, ["query_id", "vec_id"])
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        leg = hits.select(
            F.lit(method).alias("method"),
            F.lit(len(QUERY_IDS)).cast("int").alias("n_queries"),
            F.lit(floor).cast("int").alias("floor_pct"),
            (F.col("hits") * 100 / total >= floor).cast("int").alias("ok"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out


@register(
    "label_centroid_d1",
    """
    select label, round(avg(embedding[1]::double), 6) as mean_d1
    from embeddings group by label
    """,
    survey_ids=("UDF2",),
)
def label_centroid_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg ``@pandas_udf`` (custom UDAF surface): mean of the
    first embedding dimension per label, computed in pandas per group.
    pandas Series.mean over float64 equals SQL avg (sum/count in
    double) for these magnitudes at 6dp."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mean_d1(first_dims: pd.Series) -> float:
        return float(first_dims.mean())

    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", F.col("embedding").getItem(0).cast("double").alias("d1"))
        .groupBy("label")
        .agg(F.round(mean_d1("d1"), 6).alias("mean_d1"))
    )
