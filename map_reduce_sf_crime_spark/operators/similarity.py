"""Similarity search over embedding columns.

The LIVE tiers recompute from the corpus frame on every query,
mirroring how a 100 TB pipeline actually deploys ANN:

- **Brute-force top-k** (the correctness baseline): broadcast the
  (small) query set against the corpus, cosine per row via built-in
  higher-order functions, per-query top-k with a window over the
  already-reduced (query × corpus) score rows. Exact; cost is
  O(|Q|·N·d) fully data-parallel with no shuffle until the tiny
  top-k step.
- **Threshold self-join** (embedding near-dup for dedup): all-pairs
  within-corpus cosine ≥ t. Exact but quadratic — the oracle-checkable
  reference point for the LSH tier.
- **Random-hyperplane LSH**: deterministic md5-seeded hyperplanes →
  sign-bit signatures; banded buckets give candidate sets, exact
  cosine re-rank inside the bucket. Approximate (recall measured in
  tests against brute force), linear-ish — the scale path.
- **IVF**: coarse-quantizer inverted lists (deterministic first-k or
  Lloyd-refined centroids), probe-and-rerank.
- **PQ-ADC**: product-quantized codes scored by asymmetric distance
  against per-query tables, exact re-rank of the shortlist.
- **SemDeDup**: cluster with the coarse quantizer, compare only
  within a cluster.

The PERSISTED tier is one index core (:func:`write_ann_index`): kinds
``ivf``, ``pq``, ``ivfpq`` and ``ivfpq_residual`` share one life cycle
(write, append, change-feed fold, tombstones, compaction, crash
recovery) and one serve path in a latency (driver-list) and a bulk
(DataFrame) shape; every later call reads the kind back from the
artifacts under the index path. The exact re-rank of the PQ kinds
reads either the live frame or the partitioned raw-vector store
(:func:`write_vector_store`), its own artifact with its own fold.

Every exact top-k ends in one rank window (:func:`_cosine_top_k`),
every PQ-coded scan in one ADC kernel (:func:`_adc_top_s`) and one
shortlist window (:func:`_shortlist`), and every IVF-family probe in
one probe rule (:func:`_select_probes`).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import plan_cache
from ..functions.hashing import hash64_col, hash64_sql
from ..functions.vectors import cosine_col, cosine_sql
from ..sources.lakehouse import CDF_DEAD_TYPES, CDF_LIVE_TYPES

DIM = 64
# 32 planes in 8 × 4-bit bands: tuned on the fixture's near-orthogonal
# random vectors (hyperplane LSH's worst case — true neighbors sit at
# ~66°, P(bit agree) ≈ 0.63). Narrower bands trade candidate-set size
# for recall; measured recall ≈ 0.67 at ~6% of corpus scanned.
N_PLANES = 32
PLANE_BANDS = 8
# IVF coarse quantizer: ~sqrt(N)-ish centroid count, 4-of-32 probe →
# candidate set ≈ nprobe/k of the corpus per query.
IVF_K = 32
IVF_NPROBE = 4

#: Training-sample floor per coarse centroid: ``kmeans_centroids``
#: pulls at least this many sample rows PER requested centroid
#: (FAISS's own guidance is ~39–256 points/centroid for a usable
#: Lloyd fit; 100 sits inside it). This ties the sample size to the
#: K ∝ √N production rule — K=2048 trains on ≥204.8k rows — instead
#: of a fixed 100k that a growing K silently outgrew (round-8 verdict
#: #1: ``k = min(k, len(mat))`` capped the quantizer at ~10B
#: vectors). The pull still respects the module's driver-collect
#: ceiling: it is clipped at ``MAX_COLLECT_ROWS`` (2M rows ≈ 1 GB of
#: 64-d float64 — an UNclipped K=100k floor would be a 10M-row,
#: ~5 GB toPandas, the silent driver OOM the cap exists to pre-empt;
#: round-9 review), with a loud warning that the fit runs below the
#: recommended points/centroid once K exceeds ~20k.
TRAIN_ROWS_PER_CENTROID = 100

#: Hard ceiling for any driver-side collect of embedding rows. At
#: 64-d float64 this is ~1 GiB of vectors — far beyond the fixtures,
#: far below driver OOM. A 100× scale-up fails loudly here instead of
#: silently OOMing the driver.
MAX_COLLECT_ROWS = 2_000_000


def _bounded_collect(df: DataFrame, what: str, limit: int = MAX_COLLECT_ROWS):
    """Size-guarded ``collect()`` for exact/broadcast kernels: refuse
    above ``limit`` with a pointer at the scale path. One job, not a
    count + collect pair (r11): collecting ``limit + 1`` rows both
    bounds the driver transfer AND detects overflow — the extra row
    past the limit is at most one, and the guard fires before any
    caller sees the rows. Row multiset identical to ``collect()``
    below the limit (callers are row-order-insensitive)."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{what}: refusing to collect more than {limit} rows to "
            f"the driver. Use the banded-LSH/IVF tier at this scale "
            f"instead of the exact broadcast kernel."
        )
    return rows


def _cosine_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """THE rank window every exact top-k here ends in: score each
    ``(query_id, vec_id)`` pair's query vector ``qv`` against its
    ``embedding`` by exact cosine, rounded to 6 places like the SQL
    twins, and keep the top ``k`` per query by (cosine desc, vec_id) —
    one copy, so rounding, tie-breaks and output schema cannot drift
    between the tiers and serve shapes."""
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(cosine_col(F.col("qv"), F.col("embedding")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cosine", "rk")
    )


def _query_rows(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """The live tiers' query vectors: the corpus members named by
    ``query_ids`` as ``(query_id, qv)``. Only these can ever match a
    candidate join, so the tiers broadcast len(query_ids) rows, not
    the corpus."""
    return emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


def knn_bruteforce(
    emb: DataFrame, query_ids: list[int], k: int = 3
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector."""
    q = F.broadcast(_query_rows(emb, query_ids))
    return _cosine_top_k(q.join(emb, F.col("vec_id") != F.col("query_id")), k)


def knn_bruteforce_sql(query_ids: list[int], k: int = 3, dim: int = DIM) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos = cosine_sql("q.embedding", "e.embedding", dim)
    return f"""
    with q as (select vec_id as query_id, embedding from embeddings
               where vec_id in ({ids})),
    scored as (
      select q.query_id, e.vec_id, round({cos}, 6) as cosine
      from q join embeddings e on e.vec_id != q.query_id
    ),
    ranked as (
      select query_id, vec_id, cosine,
             row_number() over (partition by query_id
                                order by cosine desc, vec_id) as rk
      from scored
    )
    select query_id, vec_id, cosine, rk from ranked where rk <= {k}
    """


def cosine_near_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine ≥ t (embedding near-dup).

    Physical strategy: broadcast the (normalized-by-construction
    small) corpus matrix to every task and score each partition's rows
    against it with vectorized numpy inside ``mapInPandas`` — the
    N×N HOF cross-join this replaces evaluated an interpreted lambda
    per pair (~35× slower at sf0.1). The broadcast side carries the
    same "fits on one executor" constraint as any broadcast join; at
    100 TB the quadratic baseline is off the table anyway and the
    banded-LSH tier (:func:`ann_lsh_topk`) is the scale path.

    Determinism vs the SQL oracle: the dot-product accumulates one
    dimension at a time, left-to-right, in float64 — the exact fold
    order of ``aggregate(zip_with(...))`` / ``list_sum`` — and rounds
    via ``Decimal`` HALF_UP, the same decimal semantics as Spark's
    ``F.round`` (Java BigDecimal) on the exact binary value. Results
    are bit-identical, not merely close.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    rows = _bounded_collect(
        emb.select("vec_id", "embedding"),
        what="cosine_near_pairs exact kernel",
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    dim = mat.shape[1] if len(rows) else 0

    def _sq_norms(m: np.ndarray) -> np.ndarray:
        # sequential per-dimension accumulation == the SQL fold order
        q = np.zeros(m.shape[0])
        for d in range(dim):
            q += m[:, d] * m[:, d]
        return q

    corpus = spark.sparkContext.broadcast((ids, mat, _sq_norms(mat)))
    quant = Decimal(1).scaleb(-6)

    BLOCK = 4096  # corpus-side block: bounds per-worker intermediates
    # to ~2 × |batch|×BLOCK float64 regardless of corpus size

    def kernel(batches):
        b_ids, b_mat, b_q = corpus.value
        for pdf in batches:
            if not len(pdf):
                continue  # np.array(list(...)) on an empty batch → shape (0,)
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            a_q = _sq_norms(a_mat)
            for lo in range(0, len(b_ids), BLOCK):
                hi = min(lo + BLOCK, len(b_ids))
                dots = np.zeros((len(a_ids), hi - lo))
                for d in range(dim):
                    dots += a_mat[:, d : d + 1] * b_mat[None, lo:hi, d]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / np.sqrt(a_q[:, None] * b_q[None, lo:hi])
                # candidate superset with slack, then exact decimal rounding
                cand = (a_ids[:, None] < b_ids[None, lo:hi]) & (
                    cos >= threshold - 1e-6
                )
                ai, bi = np.nonzero(cand)
                rounded = np.array(
                    [
                        float(Decimal(c).quantize(quant, rounding=ROUND_HALF_UP))
                        for c in cos[ai, bi]
                    ]
                )
                keep = rounded >= threshold
                yield pd.DataFrame(
                    {
                        "vec_a": a_ids[ai[keep]],
                        "vec_b": b_ids[lo:hi][bi[keep]],
                        "cosine": rounded[keep],
                    }
                )

    from ..sources.parquet import fan_out

    return fan_out(emb.select("vec_id", "embedding")).mapInPandas(
        kernel, "vec_a long, vec_b long, cosine double"
    )


def cosine_near_pairs_sql(threshold: float, dim: int = DIM) -> str:
    cos = cosine_sql("a.embedding", "b.embedding", dim)
    return f"""
    select a.vec_id as vec_a, b.vec_id as vec_b, round({cos}, 6) as cosine
    from embeddings a join embeddings b on a.vec_id < b.vec_id
    where round({cos}, 6) >= {threshold}
    """


def _plane_weights(p: int, dim: int = DIM) -> list[float]:
    """Hyperplane weights in [-1, 1): seeded-md5 pseudo-randoms per
    (plane, dimension-index). Data-independent, so they are computed
    ONCE here on the driver — same md5 construction as
    functions/hashing.py, bit-identical to the SQL twin which derives
    them inline."""
    import hashlib

    ws = []
    for i in range(1, dim + 1):
        h = int(hashlib.md5(f"plane:{p}_{i}".encode()).hexdigest()[:15], 16)
        ws.append((h % 2001 - 1000) / 1000.0)
    return ws


def _plane_projection(p: int):
    """Signed projection of ``embedding`` on deterministic hyperplane
    ``p``. The weights enter the plan as literals — hashing them
    per-row (the naive formulation) costs planes×dims md5 calls per
    vector inside an interpreted lambda."""
    w = F.array(*[F.lit(x) for x in _plane_weights(p)])
    return F.aggregate(
        F.zip_with(F.col("embedding"), w, lambda x, wi: x.cast("double") * wi),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def plane_signatures(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Random-hyperplane sign signature (SimHash for vectors)."""
    sig = F.lit(0)
    for p in range(n_planes):
        sig = sig + F.when(_plane_projection(p) >= 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return emb.select("vec_id", sig.cast("long").alias("sig"))


def plane_signatures_sql(n_planes: int = N_PLANES, dim: int = DIM) -> str:
    terms = " + ".join(
        f"""(case when list_sum(list_transform(range(1, {dim + 1}),
              i -> embedding[i]::double *
                   (({hash64_sql(f"'{p}_' || i", seed='plane')} % 2001 - 1000) / 1000.0)))
              >= 0 then {1 << p} else 0 end)"""
        for p in range(n_planes)
    )
    return f"select vec_id, cast({terms} as bigint) as sig from embeddings"


def _centroids(emb: DataFrame, k: int):
    """Deterministic coarse quantizer: the first ``k`` vectors by
    ``vec_id``. A k-means refinement would drop in here unchanged —
    the IVF plumbing (assign → inverted lists → probe subset) is what
    this operator exercises; centroid quality only moves recall."""
    import numpy as np

    rows = emb.orderBy("vec_id").limit(k).select("vec_id", "embedding").collect()
    if not rows:
        raise ValueError(
            "cannot derive a quantizer from an EMPTY corpus — "
            "index builds need at least one vector"
        )
    cids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    cmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return cids, cmat


def _seq_cosines(a_mat, b_mat):
    """Cosine of every row of ``a_mat`` against every row of ``b_mat``
    with sequential per-dimension accumulation — the exact fold order
    of ``aggregate(zip_with(...))`` / ``list_sum``, so values are
    bit-identical to the SQL twin (not merely close).

    ZERO-NORM rows (round-8 hardening): a zero vector's cosine is
    0/0 = NaN, and one NaN COLUMN (a degenerate centroid) poisons
    ``max``/``argsort`` for EVERY row — measured as an entire corpus
    silently assigned to the int64-max tie sentinel, i.e. an index
    that serves nothing. NaN cells are therefore mapped to −inf: a
    degenerate vector deterministically LOSES every similarity
    comparison instead of corrupting its neighbors' comparisons. All
    finite cosines are untouched, so SQL-twin bit-parity holds on any
    fixture without zero vectors (the gate corpora have none)."""
    import numpy as np

    dim = a_mat.shape[1]
    dots = np.zeros((a_mat.shape[0], b_mat.shape[0]))
    qa = np.zeros(a_mat.shape[0])
    qb = np.zeros(b_mat.shape[0])
    for d in range(dim):
        dots += a_mat[:, d : d + 1] * b_mat[None, :, d]
        qa += a_mat[:, d] * a_mat[:, d]
        qb += b_mat[:, d] * b_mat[:, d]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dots / np.sqrt(qa[:, None] * qb[None, :])
    return np.where(np.isnan(cos), -np.inf, cos)


def _cosines_fast(a_mat, b_mat):
    """Matmul-path cosine matrix with the same NaN→−inf degenerate
    policy as :func:`_seq_cosines`, ~4× faster (BLAS vs 64 sequential
    per-dimension passes). NOT bit-identical to the SQL twin's fold
    order — last-ulp sums differ — so it serves only paths the oracle
    never hashes: assignment against a PROVIDED quantizer (refined /
    stored centroids), where correctness is recall-gated and the
    equality pins run BOTH sides through this same kernel.
    Determinism scope: BLAS reductions are deterministic for a given
    binary/thread-shape on one machine — exactly the replay-idempotence
    window the append contract needs; cross-machine index rebuilds
    were never byte-pinned (only query-result-pinned)."""
    import numpy as np

    an = np.sqrt((a_mat * a_mat).sum(axis=1))
    bn = np.sqrt((b_mat * b_mat).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (a_mat @ b_mat.T) / (an[:, None] * bn[None, :])
    return np.where(np.isnan(cos), -np.inf, cos)


def _argmax_lowest_id(cos, ids):
    """Argmax over axis 1 with ties → LOWEST id — THE assignment
    tie-break, shared by every kernel that places a vector in a list
    (:func:`ivf_assignments`, :func:`_assign_and_encode`,
    :func:`residual_codebooks`). One copy on purpose: these must stay
    in lock-step or the pinned all-probe≡flat equality and the append
    replay idempotence silently desynchronize (round-8 review). Rows
    whose cosines are all −inf (degenerate vectors) land on the
    lowest id."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    best = cos.max(axis=1, keepdims=True)
    return np.where(cos == best, ids[None, :], np.iinfo(np.int64).max).min(
        axis=1
    )


def _unit_rows(mat):
    """Unit-normalize each row (zero rows stay zero). The 2-D
    ``axis=1`` reduction sums each row in an order fixed by the row
    length alone, so a row normalizes to the same bits whichever
    matrix (or buffer layout) it arrives in — the property the
    driver-built and executor-built distance tables rely on to agree
    bit-for-bit."""
    import numpy as np

    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def _select_probes(qmat, cids, cmat, nprobe: int):
    """THE probe rule of every IVF-family serve, live or persisted,
    latency or bulk: each query's ``nprobe`` nearest centroids by the
    exact-fold :func:`_seq_cosines`, ties to the earlier quantizer row
    (stable argsort). Returns a ``(#queries, min(nprobe, K))`` array of
    centroid ids."""
    import numpy as np

    order = np.argsort(-_seq_cosines(qmat, cmat), axis=1, kind="stable")
    return np.asarray(cids)[order[:, :nprobe]]


def ivf_assignments(
    emb: DataFrame,
    k: int = IVF_K,
    centroids=None,
    with_embedding: bool = False,
    exact_fold: bool | None = None,
) -> DataFrame:
    """IVF coarse assignment: nearest centroid per vector (ties → lowest
    centroid id). Broadcast the tiny centroid matrix, score each
    partition's rows with the vectorized kernel — one narrow map, no
    shuffle; the output is the partitioning key for the inverted lists.
    ``centroids``: optional precomputed (ids, matrix) — e.g. from
    :func:`kmeans_centroids`; defaults to the deterministic first-k
    quantizer the SQL oracle mirrors. ``with_embedding=True`` carries
    the vector through to the output — the index BUILD path uses it so
    persisting the lists needs no second corpus scan or join.

    Kernel selection (round 8): ``exact_fold`` is the EXPLICIT
    contract knob. True → the sequential per-dimension fold
    (:func:`_seq_cosines`), bit-identical to the DuckDB twin the
    ``embedding_profile`` gate hashes; False → the ~4× matmul kernel
    (:func:`_cosines_fast`); None (default) → exact exactly when the
    quantizer is the oracle-mirrored default (``centroids is None``).
    The COHERENCE rule (round-8 second review): every
    provided-centroid path — live :func:`ivf_topk`, persisted builds,
    appends — uses the SAME (fast) kernel, whatever the quantizer's
    construction, so a first-k index and a first-k live query can
    never place a near-tie vector in different lists; bit-level SQL
    parity is claimed ONLY for this function's default path. Callers
    wanting the exact fold against an explicit quantizer may pass
    ``exact_fold=True``, accepting that they then own that coherence.
    At K=512 over 2M vectors the fast kernel is the difference
    between a 58 s and a ~33 s build."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    if exact_fold is None:
        exact_fold = centroids is None
    bc = spark.sparkContext.broadcast(
        (_centroids(emb, k) if centroids is None else centroids, exact_fold)
    )

    def kernel(batches):
        (cids, cmat), exact = bc.value
        # Bound the rows × k score matrix at ~32 MB regardless of the
        # centroid count (the corpus-scaled SemDeDup quantizer can
        # reach SEMDEDUP_MAX_K): slice each Arrow batch so
        # block_rows * k ≤ 4M doubles.
        block_rows = max(1, 4_194_304 // max(1, len(cids)))
        for pdf in batches:
            if not len(pdf):
                continue
            for lo in range(0, len(pdf), block_rows):
                blk = pdf.iloc[lo : lo + block_rows]
                ids = blk["vec_id"].to_numpy(dtype=np.int64)
                mat = np.array(list(blk["embedding"]), dtype=np.float64)
                cos = (
                    _seq_cosines(mat, cmat)
                    if exact
                    else _cosines_fast(mat, cmat)
                )
                # lowest centroid id among the (float-equal) maxima — the
                # row_number(order by cosine desc, cid) tie-break in SQL
                pick = _argmax_lowest_id(cos, cids)
                out = {"vec_id": ids, "centroid_id": pick}
                if carry:
                    out["embedding"] = list(blk["embedding"])
                yield pd.DataFrame(out)

    from ..sources.parquet import fan_out

    carry = with_embedding
    schema = "vec_id long, centroid_id long"
    if carry:
        schema += f", embedding {emb.schema['embedding'].dataType.simpleString()}"
    return fan_out(emb.select("vec_id", "embedding")).mapInPandas(kernel, schema)


def ivf_assignments_sql(k: int = IVF_K, dim: int = DIM) -> str:
    cos = cosine_sql("e.embedding", "c.embedding", dim)
    return f"""
    with c as (select vec_id as cid, embedding from embeddings
               order by vec_id limit {k}),
    scored as (
      select e.vec_id, c.cid, {cos} as cosine
      from embeddings e cross join c
    ),
    ranked as (
      select vec_id, cid,
             row_number() over (partition by vec_id
                                order by cosine desc, cid) as rk
      from scored
    )
    select vec_id, cid as centroid_id from ranked where rk = 1
    """


def kmeans_centroids(
    emb: DataFrame,
    k: int = IVF_K,
    iters: int = 5,
    train_rows: int = 100_000,
    snap: bool = True,
):
    """Lloyd-refined coarse quantizer (deterministic: init = the
    training sample's first k rows, fixed iteration count, ties to
    lowest index). Trains on a driver-side SAMPLE — the lowest
    ``train_rows`` rows by seeded hash of vec_id
    (:func:`_train_matrix`), a deterministic content-decorrelated
    draw, never the full corpus — so the collect is bounded at any
    input scale; quantizer quality only needs a representative
    sample (genuinely iterative ⇒ no SQL oracle; recall asserted in
    tests). ``train_rows`` is floored at ``TRAIN_ROWS_PER_CENTROID·k``
    so the K ∝ √N production rule can never outgrow its own sample
    (a silent clamp of k to the sample size capped the quantizer at
    ~10B vectors under the old fixed 100k — round-8 verdict); an
    unavoidable clamp (corpus smaller than k) warns loudly.

    ``snap=True`` (round 8 default) finishes with a MEDOID SNAP:
    each Lloyd mean is replaced by ITS CLUSTER'S nearest member
    (k-medoids discipline — PAM, Kaufman & Rousseeuw 1987; public),
    so distinct non-empty clusters always snap to distinct vectors
    (the first cut snapped to the globally-nearest training vector,
    which let two close means collapse onto ONE vector and silently
    halve effective K — round-8 review finding). A cluster that ends
    EMPTY keeps its current mean (for never-populated clusters that
    is its init corpus vector). Why snap at all: on clustered corpora
    the medoid is a representative inside the Lloyd-found cluster
    (balance preserved), while on near-isotropic data the raw means
    wash out to short, noisy vectors whose cosines discriminate
    poorly — measured on the synthetic driver corpora, mean-centroids
    cost 7–20 recall points at fixed nprobe vs any
    actual-corpus-vector quantizer, and the snap recovers all of it
    (BASELINE.md round-8 quantizer table). Centroids that ARE corpus
    vectors also keep the probe geometry identical to the first-k
    quantizer's, just better placed.

    The init slice is the head of the (single) training-matrix pull —
    no second corpus job."""
    import numpy as np
    import warnings

    want = max(train_rows, TRAIN_ROWS_PER_CENTROID * k)
    if want > MAX_COLLECT_ROWS:
        warnings.warn(
            f"kmeans_centroids: the {want}-row training pull "
            f"(train_rows={train_rows}, {TRAIN_ROWS_PER_CENTROID}/"
            f"centroid × k={k}) exceeds the driver-collect ceiling "
            f"MAX_COLLECT_ROWS={MAX_COLLECT_ROWS}; clipping — the "
            f"fit runs at ~{MAX_COLLECT_ROWS // max(k, 1)} rows/"
            "centroid, below the recommended "
            f"{TRAIN_ROWS_PER_CENTROID}",
            RuntimeWarning,
            stacklevel=2,
        )
        want = MAX_COLLECT_ROWS
    mat = _train_matrix(emb, want)
    if k > len(mat):
        warnings.warn(
            f"kmeans_centroids: k={k} exceeds the {len(mat)}-row "
            "training sample (the corpus itself is smaller than k) — "
            f"clamping to effective K={len(mat)}; every list will "
            "hold ~1 vector and probing degenerates to brute force",
            RuntimeWarning,
            stacklevel=2,
        )
        k = len(mat)
    cmat = mat[:k].copy()  # init = first-k by vec_id, zero extra scans
    x = _unit_rows(mat)
    for _ in range(iters):
        assign = (x @ _unit_rows(cmat).T).argmax(axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                cmat[c] = members.mean(axis=0)
    if snap:
        scores = x @ _unit_rows(cmat).T  # one pass: assignment AND medoid pick
        assign = scores.argmax(axis=1)
        for c in range(k):
            members = np.flatnonzero(assign == c)
            if len(members):
                # ties → lowest training row (argmax takes the first)
                cmat[c] = mat[members[int(np.argmax(scores[members, c]))]]
    cids = np.arange(k, dtype=np.int64)
    return cids, cmat


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    refine: bool = False,
) -> DataFrame:
    """IVF-style approximate top-k: probe the ``nprobe`` nearest
    inverted lists per query, exact cosine re-rank inside them.
    ``refine=True`` swaps in the Lloyd-refined quantizer
    (:func:`kmeans_centroids`) for better list separation.

    Scale shape: the assignment pass is a narrow map; candidates are
    selected by an equi-join on ``centroid_id`` (at 100 TB the lists
    would be written bucketed by ``centroid_id`` so the probe is a
    partition-pruned scan, not a join); re-rank touches ≈ nprobe/k of
    the corpus. Recall vs brute force is asserted in
    tests/test_similarity.py."""
    import numpy as np

    spark = emb.sparkSession
    cids, cmat = (
        kmeans_centroids(emb, n_centroids) if refine else _centroids(emb, n_centroids)
    )
    qrows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    probes = [
        (int(q), int(c))
        for q, row in zip(qids, _select_probes(qmat, cids, cmat, nprobe))
        for c in row
    ]
    probe_df = spark.createDataFrame(probes, "query_id long, centroid_id long")
    # fast kernel like EVERY provided-centroid path — live, persisted
    # build, and append must share one kernel or a first-k index and
    # the first-k live query could place a near-tie vector in
    # different lists (round-8 second review); bit-level SQL parity
    # binds only ivf_assignments()'s default path (the gate's)
    lists = ivf_assignments(emb, n_centroids, centroids=(cids, cmat))
    cands = (
        lists.join(F.broadcast(probe_df), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    qv = _query_rows(emb, query_ids)
    return _cosine_top_k(
        cands.join(F.broadcast(qv), "query_id").join(
            emb.select("vec_id", "embedding"), "vec_id"
        ),
        k,
    )


def ann_lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_planes: int = N_PLANES,
    bands: int = PLANE_BANDS,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 signature band with the
    query; exact cosine re-rank within candidates. Recall vs brute
    force is measured in tests/test_similarity.py."""
    width = n_planes // bands
    mask = (1 << width) - 1
    sigs = plane_signatures(emb, n_planes)
    banded = sigs.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("sig"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "bk.band", "bk.val")
    banded = plan_cache(banded)  # query side + corpus side both read it
    qb = banded.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "band", "val"
    )
    cands = (
        F.broadcast(qb)
        .join(banded, ["band", "val"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    qv = _query_rows(emb, query_ids)
    cv = emb.select("vec_id", "embedding")
    return _cosine_top_k(
        cands.join(F.broadcast(qv), "query_id").join(cv, "vec_id"), k
    )


#: Product-quantization geometry: DIM is split into PQ_M sub-blocks,
#: each encoded to one of PQ_KSUB codes → DIM floats compress to PQ_M
#: nibbles (16 bytes/vector at 64-dim float32 = 16× compression).
PQ_M = 16
PQ_KSUB = 16
PQ_TRAIN_ROWS = 100_000
#: ADC shortlist size as a multiple of k before exact re-rank.
#: 64 (FAISS-style refine factor): at 4-bit-per-block ADC
#: granularity a true neighbor's quantized rank routinely lands in
#: the 30-200 range (measured: round-5 diagnosed stored-codebook
#: serving missing true neighbors at ADC ranks 34-183 with the old
#: 10·k shortlist — pq_appended recall 0.47 at sf0.1), and the
#: re-rank cost is shortlist·k exact cosines per query — noise at
#: any corpus size.
PQ_SHORTLIST = 64


def pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 5,
    train_rows: int = PQ_TRAIN_ROWS,
):
    """Per-block PQ codebooks (FAISS-style IVFADC building block,
    Jégou et al. 2011, public): Lloyd-refine ``ksub`` centroids per
    sub-block on the unit-normalized vectors. Deterministic (init =
    the sample's first ksub rows, fixed iterations, argmin ties →
    lowest code) and trained on a driver-side BOUNDED sample — the
    lowest ``train_rows`` rows by seeded hash of vec_id
    (:func:`_train_matrix`, content-decorrelated) — never the full
    corpus. No K-scaling floor here: ksub defaults to 16 per
    sub-block, so the 100k sample already holds ~6000 points per
    code.

    Returns ndarray of shape (m, ksub, dim//m)."""
    x = _train_sample(emb, train_rows)
    return _lloyd_blocks(x, m, ksub, iters)


#: seed mixed into the training-sample hash order below — a fixed
#: engine constant so every trainer pulls the SAME sample rows and a
#: rebuild reproduces the same quantizer bit-for-bit
TRAIN_SAMPLE_SEED = 40961


def _train_matrix(emb: DataFrame, train_rows: int):
    """RAW training matrix: the lowest ``train_rows`` rows BY SEEDED
    HASH of vec_id — a deterministic, driver-bounded, content-
    DECORRELATED sample shared by every quantizer/codebook trainer.

    Why hash order and not the head (round-8 verdict #1): vec_ids
    follow ingestion, and ingestion follows content — the zipf-SORTED
    fixture in tools/scale_probe.py models exactly that — so the old
    ``orderBy(vec_id).limit(n)`` head slice trained every quantizer
    on the corpus's FIRST content only; at 100 TB, vectors past the
    first ``train_rows`` ids contributed nothing to centroid
    placement, leaving late-arriving content clusters with no lists
    and coarse codes (measured: the head-vs-hash table in BASELINE.md
    round 9, a whole cluster planted outside the head). Ordering by
    ``xxhash64(vec_id, seed)`` keeps the identical bounded-TakeOrdered
    discipline (one distributed top-n, no full collect, no RNG) while
    making the sample a uniform draw over the WHOLE corpus regardless
    of ingestion order. vec_id breaks hash ties so the sample is total-
    order deterministic.

    The returned matrix is sorted by vec_id WITHIN the hash-drawn
    sample: selection (which rows) is decorrelated, presentation
    (row order, which seeds the trainers' first-k inits) stays the
    stable vec_id order — so on any corpus that fits inside
    ``train_rows`` the matrix is bit-identical to a full-corpus pull,
    and the hash only matters at the scale it exists for. (The first
    cut ordered the matrix by hash too; the re-shuffled Lloyd init
    dropped 7 of the 13 `ann_recall_check` legs below their gate
    floors on the 100-vector sf0.001 fixture — init fragility, not
    sample quality.)

    Arrow transfer (``toPandas``) instead of ``collect()``: a
    100k-row Row-object collect measured ~10 s of pure
    py4j/deserialize in the K=512 build; Arrow moves the same exact
    float values in a fraction of it."""
    import numpy as np

    pdf = (
        emb.select("vec_id", "embedding")
        .orderBy(
            F.xxhash64(F.col("vec_id"), F.lit(TRAIN_SAMPLE_SEED)),
            F.col("vec_id"),
        )
        .limit(train_rows)
        .toPandas()
        .sort_values("vec_id")
    )
    if not len(pdf):
        # loud + specific: the numpy failure this pre-empts is an
        # opaque shape error several frames deep in Lloyd
        raise ValueError(
            "cannot train a quantizer/codebook on an EMPTY corpus — "
            "index builds need at least one vector"
        )
    return np.array(list(pdf["embedding"]), dtype=np.float64)


def _train_sample(emb: DataFrame, train_rows: int):
    """Unit-normalized training matrix (see :func:`_train_matrix`)."""
    return _unit_rows(_train_matrix(emb, train_rows))


def _lloyd_blocks(x, m: int, ksub: int, iters: int):
    """Per-block Lloyd on an already-prepared training matrix
    (deterministic: init = first-ksub rows, fixed iterations, argmin
    ties → lowest code). Shared by :func:`pq_codebooks` (flat PQ of
    unit vectors) and :func:`residual_codebooks` (PQ of coarse
    residuals)."""
    import numpy as np

    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books = []
    for b in range(m):
        blk = x[:, b * sub : (b + 1) * sub]
        c = blk[:ksub].copy()
        for _ in range(iters):
            d = ((blk[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for j in range(ksub):
                members = blk[assign == j]
                if len(members):
                    c[j] = members.mean(0)
        books.append(c)
    return np.stack(books)


def _normalized_centroid_lookup(centroids):
    """(sorted centroid ids, row-aligned UNIT-normalized centroid
    matrix) — the residual pipeline's shared frame of reference: both
    the encode kernel and the serve-side distance tables subtract the
    same ĉ, so ||q̂ − x̂||² = ||(q̂ − ĉ) − r||² holds exactly."""
    import numpy as np

    cids, cmat = centroids
    order = np.argsort(cids)
    scids = np.asarray(cids, dtype=np.int64)[order]
    return scids, _unit_rows(np.asarray(cmat, dtype=np.float64)[order])


def residual_codebooks(
    emb: DataFrame,
    centroids,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 5,
    train_rows: int = PQ_TRAIN_ROWS,
):
    """PQ codebooks trained on COARSE RESIDUALS r = x̂ − ĉ(x) — the
    accuracy half of classic IVFADC (Jégou et al. 2011 §III: encode
    the residual to the assigned coarse centroid, not the vector;
    residual energy ≪ vector energy, so the same code budget spends
    its resolution where the coarse quantizer left error). Training
    mirrors :func:`pq_codebooks`' bounded-sample discipline; the
    assignment inside uses the same cosine kernel + lowest-id
    tie-break as the provided-quantizer encode path
    (:func:`_cosines_fast` — this trainer only ever runs against a
    provided/refined quantizer), so training residuals distribute
    exactly like the encode kernel's."""
    import numpy as np

    x = _train_sample(emb, train_rows)
    scids, scmat = _normalized_centroid_lookup(centroids)
    pick = np.searchsorted(
        scids, _argmax_lowest_id(_cosines_fast(x, scmat), scids)
    )
    return _lloyd_blocks(x - scmat[pick], m, ksub, iters)


def pq_encode(
    emb: DataFrame, codebooks, carry: tuple[str, ...] = (), centroids=None
) -> DataFrame:
    """Encode every vector to its PQ codes: (vec_id, pq_codes) where
    ``pq_codes[b]`` is the argmin-L2 code of unit-normalized sub-block
    ``b``. Broadcast codebooks, vectorized Arrow batches — a narrow
    map with zero shuffle; at 100 TB the code column is what the ANN
    serving layer stores (16× smaller than the vectors). ``carry``
    passes extra input columns through the kernel unchanged — the
    IVF-PQ hybrid build carries ``centroid_id`` so assign + encode
    stay ONE corpus pass with no vec_id join.

    ``centroids``: when given (ids, matrix), encode the COARSE
    RESIDUAL x̂ − ĉ(centroid_id) instead of x̂ — the IVFADC residual
    mode; requires ``centroid_id`` in the input (normally via
    ``carry``), and ``codebooks`` trained by
    :func:`residual_codebooks`."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    lookup = (
        None if centroids is None else _normalized_centroid_lookup(centroids)
    )
    bc = spark.sparkContext.broadcast((codebooks, carry, lookup))

    def kernel(batches):
        books, keep, look = bc.value
        m, _, sub = books.shape
        for pdf in batches:
            if not len(pdf):
                continue  # np.array(list(...)) on an empty batch → shape (0,)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            x = _unit_rows(np.array(list(pdf["embedding"]), dtype=np.float64))
            if look is not None:
                scids, scmat = look
                batch_cids = pdf["centroid_id"].to_numpy(dtype=np.int64)
                cidx = np.minimum(
                    np.searchsorted(scids, batch_cids), len(scids) - 1
                )
                if not np.array_equal(scids[cidx], batch_cids):
                    # searchsorted would otherwise silently subtract
                    # the insertion-point NEIGHBOR and write garbage
                    # residual codes — the drift the meta artifact
                    # exists to prevent must be loud here too
                    raise ValueError(
                        "centroid_id(s) in the batch are not in the "
                        "provided quantizer — assignments and "
                        "quantizer are out of sync"
                    )
                x = x - scmat[cidx]
            codes = np.zeros((len(ids), m), dtype=np.int32)
            for b in range(m):
                blk = x[:, b * sub : (b + 1) * sub]
                d = ((blk[:, None, :] - books[b][None, :, :]) ** 2).sum(-1)
                codes[:, b] = d.argmin(1)
            out = {"vec_id": ids, "pq_codes": list(codes)}
            for c in keep:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    from ..sources.parquet import fan_out

    schema = "vec_id long, pq_codes array<int>"
    for c in carry:
        schema += f", {c} {emb.schema[c].dataType.simpleString()}"
    return fan_out(emb.select("vec_id", "embedding", *carry)).mapInPandas(
        kernel, schema
    )


def _pq_dtabs(books, qx):
    """Per-query ADC distance tables: dtabs[q][b][c] =
    ||q_block_b − centroid_bc||² over unit-normalized queries."""
    import numpy as np

    sub = books.shape[2]
    return np.stack(
        [
            np.stack(
                [
                    ((qx[i, b * sub : (b + 1) * sub][None, :] - books[b]) ** 2).sum(
                        -1
                    )
                    for b in range(books.shape[0])
                ]
            )
            for i in range(len(qx))
        ]
    )


#: what every ADC emitter yields: task-local top-S rows per query
_ADC_SCHEMA = "query_id long, vec_id long, adist double"


def _adc_top_s(ids, cds, tabs, groups, topn: int, excl: bool):
    """THE ADC scoring + per-query top-S kernel every PQ-coded serve
    runs inside its tasks — live or persisted, flat or probed, latency
    or bulk. ``ids``/``cds`` are one batch's vec_ids and (n, m) codes;
    ``groups`` yields ``(q, rows, tix)``: query ``q``'s candidate rows
    of the batch (a slice or index array) and the index in ``tabs`` of
    their distance table — one int (a table per query: flat codes) or
    an int per row (residual codes: a table per (query, probed list)).

    A row's asymmetric distance gathers its table's per-block entries
    at its codes and sums them across blocks; the query's own id is
    dropped when ``excl``; the (adist, vec_id) lexicographic order
    keeps ties exact; the first ``topn`` rows leave as a (query_id,
    vec_id, adist) frame. The global top-S is a subset of the union of
    per-task top-S, so the shortlist window downstream sees #tasks·S
    rows per query, never the corpus."""
    import numpy as np
    import pandas as pd

    blocks = np.arange(cds.shape[1])[None, :]
    for q, rows, tix in groups:
        b_ids = ids[rows]
        ad = tabs[np.asarray(tix)[..., None], blocks, cds[rows]].sum(axis=1)
        if excl:
            keep = b_ids != q
            b_ids, ad = b_ids[keep], ad[keep]
        sel = np.lexsort((b_ids, ad))[:topn]
        yield pd.DataFrame(
            {
                "query_id": np.full(len(sel), q, dtype=np.int64),
                "vec_id": b_ids[sel],
                "adist": ad[sel],
            }
        )


def _shortlist(scored: DataFrame, top_s: int) -> DataFrame:
    """THE shortlist window over the ADC emitters' task-local top-S
    rows: the ``top_s`` smallest asymmetric distances per query in
    (adist, vec_id) order — total, so the shortlist is deterministic
    under any partitioning."""
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("ark", F.row_number().over(w))
        .filter(F.col("ark") <= top_s)
        .select("query_id", "vec_id")
    )


def _adc_flat_scan(
    codes: DataFrame, qids, tabs, top_s: int, excl: bool = True
) -> DataFrame:
    """ADC scan of a flat ``(vec_id, pq_codes)`` frame: every row is
    scored for every query against the broadcast per-query distance
    tables ``tabs`` (:func:`_pq_dtabs`), emitting each task's local
    top-``top_s`` per query through :func:`_adc_top_s`. Shared by the
    live :func:`pq_topk` and the ``pq`` latency serve."""
    import numpy as np

    bc = codes.sparkSession.sparkContext.broadcast((qids, tabs, top_s, excl))

    def adc(batches):
        q_ids, tabs_, topn, excl_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue  # codes.shape would be (0,)
            yield from _adc_top_s(
                pdf["vec_id"].to_numpy(dtype=np.int64),
                np.array(list(pdf["pq_codes"]), dtype=np.int64),
                tabs_,
                ((q, slice(None), i) for i, q in enumerate(q_ids)),
                topn,
                excl_,
            )

    return codes.mapInPandas(adc, _ADC_SCHEMA)


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """PQ-ADC approximate top-k: score the ENCODED corpus against each
    query's per-block distance table (asymmetric distance — query
    stays exact, corpus is 16-byte codes), keep the
    ``shortlist``·k-smallest per query, then exact-cosine re-rank the
    shortlist. Unit-norm encoding makes L2-ADC order track cosine
    order.

    Scale shape: the ADC pass reads only the code column (16 bytes a
    vector instead of 256) with a broadcast (m × ksub) table per
    query — a narrow map over the compressed corpus that emits only
    its task-local top-S per query (:func:`_adc_top_s`), so the
    per-query ranking window sees #tasks·S rows, never the corpus; the
    exact pass touches shortlist·k rows per query. Recall vs brute
    force is gate-checked through ann_recall_check and asserted
    tighter in tests/test_similarity.py."""
    import numpy as np

    books = pq_codebooks(emb, m, ksub)
    qrows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    top_s = shortlist * k
    scored = _adc_flat_scan(
        pq_encode(emb, books), qids, _pq_dtabs(books, _unit_rows(qmat)), top_s
    )
    cands = _shortlist(scored, top_s)
    qv = _query_rows(emb, query_ids)
    return _cosine_top_k(
        cands.join(F.broadcast(qv), "query_id").join(
            emb.select("vec_id", "embedding"), "vec_id"
        ),
        k,
    )


#: SemDeDup flag threshold — aligned with the exact near-dup tier so
#: every flagged pair is also an embedding_near_pairs pair.
SEMDEDUP_THRESHOLD = 0.4
#: Target within-cluster list size: k scales as n / this, keeping the
#: per-cluster quadratic kernel CONSTANT-cost and the total LINEAR.
SEMDEDUP_ROWS_PER_CLUSTER = 100
#: Broadcast ceiling for the derived quantizer: 65 536 × 64-d float64
#: ≈ 33 MB, comfortably broadcastable. Beyond ~6.5 M vectors the
#: lists grow past the target again — at that scale the quantizer
#: itself gets sharded (hierarchical coarse quantizer), which is a
#: layout change, not a semantics change.
SEMDEDUP_MAX_K = 65_536


# --------------------------------------------------------------------
# ANN10 (round 8): partitioned raw-vector store — the shortlist-sized
# exact re-rank. The PQ-family serves keep real vectors OUT of the
# index (16-byte codes), so their exact re-rank must fetch the
# shortlist's raw vectors from somewhere. Joining against the live
# embeddings frame is correct but CORPUS-SHAPED: the shortlist side
# broadcasts and the whole raw-vector table streams through the join
# — at 100 TB that scan dominates the serve (the round-8 crossover
# probe measured exactly this: ADC corpus-independence was won, then
# buried under a shared full-corpus re-rank). The store fixes the
# last corpus-shaped phase: raw vectors land hive-partitioned by
# ``bucket = pmod(hash(vec_id), n)`` — the ANN-lists layout, NOT a
# metastore bucketed table, because a bucketed SCAN schedules one
# task per bucket whether pruned or not (measured: 512 mostly-empty
# tasks cost 3-6 s of pure scheduling per serve) — and the serve
# reads ONLY the shortlist ids' bucket directories (explicit paths
# under ``basePath``, the ``_read_probed_lists`` discipline), so
# re-rank IO and task count track the shortlist, never the corpus.
# Maintained like every serving artifact: CF1 folds append
# new/updated vectors under their generation with NULL-embedding
# tombstones for deletes (the store's hygiene never depends on the
# index's tombstones), replays collapse by full-row distinct, and
# compaction nets the line back to gen 0.

#: Default bucket count for the raw-vector store. Size it so
#: #buckets ≫ the shortlist size you serve with (selected fraction ≈
#: #shortlist-ids / #buckets); at 100 TB that means 10⁴-10⁵ buckets
#: of a few GB each. The count is stamped into ``{path}/meta`` and
#: every append/serve derives buckets from the stamp — a mismatched
#: count would route probe ids to directories their rows aren't in.
VECTOR_STORE_BUCKETS = 64

#: guards the raise-only discovery-threshold bump below — conf reads
#: and sets are not atomic together, so two concurrent serves could
#: otherwise interleave read/set and lose one side's raise
_DISCOVERY_LOCK = threading.Lock()
_DISCOVERY_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _raise_discovery_threshold(spark, needed: int) -> None:
    """RAISE-ONLY, process-wide bump of the parallel-partition-
    discovery threshold so an explicit-directory read of ``needed``
    paths lists DRIVER-SIDE instead of launching a distributed
    listing job (the round-8 measurement behind the per-list layout:
    the job costs more than it saves at any shortlist size).

    CONCURRENCY CONTRACT: the threshold is session-global, so a
    set-then-restore bracket races — serve A's ``finally`` can
    re-lower the conf under serve B's still-unresolved read. This
    helper is monotone (never lowers) and compare-and-sets under a
    module lock, so any number of concurrent serves from one session
    compose: each read sees a threshold ≥ what it asked for. The
    session-wide effect is that OTHER partitioned reads with up to
    the raised bar's directory count also list driver-side — the
    direction every measurement in this module points (driver listing
    of even thousands of dirs is sequential metadata calls; the
    distributed job is a full scheduler round-trip)."""
    with _DISCOVERY_LOCK:
        if int(spark.conf.get(_DISCOVERY_CONF)) < needed:
            spark.conf.set(_DISCOVERY_CONF, str(needed))


def _store_bucket_col(n_buckets: int):
    return F.pmod(F.hash(F.col("vec_id")), F.lit(n_buckets))


def _murmur3_long(x: int, seed: int = 42) -> int:
    """Spark's ``F.hash`` for a LongType column, replicated in Python
    (Murmur3 x86_32 ``hashLong``: low word then high word mixed as
    two k1 rounds, fmix over 8 bytes, seed 42) — so the serve can
    route shortlist ids to their bucket directories WITHOUT a Spark
    job. Bit-equality with ``F.hash`` is pytest-pinned across
    negative/positive/wide ids (tests/test_similarity.py); a drift
    here would route probes to directories their rows aren't in,
    which the pin exists to catch."""
    M = 0xFFFFFFFF

    def rotl(v, r):
        return ((v << r) | (v >> (32 - r))) & M

    def mix_k1(k1):
        k1 = (k1 * 0xCC9E2D51) & M
        k1 = rotl(k1, 15)
        return (k1 * 0x1B873593) & M

    def mix_h1(h1, k1):
        h1 ^= k1
        h1 = rotl(h1, 13)
        return (h1 * 5 + 0xE6546B64) & M

    u = x & 0xFFFFFFFFFFFFFFFF
    h1 = mix_h1(seed & M, mix_k1(u & M))
    h1 = mix_h1(h1, mix_k1((u >> 32) & M))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1  # signed int32


def _store_bucket_of(vec_id: int, n_buckets: int) -> int:
    """Driver-side twin of :func:`_store_bucket_col` (pmod of the
    signed murmur3)."""
    return _murmur3_long(int(vec_id)) % n_buckets


def _stored_store_buckets(spark, path: str) -> int:
    return int(
        spark.read.parquet(f"{path.rstrip('/')}/meta").collect()[0].n_buckets
    )


def _write_store_rows(
    rows: DataFrame, path: str, n_buckets: int, sub: str = "rows"
) -> None:
    """One file per (bucket, write): repartition by bucket before the
    hive-partitioned write — the `_write_list_partitions` lesson (a
    32-task write into 512 dirs otherwise leaves ~16k files whose
    listing cost dwarfs what the pruning saves). ``sub`` lets the
    compaction stage into a sibling directory for its rename-swap."""
    (
        rows.withColumn("bucket", _store_bucket_col(n_buckets))
        .repartition(F.col("bucket"))
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(f"{path.rstrip('/')}/{sub}")
    )


def write_vector_store(
    emb: DataFrame,
    path: str,
    n_buckets: int = VECTOR_STORE_BUCKETS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Persist the corpus's raw vectors as the re-rank serving store:
    ``(vec_id, embedding, gen)`` under ``{path}/rows/bucket=…`` with
    the bucket count stamped in ``{path}/meta``, gen 0 = the base
    build. Pass ``path`` as ``vector_store=`` to
    :func:`ann_topk_indexed` / :func:`ann_topk_bulk` for a PQ-coded
    index and the exact re-rank becomes a directory-pruned point
    lookup instead of a full raw-vector scan."""
    spark = emb.sparkSession
    from ..sources.lakehouse import _hfs

    fs, jvm = _hfs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    # crash-ordering: meta is deleted FIRST and rewritten LAST, so a
    # rebuild torn anywhere leaves a store with NO meta — every read
    # raises loudly — never a stale bucket-count stamp over new rows
    # (which would silently route probes to the wrong directories)
    for sub in ("meta", "rows"):
        if fs.exists(P(f"{path.rstrip('/')}/{sub}")):
            fs.delete(P(f"{path.rstrip('/')}/{sub}"), True)
    rows = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(emb_col).alias("embedding"),
    ).withColumn("gen", F.lit(0).cast("int"))
    _write_store_rows(rows, path, n_buckets)
    emb_t = rows.schema["embedding"].dataType.simpleString()
    spark.createDataFrame(
        [(n_buckets, emb_t)], "n_buckets int, emb_type string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path.rstrip('/')}/meta"
    )


def apply_changes_to_vector_store(
    spark,
    changes: DataFrame,
    path: str,
    gen: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """CF1 fold for the store: inserts/update-postimages append the
    new vector under the fold's generation; deletes/update-preimages
    append a NULL-embedding tombstone row. Serve-side resolution is
    latest-gen wins, live beats dead at equal gen (an update's
    pre+post land together), NULL dropped (:func:`_store_vectors`).
    Replays collapse by full-row distinct — the same contract as
    every signed-ledger fold, so this composes with ``stream_fold``
    unchanged (exactly-once end to end). Bucket routing comes from
    the STORED stamp, never a caller argument (a mismatched count
    would route ids to directories their rows aren't in)."""
    if gen <= 0:
        raise ValueError(f"gen must be > 0 (got {gen}); 0 is the base build")
    n_buckets = _stored_store_buckets(spark, path)
    emb_t = changes.schema[emb_col].dataType
    live = changes.filter(F.col("_change_type").isin(*CDF_LIVE_TYPES)).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(emb_col).alias("embedding"),
    )
    dead = changes.filter(F.col("_change_type").isin(*CDF_DEAD_TYPES)).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.lit(None).cast(emb_t).alias("embedding"),
    )
    delta = live.unionByName(dead).withColumn("gen", F.lit(gen).cast("int"))
    _write_store_rows(delta, path, n_buckets)


def _fs_must(ok: bool, what: str) -> None:
    """Hadoop FileSystem.delete/rename report failure by RETURNING
    false, not raising — an ignored false turns into silent layout
    corruption (a rename into an existing destination nests the
    source INSIDE it). Every swap step checks."""
    if not ok:
        raise IOError(f"filesystem operation failed: {what}")


def compact_vector_store(spark, path: str) -> None:
    """Collapse the fold line back to gen 0: latest live row per id
    (dead ids physically dropped), rewritten as one file per bucket.

    CRASH ORDERING — RENAME-ASIDE, never delete-then-rename: the
    netted rows are STAGED to ``rows.compact`` (reading the live
    ``rows`` tree, writing next to it), then ``rows`` is renamed
    aside to ``rows.old``, the stage renamed in, and ``rows.old``
    deleted last. Renames are single metadata operations; a recursive
    DELETE of a multi-bucket tree is not atomic (the round-9 review:
    delete-then-rename left a window where a crash mid-delete plus
    the 'stale stage' cleanup destroyed the only complete copy), so
    no step of this ordering ever has the store's only complete copy
    inside a non-atomic operation. Recovery by state, run this
    function again: stage partial + rows live → stage cleared,
    recompacted; rows renamed aside but stage not yet in → the stage
    (complete by ordering) renames in, old cleared; new rows in but
    old not yet deleted → old cleared. Every fs.rename/delete return
    code is checked (:func:`_fs_must`).

    SINGLE WRITER REQUIRED: compaction assumes it owns the store tree
    for the duration of the call (the maintenance-cadence shape —
    one scheduled compactor per store). Two CONCURRENT compactions
    race destructively: run B's stale-leftover cleanup can delete
    run A's completed ``rows.compact`` stage mid-swap, making A's
    rename(stage→base) fail after ``rows`` was already renamed aside
    — a torn old-only state until the next run heals it. A hard lock
    file is deliberately NOT used: recovery-by-rerun after a crash is
    part of the contract above, and a stale lock would block exactly
    that rerun. Serves may run concurrently with one compactor (the
    rename ordering keeps a complete copy visible throughout);
    compactors may not run concurrently with each other."""
    from ..sources.lakehouse import _hfs

    n_buckets = _stored_store_buckets(spark, path)
    base = f"{path.rstrip('/')}/rows"
    stage = f"{path.rstrip('/')}/rows.compact"
    old = f"{path.rstrip('/')}/rows.old"
    fs, jvm = _hfs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(P(base)):
        # torn swap from a prior crash, mid-window: rows was renamed
        # aside and the stage (complete by the ordering above — it is
        # only renamed in whole) hasn't landed yet
        if fs.exists(P(stage)):
            _fs_must(fs.rename(P(stage), P(base)), f"rename {stage} -> {base}")
        elif fs.exists(P(old)):
            # stage already renamed in and back out? unreachable by
            # the ordering — but an old-only state still restores
            _fs_must(fs.rename(P(old), P(base)), f"rename {old} -> {base}")
        else:
            raise ValueError(f"no vector store rows at {base}")
    for leftover in (stage, old):  # stale stage / aside from a crash
        if fs.exists(P(leftover)):
            _fs_must(fs.delete(P(leftover), True), f"delete {leftover}")
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("gen"), F.asc(F.col("embedding").isNull().cast("int"))
    )
    netted = (
        spark.read.parquet(base)
        .drop("bucket")
        .distinct()
        .withColumn("_r", F.row_number().over(w))
        .filter((F.col("_r") == 1) & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .withColumn("gen", F.lit(0).cast("int"))
    )
    _write_store_rows(netted, path, n_buckets, sub="rows.compact")
    _fs_must(fs.rename(P(base), P(old)), f"rename {base} -> {old}")
    _fs_must(fs.rename(P(stage), P(base)), f"rename {stage} -> {base}")
    _fs_must(fs.delete(P(old), True), f"delete {old}")


def _store_vectors(spark, path: str, vec_ids) -> DataFrame:
    """Latest live vector per shortlisted id, reading ONLY the ids'
    bucket directories. Bucket selection replays the write-side hash
    driver-side (:func:`_murmur3_long`, the pinned ``F.hash`` twin —
    no Spark job); directory listing is forced
    DRIVER-SIDE for the read (#selected-buckets sequential list
    calls) because the distributed-listing job Spark launches above
    ``parallelPartitionDiscovery.threshold`` costs more than it saves
    at any shortlist size — the same measurement that shaped
    ``_read_probed_lists``. The threshold bump is RAISE-ONLY under a
    lock (:func:`_raise_discovery_threshold`) so concurrent serves
    from one session never re-lower it under each other. The redundant ``bucket`` isin filter
    keeps an explicit PartitionFilter in the plan (plan-asserted);
    ``distinct`` collapses fold replays; the per-id resolution window
    runs over shortlist-sized rows only."""
    from ..sources.lakehouse import _hfs

    ids = sorted({int(v) for v in vec_ids})
    meta = spark.read.parquet(f"{path.rstrip('/')}/meta").collect()[0]
    if not ids:
        # empty shortlist: short-circuit — the full-tree fallback
        # below would pay a #buckets-directory discovery for nothing
        return spark.createDataFrame(
            [], f"vec_id long, embedding {meta.emb_type}"
        )
    n_buckets = int(meta.n_buckets)
    base = f"{path.rstrip('/')}/rows"
    sel = sorted({_store_bucket_of(i, n_buckets) for i in ids})
    fs, jvm = _hfs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    dirs = [
        d for b in sel if fs.exists(P(d := f"{base}/bucket={b}"))
    ]
    _raise_discovery_threshold(spark, len(dirs) + 1)
    reader = spark.read.option("basePath", base)
    rows = reader.parquet(*dirs) if dirs else spark.read.parquet(base)
    pruned = (
        rows.filter(F.col("bucket").isin(sel) if sel else F.lit(False))
        .filter(F.col("vec_id").isin(ids))
        .drop("bucket")
        .distinct()
    )
    return _latest_live(pruned)


def _latest_live(rows: DataFrame) -> DataFrame:
    """Store fold resolution shared by every read shape: latest gen
    wins, live beats dead at equal gen (an update's pre+post land
    together), NULL-embedding tombstones dropped."""
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("gen"), F.asc(F.col("embedding").isNull().cast("int"))
    )
    return (
        rows.withColumn("_r", F.row_number().over(w))
        .filter((F.col("_r") == 1) & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )


def _store_all_vectors(spark, path: str) -> DataFrame:
    """FULL-store resolution read — the LARGE-batch bulk re-rank
    source. A huge bulk serve's shortlist is #queries-shaped, so
    collecting its ids to route to bucket directories (the latency
    path's :func:`_store_vectors`) stops being bounded; instead the
    whole rows tree is read once and resolved, a corpus-shaped scan
    AMORTIZED over the entire query batch (the same economics as the
    bulk candidates join). Small batches never get here:
    :func:`_bulk_rerank_source` routes them through the pruned read,
    because below the cutoff the shortlist's id set IS bounded and
    the whole-store scan pays corpus-shaped IO for nothing."""
    rows = spark.read.parquet(f"{path.rstrip('/')}/rows").drop("bucket").distinct()
    return _latest_live(rows)


#: Bulk re-rank routing cutoff (round 10, verdict What's-wrong #2):
#: a bulk serve whose shortlist id BOUND (#queries × shortlist × k)
#: is at or below this collects the shortlist and routes the store
#: read through :func:`_store_vectors`'s bucket-directory pruning —
#: the latency path's read; above it the whole-store resolution scan
#: amortizes over the batch. The value is MEASURED, and the
#: measurement (BASELINE.md round-10 routing table, 2M/2,000-bucket
#: store) rejected the a-priori guess of ~256k: the pruned route
#: wins only at near-latency batches (8 queries: 7.3 s / 282 MB
#: touched vs 7.6 s / 525 MB) and LOSES 2×–14× from 64 queries up
#: (64: 17.0 vs 8.0 s; 512: 108 vs 12.4 s; 2,048: 364 vs 26.7 s) —
#: the per-id ``isin`` predicate grows linearly into an
#: analyzer/codegen-dominating expression while bucket selectivity
#: collapses (at #ids ≳ #buckets·ln(#buckets)/#buckets every bucket
#: is hit: 12k ids already blanket 2,000 buckets). 2,048 ids ≈ a
#: 10-query batch at default geometry — exactly the overlap zone
#: where a caller might hand the bulk API a latency-sized batch.
BULK_RERANK_PRUNE_MAX_IDS = 2_048


def _collected_store_source(spark, shortlisted: DataFrame, path: str):
    """Collect a shortlist that is bounded by CONSTRUCTION (its
    row_number filter caps it at #queries·top_s two-long rows) and
    return it as a local frame together with its ids' latest-live
    vectors, read from only their bucket directories
    (:func:`_store_vectors`). The collect materializes the ADC pipeline
    exactly once and replaces the lazy plan. A direct collect, not
    :func:`_bounded_collect`: the guard's count-first would execute the
    whole upstream ADC scan a second time — measured 2-3× on the serve
    wall-clock."""
    rows = shortlisted.collect()
    local = spark.createDataFrame(
        [(int(r.query_id), int(r.vec_id)) for r in rows],
        "query_id long, vec_id long",
    )
    return local, _store_vectors(spark, path, sorted({int(r.vec_id) for r in rows}))


def _bulk_rerank_source(
    spark,
    queries: DataFrame,
    shortlisted: DataFrame,
    top_s: int,
    path: str,
    n_queries: int | None = None,
    prune_max_ids: int | None = None,
):
    """Route a bulk serve's store re-rank by batch size: returns the
    (shortlisted, vecs) pair for the re-rank join.

    SMALL batches (#queries × top_s ≤ cutoff): collect the shortlist
    and read only its ids' bucket directories
    (:func:`_collected_store_source`, the latency path's pruned read).
    LARGE batches: keep the lazy plan and resolve the whole store once
    (:func:`_store_all_vectors`). Bit-identical either way — both
    reads resolve the same latest-live vectors (pinned in
    tests/test_similarity.py under a forced cutoff of 0).

    ``n_queries``: the batch size if the caller already counted the
    query frame (round 11 — a serve that counted for its block grid
    must not schedule a second count job); None counts here.
    ``prune_max_ids`` overrides :data:`BULK_RERANK_PRUNE_MAX_IDS`
    (probes/tests pass the cutoff explicitly instead of mutating the
    module global, which would not survive concurrent serves)."""
    cutoff = (
        BULK_RERANK_PRUNE_MAX_IDS if prune_max_ids is None else prune_max_ids
    )
    nq = queries.count() if n_queries is None else n_queries
    if nq * top_s > cutoff:
        return shortlisted, _store_all_vectors(spark, path)
    return _collected_store_source(spark, shortlisted, path)


def _query_vectors(spark, queries: list[tuple[int, list[float]]], elem_t):
    """Driver-list queries as a broadcast ``(query_id, qv)`` frame,
    cast to the corpus element type so scoring arithmetic is
    bit-identical with the live path (float→double→float is exact)."""
    return F.broadcast(
        spark.createDataFrame(
            [(int(q), [float(x) for x in v]) for q, v in queries],
            "query_id long, qv array<double>",
        ).select("query_id", F.col("qv").cast(elem_t).alias("qv"))
    )


def _exact_rerank(
    spark,
    shortlisted: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    emb: DataFrame | None = None,
    vector_store: str | None = None,
) -> DataFrame:
    """Exact-cosine re-rank of a per-query shortlist ``(query_id,
    vec_id)`` — the latency tail of the PQ-coded serves. With ``emb``
    the raw-vector join streams the whole corpus frame (correct, but
    the one corpus-shaped phase left in an indexed serve); with
    ``vector_store`` the shortlist is collected and the store read
    touches only its ids' bucket directories. Bit-identical results
    either way — same vectors, same element-type cast, same rounding,
    same tie-breaks (:func:`_cosine_top_k`; pinned in
    tests/test_similarity.py)."""
    if vector_store is not None:
        shortlisted, vecs = _collected_store_source(
            spark, shortlisted, vector_store
        )
    else:
        vecs = emb.select("vec_id", "embedding")
    qv = _query_vectors(spark, queries, vecs.schema["embedding"].dataType)
    return _cosine_top_k(shortlisted.join(qv, "query_id").join(vecs, "vec_id"), k)


def _bulk_exact_tail(
    spark,
    queries: DataFrame,
    shortlisted: DataFrame,
    top_s: int,
    k: int,
    emb: DataFrame | None,
    vector_store: str | None,
    n_queries: int | None = None,
    prune_max_ids: int | None = None,
) -> DataFrame:
    """Bulk twin of :func:`_exact_rerank`: resolve the re-rank vector
    source (live frame, or the store routed by batch size via
    :func:`_bulk_rerank_source` — ``n_queries`` / ``prune_max_ids``
    thread through), cast the query frame to the corpus element type,
    and rank through the same :func:`_cosine_top_k`, so rounding,
    tie-breaks and output schema can never drift between the serve
    shapes."""
    if emb is not None:
        vecs = emb.select("vec_id", "embedding")
    else:
        shortlisted, vecs = _bulk_rerank_source(
            spark,
            queries,
            shortlisted,
            top_s,
            vector_store,
            n_queries=n_queries,
            prune_max_ids=prune_max_ids,
        )
    elem_t = vecs.schema["embedding"].dataType
    qv = queries.select(
        "query_id",
        F.col("embedding").cast("array<double>").cast(elem_t).alias("qv"),
    )
    return _cosine_top_k(shortlisted.join(qv, "query_id").join(vecs, "vec_id"), k)


# --------------------------------------------------------------------
# The persisted ANN index core: ONE life cycle (write, append, change
# fold, tombstone, compaction, crash recovery) and ONE serve path
# (probe, ADC or exact scan, re-rank) for the three index families.
# An index carries its own kind — read back from the artifacts under
# ``path``, so no caller past the build ever names it:
#
# - ``ivf``: ``centroids/`` (the coarse quantizer) + ``lists/`` — raw
#   vectors hive-partitioned by ``(centroid_id, append_id)``. A probe
#   partition-prunes to its nprobe lists and scores their stored
#   vectors exactly; no shortlist, no re-rank.
# - ``pq``: ``codebooks/`` + ``codes/`` — ``(vec_id, pq_codes)``, 16
#   bytes a vector, partitioned by ``append_id`` alone. Flat PQ has no
#   quantizer to prune by: every query ADC-scans the whole code table
#   (corpus-shaped by construction — the round-6 measurement), then
#   exact-re-ranks its shortlist.
# - ``ivfpq`` / ``ivfpq_residual``: all of the above composed — PQ
#   codes stored INSIDE the coarse quantizer's centroid-partitioned
#   lists, the FAISS IVFADC layout (Jégou et al. 2011, public), plus a
#   ``meta/`` row recording the encoding. A probe prunes to nprobe
#   lists, ADC-scans only their codes, exact-re-ranks the shortlist —
#   serve cost tracks nprobe/k of the code table, not the corpus.
#
# ENCODING CHOICE for the hybrid: ``ivfpq`` codes are FLAT PQ of the
# unit-normalized vectors, not the residual (x − centroid) classic
# IVFADC uses. Residual codes buy ADC accuracy; the exact re-rank of
# the shortlist buys it back here, and flat codes make the hybrid
# BIT-COMPATIBLE with the flat index — probing ALL lists is provably
# identical to the ``pq`` serve on the same codebooks (pinned in
# tests/test_similarity.py), the equality that keeps the hybrid
# testable without a second oracle. ``ivfpq_residual`` (round 8) is
# the opt-in accuracy mode (Jégou 2011 §III): codes are PQ of
# r = x̂ − ĉ(x), served with per-(query, probed list) distance tables
# over q̂ − ĉ; the mode is recorded in ``meta`` so append and serve
# stay self-consistent (an absent ``meta`` — hybrids written before it
# existed — means flat).
#
# Serve strategies stay the ones the index's shape selects: flat PQ
# runs the every-code × every-query product (broadcast tables in the
# latency shape, a cogroup grid in bulk); IVF and IVF-PQ join the
# probed lists. Latency (driver-list queries) and bulk (a query
# DataFrame) remain two entry points — their crossovers are measured
# (BASELINE.md round 10) and bit-equality between them is pinned.
# --------------------------------------------------------------------

#: The persisted index kinds :func:`write_ann_index` builds.
ANN_KINDS = ("ivf", "pq", "ivfpq", "ivfpq_residual")
#: The artifact directories each kind owns. A write removes every
#: OTHER kind's artifacts under its path — a stale ``codebooks/`` left
#: when an IVF-PQ path is rebuilt as IVF would otherwise make the path
#: read back as IVF-PQ.
_KIND_ARTIFACTS = {
    "ivf": ("centroids", "lists"),
    "pq": ("codebooks", "codes"),
    "ivfpq": ("centroids", "codebooks", "meta", "lists"),
    "ivfpq_residual": ("centroids", "codebooks", "meta", "lists"),
}
_TOMBSTONES = "_tombstones"


def _data_dir(kind: str) -> str:
    """The generation-partitioned table of ``kind`` — ``codes`` for
    flat PQ, ``lists`` for the centroid-partitioned kinds — and the
    home of its ``_tombstones``."""
    return "codes" if kind == "pq" else "lists"


def _index_kind(spark, path: str) -> str:
    """Read a persisted index's kind from the artifacts that already
    exist: ``centroids/`` means a coarse quantizer, ``codebooks/``
    means PQ codes, both mean the hybrid (residual per its ``meta``).
    Neither raises — the path holds no index."""
    from ..sources.lakehouse import _hfs

    root = path.rstrip("/")
    fs, jvm = _hfs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    coarse = fs.exists(P(f"{root}/centroids"))
    coded = fs.exists(P(f"{root}/codebooks"))
    if coarse and coded:
        return "ivfpq_residual" if _stored_ivfpq_residual(spark, root) else "ivfpq"
    if not (coarse or coded):
        raise ValueError(
            f"no ANN index at {path}: neither centroids/ nor codebooks/"
        )
    return "ivf" if coarse else "pq"


def _stored_centroids(spark, path: str):
    """Load a persisted index's quantizer as the (ids, matrix) pair
    the assignment/probe kernels take."""
    import numpy as np

    crows = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["centroid_id"],
    )
    cids = np.array([r["centroid_id"] for r in crows], dtype=np.int64)
    cmat = np.array([r["embedding"] for r in crows], dtype=np.float64)
    return cids, cmat


def _stored_codebooks(spark, path: str):
    """Reconstruct the (m, ksub, dim//m) codebook array from a
    persisted index's ``codebooks`` table."""
    import numpy as np

    crows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["block"] for r in crows)
    ksub = 1 + max(r["code"] for r in crows)
    sub = len(crows[0]["centroid"])
    books = np.zeros((m, ksub, sub))
    for r in crows:
        books[r["block"], r["code"]] = r["centroid"]
    return books


def _stored_ivfpq_residual(spark, path: str) -> bool:
    """Read a persisted hybrid's encoding mode. Indexes written before
    the meta artifact existed are flat by construction — absence means
    False, not an error."""
    from ..sources.lakehouse import _hfs

    fs, jvm = _hfs(spark, path)
    mpath = f"{path.rstrip('/')}/meta"
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(mpath)):
        return False
    return bool(spark.read.parquet(mpath).collect()[0]["residual"])


def _load_index(spark, path: str):
    """``(kind, centroids, codebooks)`` of a persisted index; the
    artifacts its kind lacks are None."""
    kind = _index_kind(spark, path)
    cq = None if kind == "pq" else _stored_centroids(spark, path)
    books = None if kind == "ivf" else _stored_codebooks(spark, path)
    return kind, cq, books


def _check_generation(append_id: int) -> None:
    if append_id <= 0:
        raise ValueError(
            f"append_id must be > 0 (got {append_id}); 0 is the base build"
        )


def write_ann_index(
    emb: DataFrame,
    path: str,
    kind: str,
    n_centroids: int = IVF_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    refine: bool = True,
    centroids=None,
    codebooks=None,
) -> None:
    """Persist an ANN serving index of ``kind`` (one of
    :data:`ANN_KINDS`) — the build-once/query-many production form of
    the live :func:`ivf_topk` / :func:`pq_topk`. Artifacts, per kind:

    - ``{path}/centroids`` (``ivf``, ``ivfpq*``) — the tiny coarse
      quantizer (centroid_id, embedding), one file;
    - ``{path}/codebooks`` (``pq``, ``ivfpq*``) — (block, code,
      centroid), m·ksub tiny rows;
    - ``{path}/meta`` (``ivfpq*``) — one row recording the encoding
      mode, so append/serve never have to be TOLD how the index was
      built (a mode mismatch would silently score garbage);
    - ``{path}/lists`` (``ivf``: raw vectors; ``ivfpq*``: ``(vec_id,
      pq_codes)``) hive-PARTITIONED by ``(centroid_id, append_id)``: a
      probe reads only its nprobe top-level directories, never
      scanning or shuffling the other lists;
    - ``{path}/codes`` (``pq``) — ``(vec_id, pq_codes)`` partitioned
      by ``append_id``: 16 bytes a vector at the default geometry, the
      only thing the ADC scan ever reads.

    The build lands as generation ``append_id=0``; daily batches fold
    in as higher ids via :func:`append_ann_index` without rewriting
    the base. Build is ONE corpus pass per kind: the assignment kernel
    carries the vector through (``ivf``), or assign + encode run as
    one fused kernel (:func:`_assign_and_encode`, ``ivfpq*``) — no
    vec_id join. Training happens before anything is written, and the
    write removes every other kind's artifacts under ``path``.

    ``refine`` DEFAULTS to True (round 8): the production build trains
    the Lloyd-refined quantizer (:func:`kmeans_centroids`, bounded
    driver-side sample). First-k centroids on real Zipfian embeddings
    give unbalanced inverted lists, which degrades both the probe's
    pruned fraction and recall at fixed nprobe — the two numbers the
    partition-pruned serving story rests on (BASELINE.md round-8
    quantizer table). ``refine=False`` keeps the deterministic first-k
    quantizer the SQL oracle mirrors. ``ivfpq_residual`` trains its
    codebooks on coarse residuals (:func:`residual_codebooks`) —
    finer codes at identical layout and serve cost.

    ``centroids`` / ``codebooks``: optional pretrained (ids, matrix)
    quantizer and (m, ksub, dim//m) codebooks — they override
    training (rebuild-equality tests; externally versioned
    quantizers — for ``ivfpq_residual`` the codebooks must be
    residual-trained). Parameters a kind has no artifact for are
    ignored. At 100 TB the raw vectors of the PQ kinds stay in cold
    storage (or a :func:`write_vector_store`); queries scan the
    16×-smaller codes and fetch real vectors only for the shortlist."""
    from ..sources.lakehouse import _hfs

    if kind not in ANN_KINDS:
        raise ValueError(f"kind must be one of {ANN_KINDS}, got {kind!r}")
    spark = emb.sparkSession
    root = path.rstrip("/")
    cq = books = None
    if kind != "pq":
        if centroids is not None:
            cq = centroids
        elif refine:
            cq = kmeans_centroids(emb, n_centroids)
        else:
            cq = _centroids(emb, n_centroids)
    if kind != "ivf":
        if codebooks is not None:
            books = codebooks
        elif kind == "ivfpq_residual":
            books = residual_codebooks(emb, cq, m, ksub)
        else:
            books = pq_codebooks(emb, m, ksub)
    fs, jvm = _hfs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    owned = set(_KIND_ARTIFACTS[kind])
    for name in sorted(set().union(*_KIND_ARTIFACTS.values()) - owned):
        if fs.exists(P(f"{root}/{name}")):
            _fs_must(fs.delete(P(f"{root}/{name}"), True), f"delete {name}")
    if cq is not None:
        cids, cmat = cq
        spark.createDataFrame(
            [(int(c), [float(x) for x in cmat[i]]) for i, c in enumerate(cids)],
            "centroid_id long, embedding array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    if books is not None:
        rows = [
            (b, j, [float(x) for x in books[b][j]])
            for b in range(books.shape[0])
            for j in range(books.shape[1])
        ]
        spark.createDataFrame(
            rows, "block int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/codebooks")
    if kind in ("ivfpq", "ivfpq_residual"):
        spark.createDataFrame(
            [(kind == "ivfpq_residual",)], "residual boolean"
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/meta")
    _write_generation(emb, root, kind, cq, books, 0)


def append_ann_index(batch: DataFrame, path: str, append_id: int) -> None:
    """The serving tier's daily loop (the index twin of
    ``dedup.append_signature_catalog``): assign and/or encode a NEW
    embedding batch with the index's STORED quantizer and codebooks —
    never retrained, so existing lists, codes, cached distance tables
    and every past probe stay valid — and land it as the batch's own
    ``append_id`` partitions. A hybrid's stored ``meta`` decides flat
    vs residual encoding, so the batch is encoded exactly the way the
    base build was. Cost is one narrow map over the batch plus a
    batch-sized write; the base is never re-read or rewritten, and
    probes keep partition-pruning on ``centroid_id`` as before.

    ``append_id`` identifies the batch (> 0; the base build owns 0)
    and makes replay IDEMPOTENT by layout: assignment and encoding are
    deterministic, so a crashed-and-re-run append dynamically
    overwrites exactly its own partitions with identical content — the
    staged-delta discipline of ``streaming/materialize.py``. Appending
    the same batch under TWO DIFFERENT ids is caller error (vectors
    would duplicate); queries do not dedup. Query equality with a
    same-quantizer one-shot rebuild and replay idempotence are pinned
    in tests/test_similarity.py. Quantizer or codebook drift as the
    corpus grows degrades recall, not correctness — rebuild on a
    maintenance cadence with a fresh :func:`write_ann_index`."""
    _check_generation(append_id)
    kind, cq, books = _load_index(batch.sparkSession, path)
    _write_generation(batch, path.rstrip("/"), kind, cq, books, append_id)


def _write_generation(
    batch: DataFrame, root: str, kind: str, cq, books, append_id: int
) -> None:
    """Assign/encode ``batch`` with the index's artifacts and land it
    as generation ``append_id`` of the kind's data table. The base
    build (0) is a STATIC overwrite, pinned explicitly: a rebuild must
    truncate the whole table, embedded ``_tombstones`` included — under
    a session-level dynamic default, stale ``append_id>0`` partitions
    of the previous layout would survive next to the fresh quantizer's
    and silently duplicate. An append is a DYNAMIC overwrite of exactly
    its own partitions."""
    if kind == "ivf":
        rows = ivf_assignments(batch, centroids=cq, with_embedding=True)
    elif kind == "pq":
        rows = pq_encode(batch, books)
    else:
        rows = _assign_and_encode(batch, cq, books, kind == "ivfpq_residual")
    _write_list_partitions(
        rows.withColumn("append_id", F.lit(append_id)),
        f"{root}/{_data_dir(kind)}",
        static=append_id == 0,
    )


def _write_list_partitions(df: DataFrame, dest: str, static: bool = False):
    """Write an index generation frame as the serving layout. A
    ``(…, centroid_id, append_id)`` frame is hive-partitioned AND first
    repartitioned by ``centroid_id``, so each list directory receives
    files from ONE task — one file per (list, write), not one per
    (list, shuffle task). This is load-bearing, measured in round 8:
    without the repartition, a K=512 build from 32 tasks left 16k+
    files under ``lists/`` and the probe's FILE LISTING cost (3.6–14
    s) dwarfed everything the partition pruning saved; with it the
    tree holds one file per non-empty list. One extra shuffle of the
    compact payload (16-byte codes / raw vectors) paid at BUILD time —
    the build-once/serve-many trade this index exists for. A
    pathological hot list still lands in one task/file; at sizes where
    one list outgrows a task, the centroid count is undersized for the
    corpus (the K ∝ √N rule) — fix K, not the writer. The flat PQ code
    table (no ``centroid_id``) partitions by ``append_id`` alone and
    keeps input-coalesced tasks: one directory, file count already
    small."""
    parts = ("append_id",)
    if "centroid_id" in df.columns:
        df, parts = df.repartition(F.col("centroid_id")), ("centroid_id", "append_id")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "static" if static else "dynamic")
        .partitionBy(*parts)
        .parquet(dest)
    )


def _assign_and_encode(
    emb: DataFrame, centroids, books, residual: bool
) -> DataFrame:
    """FUSED coarse-assign + PQ-encode kernel for the hybrid build:
    one ``mapInPandas`` stage instead of assignment piping the raw
    vector column through a second encode stage — at 2M × 64-d the
    two-stage chain moves the ~512 MB embedding column through two
    extra Arrow hops (JVM→Python→JVM→Python), which dominated the
    K=512 build. Math is IDENTICAL to
    ``pq_encode(ivf_assignments(..., with_embedding=True), books,
    carry=("centroid_id",), centroids=…)``: same fast-cosine
    assignment with the lowest-id tie sentinel, same unit-normalize,
    same residual subtraction against the shared normalized lookup,
    same per-block argmin — pinned by the all-probe ≡ flat-PQ
    bit-equality and the append/rebuild loops in tests."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    look = _normalized_centroid_lookup(centroids) if residual else None
    bc = spark.sparkContext.broadcast((centroids, books, residual, look))

    def kernel(batches):
        (cids, cmat), bks, res, lk = bc.value
        cids = np.asarray(cids, dtype=np.int64)
        m, _, sub = bks.shape
        # same rows × k bound as ivf_assignments
        block_rows = max(1, 4_194_304 // max(1, len(cids)))
        for pdf in batches:
            if not len(pdf):
                continue
            for lo in range(0, len(pdf), block_rows):
                blk = pdf.iloc[lo : lo + block_rows]
                ids = blk["vec_id"].to_numpy(dtype=np.int64)
                mat = np.array(list(blk["embedding"]), dtype=np.float64)
                pick = _argmax_lowest_id(_cosines_fast(mat, cmat), cids)
                x = _unit_rows(mat)
                if res:
                    scids, scmat = lk
                    x = x - scmat[np.searchsorted(scids, pick)]
                codes = np.zeros((len(ids), m), dtype=np.int32)
                for b in range(m):
                    xb = x[:, b * sub : (b + 1) * sub]
                    d = ((xb[:, None, :] - bks[b][None, :, :]) ** 2).sum(-1)
                    codes[:, b] = d.argmin(1)
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "pq_codes": list(codes),
                        "centroid_id": pick,
                    }
                )

    from ..sources.parquet import fan_out

    return fan_out(emb.select("vec_id", "embedding")).mapInPandas(
        kernel, "vec_id long, pq_codes array<int>, centroid_id long"
    )


def tombstone_index(spark, path: str, vec_ids, append_id: int) -> None:
    """Mark corpus vectors DEAD for every index generation before
    ``append_id`` — the delete/update half of the persisted ANN
    serving loop (every kind shares the ``append_id`` partition
    convention, so one tombstone layout serves all).

    A tombstone row lands under ``{path}/{lists|codes}/_tombstones/
    append_id=N`` (the kind's data table; the underscore prefix hides
    it from the parquet scans of the enclosing dir) and kills matching
    ``vec_id`` rows with ``append_id < N`` at probe time. Living
    INSIDE the data dir is load-bearing: a rebuild's static overwrite
    and a compaction's rename-swap replace data and tombstones in ONE
    atomic directory operation, so no crash ordering can pair fresh
    rows with stale tombstones. GENERATION SCOPING is the point: the
    same batch's own re-insert (an update's post-image appended under
    the same id) and any later re-insert survive their own tombstone,
    so delete + re-add compose without ever rewriting the base. Replay
    is idempotent by the same layout rule as the appends — a re-run
    dynamically overwrites exactly its own partition with identical
    content. The set is churn-sized (bounded by deletes + updates,
    never corpus size), which is why the probe-side filter may
    broadcast it; a rebuild clears it along with the data."""
    _check_generation(append_id)
    sub = _data_dir(_index_kind(spark, path))
    if not isinstance(vec_ids, DataFrame):
        vec_ids = spark.createDataFrame(
            [(int(v),) for v in vec_ids], "vec_id long"
        )
    (
        vec_ids.select("vec_id")
        .distinct()
        .withColumn("append_id", F.lit(append_id))
        .repartition(1)  # churn-sized by contract: one file per batch
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("append_id")
        .parquet(f"{path.rstrip('/')}/{sub}/{_TOMBSTONES}")
    )


def _read_probed_lists(spark, path: str, probe_cids) -> DataFrame:
    """Read ONLY the probed ``centroid_id=…`` directories of
    ``lists/``, as explicit paths under ``basePath`` — partition
    pruning applied at FILE DISCOVERY time, not after it. Round-8
    measurement: reading the whole tree and filtering
    (`read.parquet(lists).filter(isin)`) costs ~2 s at K=512 before a
    single row moves — 512 partition dirs exceed
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32),
    so Spark launches a distributed LISTING JOB over directories the
    filter then throws away; the flat PQ table's one-dir scan of 19×
    more rows took 0.2 s. Listing only the nprobe-union directories
    keeps discovery driver-side and proportional to the probe, which
    is the entire point of the layout. The redundant ``isin`` filter
    stays upstream so the scan still carries an explicit
    PartitionFilter (plan-asserted in tests) and stray files under a
    foreign directory can never leak in. Probed ids whose list is
    EMPTY (the refined quantizer leaves some) have no directory — they
    are skipped by the existence check; if none exist, falls back to
    the full-tree read (correct, just unpruned, and only reachable
    when every probed list is empty)."""
    from ..sources.lakehouse import _hfs

    base = f"{path.rstrip('/')}/lists"
    fs, jvm = _hfs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    dirs = [
        d
        for c in probe_cids
        if fs.exists(P(d := f"{base}/centroid_id={c}"))
    ]
    # a wide probe union (big query batch × nprobe) can exceed the
    # default discovery threshold (32) on its own — keep even that
    # listing driver-side (raise-only, lock-guarded; same contract as
    # the store read)
    _raise_discovery_threshold(spark, len(dirs) + 1)
    reader = spark.read.option("basePath", base)
    rows = reader.parquet(*dirs) if dirs else spark.read.parquet(base)
    return rows.filter(F.col("centroid_id").isin(list(probe_cids)))


def _filter_tombstones(
    spark, path: str, rows: DataFrame, sub: str
) -> DataFrame:
    """Probe-side tombstone filter: drop index rows whose ``vec_id``
    is dead as of a generation AFTER the row's own ``append_id``.
    No-op when the index has none. One broadcast left join against
    the churn-sized max-generation set — the pruned lists/codes scan
    is never shuffled."""
    from ..sources.lakehouse import _hfs

    fs, jvm = _hfs(spark, path)
    tpath = f"{path.rstrip('/')}/{sub}/{_TOMBSTONES}"
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(tpath)):
        return rows
    dead = (
        spark.read.parquet(tpath)
        .groupBy("vec_id")
        .agg(F.max("append_id").alias("_dead_as_of"))
    )
    return (
        rows.join(F.broadcast(dead), "vec_id", "left")
        .filter(
            F.col("_dead_as_of").isNull()
            | (F.col("append_id") >= F.col("_dead_as_of"))
        )
        .drop("_dead_as_of")
    )


def _live_rows(spark, path: str, kind: str, probe_cids=None) -> DataFrame:
    """An index's serving rows with tombstoned generations dropped:
    the whole data table, or (``probe_cids``) only the probed list
    directories of a centroid-partitioned kind."""
    sub = _data_dir(kind)
    if probe_cids is None:
        rows = spark.read.parquet(f"{path.rstrip('/')}/{sub}")
    else:
        rows = _read_probed_lists(spark, path, probe_cids)
    return _filter_tombstones(spark, path, rows, sub)


def apply_changes_to_ann_index(
    spark,
    path: str,
    changes: DataFrame,
    append_id: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Fold a lakehouse change feed (``sources.lakehouse.read_changes``
    vocabulary) into a persisted index as ONE replay-idempotent batch:
    deletes + update pre-images tombstone the stored copies
    (:func:`tombstone_index`), inserts + update post-images append
    under the same ``append_id`` (:func:`append_ann_index`, encoded by
    the stored artifacts). After the fold a probe sees exactly the
    post-snapshot corpus — pinned in tests/test_similarity.py against
    a same-quantizer rebuild from the post-change table. Cost is
    churn-sized on both legs (one narrow map + two batch-sized
    writes); the base is never re-read or rewritten — the index twin
    of the feed's own contract that incremental work reads the churn,
    not the table. The feed is localCheckpoint-ed first: its plan is a
    snapshot join, and the two probes + two writes below would
    otherwise re-run it four times."""
    changes = changes.localCheckpoint()
    dead = changes.filter(F.col("_change_type").isin(*CDF_DEAD_TYPES)).select(
        F.col(id_col).alias("vec_id")
    )
    live = changes.filter(F.col("_change_type").isin(*CDF_LIVE_TYPES)).select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    if dead.take(1):
        tombstone_index(spark, path, dead, append_id)
    if live.take(1):
        append_ann_index(live, path, append_id)


def compact_ann_index(spark, path: str) -> None:
    """Maintenance rewrite for a persisted index that has accumulated
    change-feed folds: fold every ``append_id`` generation back into
    the base (``append_id=0``), physically removing tombstoned rows —
    after which probes drop the broadcast tombstone join, and the
    partition-directory count collapses back to one per centroid (a
    year of daily folds otherwise leaves 365 ``append_id`` dirs under
    every touched centroid). Centroid-partitioned tables re-cluster to
    one file per list (compaction is exactly the moment to reclaim
    file-count amplification); no assignment or encode is recomputed.

    Atomicity: tombstones live INSIDE the data dir (``_tombstones``,
    hidden from parquet scans), so the rename swap replaces data and
    tombstones in one directory operation — no interleaving of crash
    and probe can pair the merged gen-0 rows with stale tombstones.
    A crash in the rename gap leaves the index momentarily unreadable
    (never wrong), and :func:`recover_index_compaction` finishes or
    discards the rewrite; every residue state is pinned in
    tests/test_similarity.py. Single maintainer assumed (probes are
    read-only and safe throughout; concurrent compactions are the
    caller's corruption, same as lakehouse writers without the lease).

    Like every line-truncating rewrite here (catalog rebuilds,
    ``compact_term_stats``), compaction closes the REPLAY window:
    re-running a pre-compaction fold afterwards would re-append its
    batch as duplicates. Cost: one scan + write of the LIVE rows."""
    from ..sources.lakehouse import _hfs

    root = path.rstrip("/")
    kind = _index_kind(spark, root)
    sub = _data_dir(kind)
    recover_index_compaction(spark, root)
    fs, jvm = _hfs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    # the .compact dir carries merged gen-0 rows and NO _tombstones —
    # the swap below retires both the old rows and the old tombstones
    # in one rename
    _write_list_partitions(
        _live_rows(spark, root, kind).withColumn("append_id", F.lit(0)),
        f"{root}/{sub}.compact",
        static=True,
    )
    if not fs.rename(P(f"{root}/{sub}"), P(f"{root}/{sub}.old")):
        raise IOError(f"compact: rename {sub} -> {sub}.old failed")
    if not fs.rename(P(f"{root}/{sub}.compact"), P(f"{root}/{sub}")):
        raise IOError(f"compact: rename {sub}.compact -> {sub} failed")
    fs.delete(P(f"{root}/{sub}.old"), True)


def recover_index_compaction(spark, path: str) -> str:
    """Resolve any crash residue of :func:`compact_ann_index` —
    idempotent, also runs as the compactor's own pre-clean. Returns
    what it did."""
    from ..sources.lakehouse import _hfs

    root = path.rstrip("/")
    sub = _data_dir(_index_kind(spark, root))
    fs, jvm = _hfs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    live, old, cmp_ = (
        fs.exists(P(f"{root}/{sub}")),
        fs.exists(P(f"{root}/{sub}.old")),
        fs.exists(P(f"{root}/{sub}.compact")),
    )
    if live and not old:
        if cmp_:  # crashed mid/post write, before any rename
            fs.delete(P(f"{root}/{sub}.compact"), True)
            return "discarded partial rewrite"
        return "clean"
    if not live and old and cmp_:  # crashed between the two renames
        if not fs.rename(P(f"{root}/{sub}.compact"), P(f"{root}/{sub}")):
            raise IOError(f"recover: rename {sub}.compact -> {sub} failed")
        fs.delete(P(f"{root}/{sub}.old"), True)
        return "finished swap"
    if live and old:  # crashed before cleanup
        fs.delete(P(f"{root}/{sub}.old"), True)
        return "finished cleanup"
    raise RuntimeError(
        f"unrecoverable index state at {root}/{sub}: "
        f"live={live} old={old} compact={cmp_}"
    )


def _check_rerank_source(kind: str, emb, vector_store) -> None:
    if kind == "ivf":
        if emb is not None or vector_store is not None:
            raise ValueError(
                "an IVF index scores its own stored vectors — pass "
                "neither emb nor vector_store"
            )
    elif (emb is None) == (vector_store is None):
        raise ValueError("pass exactly one of emb / vector_store")


def _adc_probed_scan(
    cands: DataFrame, books, lookup, top_s: int, excl: bool, queries=None
):
    """ADC scan of a PROBED candidate frame ``(query_id, vec_id,
    pq_codes, centroid_id[, qemb])`` — each row is scored only for the
    query whose probe selected it (per-query IVF semantics), emitting
    each task's local top-``top_s`` per query.

    Per batch, one stable argsort on query_id makes every query's rows
    a CONTIGUOUS run (round 10: the round-9 form re-scanned the whole
    batch with an O(rows) boolean mask per query). Any within-run
    permutation yields identical output — selection is by the total
    (adist, vec_id) order. Distance tables are built for the batch's
    queries (flat codes) or for its DISTINCT (query, probed list)
    pairs over q̂ − ĉ (``lookup`` given: residual codes, ≤ #queries ×
    nprobe tables); :func:`_pq_dtabs` rows are per-query independent,
    so task-local tables equal driver-built ones bit-for-bit.

    Query vectors come from ``queries`` — a ``(sorted query ids,
    unit-normalized matrix)`` pair broadcast by the latency serve — or,
    when None, from the ``qemb`` column the bulk probe frame carries,
    normalized here."""
    spark = cands.sparkSession
    bc = spark.sparkContext.broadcast(
        (books, lookup, top_s, bool(excl), queries)
    )

    def adc(batches):
        import numpy as np

        books_, lkp, topn, excl_, known = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            qcol = pdf["query_id"].to_numpy(dtype=np.int64)
            cds = np.array(list(pdf["pq_codes"]), dtype=np.int64)
            order = np.argsort(qcol, kind="stable")
            sq = qcol[order]
            starts = np.flatnonzero(np.r_[True, sq[1:] != sq[:-1]])
            ends = np.r_[starts[1:], len(sq)]
            run = np.repeat(np.arange(len(starts)), ends - starts)
            if known is None:
                # BIT-STABILITY (round-9 probe finding): normalize via
                # the 2-D reduction form on an OWNED buffer — the exact
                # expression the latency path applies to its query
                # matrix. A 1-D ``np.linalg.norm(qvec)`` routes through
                # BLAS ddot, whose kernel dispatch varies with the Arrow
                # buffer's memory layout: the same bit-identical vector
                # measured a 1-ULP-different norm between a fresh and a
                # cache-materialized candidates frame, and on a
                # PQ-degenerate corpus (thousands of exact ADC ties)
                # that one ULP flips shortlist membership. add.reduce's
                # pairwise order is fixed by the row length,
                # layout-independent, so the batched (g, dim) form is
                # bit-equal per row to the (1, dim) form.
                qx = _unit_rows(
                    np.array(
                        [pdf["qemb"].iat[int(i)] for i in order[starts]],
                        dtype=np.float64,
                        ndmin=2,
                    )
                )
            else:
                qx = known[1][np.searchsorted(known[0], sq[starts])]
            if lkp is None:
                tabs, tix = _pq_dtabs(books_, qx), run
            else:
                scids, scmat = lkp
                sccol = pdf["centroid_id"].to_numpy(dtype=np.int64)[order]
                cpos = np.minimum(np.searchsorted(scids, sccol), len(scids) - 1)
                if not np.array_equal(scids[cpos], sccol):
                    # same loud out-of-sync contract as pq_encode's
                    # kernel: an unclamped miss would make cpos ==
                    # len(scids) and the pair encoding below silently
                    # decode into the NEXT run's query row, scoring
                    # garbage distances (round-11 ADVICE)
                    raise ValueError(
                        "centroid_id(s) in the batch are not in the "
                        "provided quantizer — assignments and "
                        "quantizer are out of sync"
                    )
                upair, tix = np.unique(
                    run * len(scids) + cpos, return_inverse=True
                )
                tabs = _pq_dtabs(
                    books_, qx[upair // len(scids)] - scmat[upair % len(scids)]
                )
            yield from _adc_top_s(
                ids[order],
                cds[order],
                tabs,
                (
                    (int(sq[lo]), slice(lo, hi), tix[lo:hi])
                    for lo, hi in zip(starts, ends)
                ),
                topn,
                excl_,
            )

    return cands.mapInPandas(adc, _ADC_SCHEMA)


def ann_topk_indexed(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    emb: DataFrame | None = None,
    k: int = 3,
    nprobe: int = IVF_NPROBE,
    shortlist: int = PQ_SHORTLIST,
    exclude_query_ids: bool = True,
    vector_store: str | None = None,
) -> DataFrame:
    """Query a persisted index (:func:`write_ann_index`) with
    EXTERNAL query vectors — the LATENCY serve shape: queries arrive
    as a driver-side list, probe selection and distance tables are
    computed on the driver against the tiny stored artifacts and
    broadcast. The path's kind picks the strategy:

    - ``ivf``: probe the ``nprobe`` nearest lists per query
      (:func:`_select_probes`), scan ONLY their directories
      (partition-pruned), exact cosine on the stored vectors. Same
      scoring and tie-break as the live :func:`ivf_topk`, so a corpus
      member's own vector returns bit-identical neighbors.
    - ``pq``: ADC-scan the whole stored CODE table (never the
      vectors) against per-query distance tables rebuilt from the
      stored codebooks — bit-identical to the live :func:`pq_topk`.
    - ``ivfpq`` / ``ivfpq_residual``: probe like IVF, ADC-shortlist
      per query within its own probed lists (:func:`_adc_probed_scan`
      — residual codes get per-(query, probed list) tables over
      q̂ − ĉ). With ``nprobe = n_centroids`` a flat hybrid is
      BIT-IDENTICAL to the ``pq`` serve on the same codebooks (every
      list probed ⇒ the whole code table scanned), which makes the
      hybrid's pruning auditably lossless except for the nprobe
      recall knob IVF already gates.

    The PQ kinds then exact-cosine re-rank their ``shortlist``·k
    per-query shortlist — the only touch of real vectors — against
    ``emb`` (the live corpus frame — a corpus-shaped raw-vector scan)
    or ``vector_store`` (a :func:`write_vector_store` path —
    directory-pruned, shortlist-sized; with it EVERY phase of the
    hybrid serve is corpus-size-independent), bit-identical either
    way; pass exactly one. An IVF index re-ranks nothing: passing
    either raises. ``nprobe`` is ignored by flat PQ, ``shortlist`` by
    IVF. All pinned in tests/test_similarity.py.

    External queries live in their OWN id namespace: pass
    ``exclude_query_ids=False`` so a query id that happens to collide
    with a corpus ``vec_id`` does not silently drop that corpus vector
    from its results (True matches the live corpus-member
    semantics)."""
    import numpy as np

    kind, cq, books = _load_index(spark, path)
    _check_rerank_source(kind, emb, vector_store)
    qids = np.array([q for q, _ in queries], dtype=np.int64)
    qmat = np.array([v for _, v in queries], dtype=np.float64)
    top_s = shortlist * k
    excl = bool(exclude_query_ids)
    if kind == "pq":
        scored = _adc_flat_scan(
            _live_rows(spark, path, kind),
            qids,
            _pq_dtabs(books, _unit_rows(qmat)),
            top_s,
            excl,
        )
    else:
        probes = [
            (int(q), int(c))
            for q, row in zip(qids, _select_probes(qmat, *cq, nprobe))
            for c in row
        ]
        probe_df = spark.createDataFrame(probes, "query_id long, centroid_id long")
        lists = _live_rows(spark, path, kind, sorted({c for _, c in probes}))
        cands = lists.join(F.broadcast(probe_df), "centroid_id")
        if kind == "ivf":
            if excl:
                cands = cands.filter(F.col("vec_id") != F.col("query_id"))
            # schema from the already-discovered pruned frame — a
            # fresh read.parquet here would re-list the whole tree
            qv = _query_vectors(spark, queries, lists.schema["embedding"].dataType)
            return _cosine_top_k(cands.join(qv, "query_id"), k)
        order = np.argsort(qids, kind="stable")
        scored = _adc_probed_scan(
            cands.select("query_id", "vec_id", "pq_codes", "centroid_id"),
            books,
            _normalized_centroid_lookup(cq) if kind == "ivfpq_residual" else None,
            top_s,
            excl,
            queries=(qids[order], _unit_rows(qmat)[order]),
        )
    return _exact_rerank(
        spark, _shortlist(scored, top_s), queries, k, emb, vector_store
    )


#: Query-chunk size inside one flat-PQ bulk block task: distance
#: tables are built per chunk ((chunk, m, ksub) float64 ≈ 2 KB/query
#: at the default geometry) so a block task's table memory is bounded
#: regardless of batch size. Chunking is value-invariant — each
#: query's table row is independent.
PQ_BULK_QUERY_CHUNK = 4_096

#: Max queries one flat-PQ bulk task holds (round-10 review): a
#: cogroup task materializes its whole query group THROUGH ARROW as
#: one pandas frame, so without a bound every code-block task would
#: hold the ENTIRE batch — the exact #queries-shaped cost the bulk
#: shape exists to remove. Batches above this split into
#: ceil(nq / this) hash blocks of queries and the cogroup runs the
#: (code-block × query-block) GRID: per-task memory is bounded at
#: ~this × dim doubles (~8 MB at 64-dim), and the extra corpus
#: replication (codes × #query-blocks) is proportional to the batch
#: — amortized by the same O(corpus × queries) ADC compute it feeds.
#:
#: The VALUE is measured, round 11 (BASELINE.md pq-grid table,
#: 200k-code index, 32-thread local JVM with an 8 GB direct-memory
#: cap): the round-10 bound of 65,536 (~34 MB query groups) was
#: BORDERLINE — a 131,072-query serve CRASHED with an Arrow netty
#: OutOfMemory when it followed another serve in the same JVM (warm
#: allocator arenas; fresh-JVM it passed), and an UNBOUNDED single
#: block crashed even fresh — and it was also SLOWER: 16,384-query
#: blocks serve 65k at 3.91 ms/query vs 6.32–7.07 and 131k at
#: 3.80 ms/query vs 5.66 (1.5–1.8×; finer grid cells load-balance
#: 32 cores better and allocator pressure drops), with the ×4–×8
#: codes replication invisible under the ADC compute. Back-to-back
#: serves at 16,384 ran clean (0 allocation failures). Grid
#: membership never changes values (pinned bit-equal under forced
#: splits in tests); override per call via ``max_queries_per_task``.
PQ_BULK_MAX_QUERIES_PER_TASK = 16_384


def _pq_bulk_grid(
    spark,
    codes: DataFrame,
    queries: DataFrame,
    books,
    top_s: int,
    excl: bool,
    n_blocks: int | None,
    max_queries_per_task: int | None,
):
    """Flat PQ's bulk ADC: returns ``(scored, #queries)``. Flat PQ has
    no quantizer to prune by — every query must meet every code row —
    so the bulk decomposition makes that product DISTRIBUTED instead
    of per-query: the code table is hashed into ``n_blocks`` blocks
    (default: the session's shuffle parallelism), the query batch into
    ``ceil(nq / PQ_BULK_MAX_QUERIES_PER_TASK)`` hash blocks, each side
    replicated across the OTHER's blocks (``explode(sequence)``), and
    a COGROUP pairs every (code-block, query-block) grid cell —
    per-task memory is bounded at one code block plus one query block
    no matter the batch size (small batches get one query block and
    replicate nothing). Each task runs the same ADC kernel as the
    latency serve, with :func:`_pq_dtabs` tables built executor-side
    per query CHUNK, so each code block is read ONCE for all queries
    (vs once per query broadcast in a latency loop). ``n_blocks`` and
    grid membership affect partitioning only, never values, because
    every (code, query) pair meets in exactly one cell and the
    shortlist order is total."""
    if n_blocks is not None and int(n_blocks) < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    if n_blocks:
        nb = int(n_blocks)
    else:
        try:
            # "auto" under some AQE configurations — fall back to the
            # cluster's default parallelism rather than failing
            nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            nb = int(spark.sparkContext.defaultParallelism)
        nb = max(1, nb)
    qpt = (
        PQ_BULK_MAX_QUERIES_PER_TASK
        if max_queries_per_task is None
        else int(max_queries_per_task)
    )
    if qpt < 1:
        raise ValueError(f"max_queries_per_task must be >= 1, got {qpt}")
    nq = queries.count()
    nqb = max(1, -(-nq // qpt))
    bc = spark.sparkContext.broadcast((books, top_s, bool(excl)))
    codes_b = codes.select("vec_id", "pq_codes").withColumn(
        "_cb", F.pmod(F.hash(F.col("vec_id")), F.lit(nb))
    ).withColumn(
        "_qb", F.explode(F.sequence(F.lit(0), F.lit(nqb - 1)))
    )
    qrep = (
        queries.select("query_id", "embedding")
        .withColumn("_qb", F.pmod(F.hash(F.col("query_id")), F.lit(nqb)))
        .withColumn("_cb", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))))
    )

    def adc_block(cpdf, qpdf):
        import numpy as np
        import pandas as pd

        books_, topn, excl_ = bc.value
        empty = pd.DataFrame(
            {
                "query_id": np.array([], dtype=np.int64),
                "vec_id": np.array([], dtype=np.int64),
                "adist": np.array([], dtype=np.float64),
            }
        )
        if not len(cpdf) or not len(qpdf):
            return empty
        ids = cpdf["vec_id"].to_numpy(dtype=np.int64)
        cds = np.array(list(cpdf["pq_codes"]), dtype=np.int64)
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        # owned 2-D buffer + the 2-D norm reduction — the latency
        # path's exact normalization expression (round-9 BLAS note)
        qx = _unit_rows(np.array(list(qpdf["embedding"]), dtype=np.float64))
        out = []
        for s in range(0, len(qids), PQ_BULK_QUERY_CHUNK):
            chunk = slice(s, s + PQ_BULK_QUERY_CHUNK)
            out.extend(
                _adc_top_s(
                    ids,
                    cds,
                    _pq_dtabs(books_, qx[chunk]),
                    ((q, slice(None), i) for i, q in enumerate(qids[chunk])),
                    topn,
                    excl_,
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty

    scored = (
        codes_b.groupBy("_cb", "_qb")
        .cogroup(qrep.groupBy("_cb", "_qb"))
        .applyInPandas(adc_block, _ADC_SCHEMA)
    )
    return scored, nq


def _bulk_probe_frame(queries: DataFrame, centroids, nprobe: int) -> DataFrame:
    """PROBE phase of the bulk serves: one ``mapInPandas`` pass over
    the query frame against the broadcast quantizer — the same
    :func:`_select_probes` rule as the latency serve — exploding to
    ``(query_id, centroid_id, qemb)`` × nprobe. No collect; the
    carried ``qemb`` (widened to double exactly like the latency
    paths' ``float()``) lets downstream phases score without a second
    join against the query frame."""
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((centroids, int(nprobe)))

    def probe(batches):
        import numpy as np
        import pandas as pd

        (cids, cmat), np_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.array(list(pdf["embedding"]), dtype=np.float64)
            probed = _select_probes(qmat, cids, cmat, np_)
            reps = probed.shape[1]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(dtype=np.int64), reps
                    ),
                    "centroid_id": probed.ravel().astype(np.int64),
                    "qemb": [e for e in pdf["embedding"] for _ in range(reps)],
                }
            )

    return queries.select("query_id", "embedding").mapInPandas(
        probe, "query_id long, centroid_id long, qemb array<double>"
    )


def ann_topk_bulk(
    spark,
    path: str,
    queries: DataFrame,
    emb: DataFrame | None = None,
    k: int = 3,
    nprobe: int = IVF_NPROBE,
    shortlist: int = PQ_SHORTLIST,
    exclude_query_ids: bool = True,
    vector_store: str | None = None,
    n_blocks: int | None = None,
    max_queries_per_task: int | None = None,
    prune_max_ids: int | None = None,
) -> DataFrame:
    """BULK serve of a persisted index: ``queries`` is a DataFrame
    ``(query_id, embedding)`` instead of a driver-side list — the
    THROUGHPUT shape (retrieve neighbors for a whole eval set, join a
    query corpus against an index) next to :func:`ann_topk_indexed`'s
    latency shape, whose driver-side probe selection and broadcast
    distance tables cannot hold a million-query batch. Same algorithm
    and parameters, distributed at every phase, BIT-IDENTICAL results
    (pinned in tests/test_similarity.py against looped latency serves,
    every kind, both re-rank sources, the exclude flag):

    1. PROBE (``ivf``, ``ivfpq*``): :func:`_bulk_probe_frame`, no
       collect.
    2. CANDIDATES: the probed-list read stays PARTITION-PRUNED — the
       distinct probed centroid set is quantizer-bounded (≤ K rows,
       never query-count-shaped), so collecting it keeps the
       bounded-driver discipline; candidates come from an equi-join on
       ``centroid_id`` (co-partitioned shuffle — broadcast would ship
       the whole query batch to every task). An IVF index scores the
       exact cosine directly on the joined rows and stops here.
    3. ADC: ``ivfpq*`` through :func:`_adc_probed_scan` with tables
       computed executor-side from the carried ``qemb``; flat ``pq``
       through the block-decomposed cogroup grid of
       :func:`_pq_bulk_grid` (``n_blocks`` / ``max_queries_per_task``
       override its code-block count and
       :data:`PQ_BULK_MAX_QUERIES_PER_TASK` per call; they shape flat
       PQ's grid only, and passing them for another kind raises).
       Task-local top-S, then the global (adist, vec_id) shortlist
       window — deterministic under ANY partitioning.
    4. RE-RANK: :func:`_bulk_exact_tail` against ``emb`` or the vector
       store; store reads route by batch size
       (:func:`_bulk_rerank_source`, ``prune_max_ids`` overriding
       :data:`BULK_RERANK_PRUNE_MAX_IDS`).

    WHEN TO PICK WHICH SHAPE (measured, BASELINE.md round-10
    flat-tier table): IVF bulk is at parity with the latency API at 2k
    queries and 1.2× at 16k — both are the same JVM join, so the bulk
    win is only the driver-built probe list and broadcast the latency
    path re-pays per batch. Flat PQ at latency-sized batches (≈2k
    queries) is ~1.6× FASTER through the latency API — its
    distance-table broadcast is megabytes and the cogroup's one corpus
    shuffle doesn't amortize; the bulk shape exists for batches where
    the broadcast and the per-batch Python loop scale with #queries
    and stop fitting. Both shapes are bit-identical, so batch size
    alone picks.

    100 TB shape: every phase is a narrow map, a key-partitioned join,
    a cogroup, or a per-query window — nothing collects query-count-
    or corpus-shaped data to the driver. The probed-lists scan is the
    union of the BATCH's probes (approaching all K lists for a large
    diverse batch — at which point the scan is the throughput optimum:
    each list page serves many queries).

    CONTRACT — ``queries`` must be DETERMINISTIC: the serve plans
    multiple passes over the query frame (the probe distinct-collect
    that prunes the list read, the flat grid's count, the serve
    execution itself, and the re-rank routing count — computed once
    and threaded through when the grid already counted), and Spark
    recomputes the frame for each. A non-deterministic source
    (``sample()``, ``limit`` without an ``orderBy``, ``rand()``-derived
    ids) can probe centroids on the second pass that the first pass's
    pruned list read never loaded — those candidates silently vanish
    from results. Materialize such frames first (write to parquet, or
    ``localCheckpoint()``) — deliberately NOT done here: an
    unconditional checkpoint would pin a query-batch-sized copy
    (embeddings included) per serve in a pure-serving session that
    never crosses a release boundary."""
    kind, cq, books = _load_index(spark, path)
    _check_rerank_source(kind, emb, vector_store)
    top_s = shortlist * k
    nq = None
    if kind == "pq":
        scored, nq = _pq_bulk_grid(
            spark,
            _live_rows(spark, path, kind),
            queries,
            books,
            top_s,
            exclude_query_ids,
            n_blocks,
            max_queries_per_task,
        )
    else:
        if n_blocks is not None or max_queries_per_task is not None:
            raise ValueError(
                "n_blocks / max_queries_per_task shape the flat-PQ "
                f"cogroup grid only; {path} is a {kind} index"
            )
        probes = _bulk_probe_frame(queries, cq, nprobe)
        # quantizer-bounded (≤ K rows): keeps the probed-list read
        # pruned. DELIBERATELY uncached: the probe pass runs twice
        # (this distinct and again inside the serve execution) — each
        # is one narrow map over the query frame, while plan_cache
        # here would leak one query-batch-sized tracked cache PER
        # SERVE in a pure-serving session (the tracker only releases
        # at a registry query-build boundary, which a serving loop
        # never crosses — round-9 review).
        probe_cids = sorted(
            int(r.centroid_id)
            for r in probes.select("centroid_id").distinct().collect()
        )
        lists = _live_rows(spark, path, kind, probe_cids)
        cands = lists.join(probes, "centroid_id")
        if kind == "ivf":
            if exclude_query_ids:
                cands = cands.filter(F.col("vec_id") != F.col("query_id"))
            elem_t = lists.schema["embedding"].dataType
            return _cosine_top_k(
                cands.select(
                    "query_id",
                    "vec_id",
                    F.col("qemb").cast(elem_t).alias("qv"),
                    "embedding",
                ),
                k,
            )
        scored = _adc_probed_scan(
            cands.select("query_id", "vec_id", "pq_codes", "qemb", "centroid_id"),
            books,
            _normalized_centroid_lookup(cq) if kind == "ivfpq_residual" else None,
            top_s,
            exclude_query_ids,
        )
    return _bulk_exact_tail(
        spark,
        queries,
        _shortlist(scored, top_s),
        top_s,
        k,
        emb,
        vector_store,
        n_queries=nq,
        prune_max_ids=prune_max_ids,
    )


#: Target b-side rows per within-cluster join key: a hot cluster of
#: size m is split into ceil(m / this) hash blocks, bounding one
#: task's pair work at ~m × this instead of m² — see
#: :func:`_semdedup_candidates`.
SEMDEDUP_BLOCK_ROWS = 256


def _semdedup_candidates(sides: DataFrame) -> DataFrame:
    """Within-cluster ordered pair candidates ``(centroid_id, _blk,
    a_id, a_emb, b_id, b_emb)`` with ADAPTIVE block decomposition —
    the structural answer to the hot-cluster skew question.

    The scaled quantizer keeps the MEAN cluster near
    ``SEMDEDUP_ROWS_PER_CLUSTER``, but natural embedding clusters are
    Zipfian: one hot centroid with m ≫ mean recreates an m²/2 pair
    list inside ONE join task (and at local fixture sizes the input
    bytes sit far below AQE's skew-split threshold, so no runtime
    rescue). Fix by construction: per cluster, the b-side is hashed
    into ``nb = ceil(m / SEMDEDUP_BLOCK_ROWS)`` blocks and the a-side
    is replicated to every block (``explode(sequence(...))``), so the
    join key becomes ``(centroid_id, _blk)`` — each pair matches in
    exactly one block (its b's), per-task pair work is bounded at
    ~m × SEMDEDUP_BLOCK_ROWS, and the hot cluster fans out over nb
    tasks. Normal-size clusters get nb = 1: no replication, same
    single-key join as before. The per-cluster block counts ride a
    broadcast (≤ k rows). Result set is IDENTICAL to the plain
    centroid join — only the partitioning changes (pinned in
    tests/test_similarity.py)."""
    # three consumers read sides (size pass, a-side, b-side) — cache
    # it so the assignment kernel runs ONE corpus pass, not three
    sides = plan_cache(sides)
    sizes = sides.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("_csize"))
    blocks = sizes.select(
        "centroid_id",
        F.greatest(
            F.lit(1), F.ceil(F.col("_csize") / F.lit(SEMDEDUP_BLOCK_ROWS))
        )
        .cast("int")
        .alias("_nb"),
    )
    tagged = sides.join(F.broadcast(blocks), "centroid_id")
    lo = tagged.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        "centroid_id",
        F.explode(F.sequence(F.lit(0), F.col("_nb") - 1)).alias("_blk"),
    )
    hi = tagged.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        "centroid_id",
        F.pmod(F.xxhash64("vec_id"), F.col("_nb")).cast("int").alias("_blk"),
    )
    return lo.join(hi, ["centroid_id", "_blk"]).filter(
        F.col("a_id") < F.col("b_id")
    )


#: Cell-size cap above which SemDeDup switches a coarse cell to the
#: BOUNDED comparison scheme (sub-quantize, then hash-block) instead
#: of the full within-cell pair set. Total pair work per hot cell is
#: then ~m·cap/2 + 2m instead of m²/2 — globally linear in m.
SEMDEDUP_CELL_CAP = 1024
#: Max sub-centroids drawn per hot cell in the level-1 re-quantize.
SEMDEDUP_SUBQ_MAX = 64


def _semdedup_candidates_bounded(
    sides_hot: DataFrame, cell_cap: int
) -> DataFrame:
    """Candidate ordered pairs for HOT cells (size > ``cell_cap``) with
    TOTAL work bounded linear in the cell size — the round-5 answer to
    "per-task pair lists were bounded (round 4) but a degenerate cell
    still paid m²/2 pairs overall". Returns ``(a_id, a_emb, b_id,
    b_emb)``; consumed by the same max-cosine aggregate as the exact
    path.

    Decomposition (Abbas et al. 2023 bound cell sizes in practice; the
    exact recipe here is this engine's, chosen to be deterministic and
    cross-engine reproducible):

    1. **Re-quantize within the cell** (similarity-aware split): draw
       ``s = clamp(ceil(m/cap), 2, SEMDEDUP_SUBQ_MAX)`` sub-centroids
       as s independent min-by-seeded-hash draws over the cell's
       members (an O(m) aggregate — no sort, no window; the portable
       md5 hash makes the draw engine-independent), then assign every
       member to its max-cosine sub-centroid row-locally (the
       broadcast sub-centroid arrays ride a ≤ #hot-cells × 32 KB
       frame; ties at equal cosine go to the lowest draw index, and
       near-duplicate vectors land in the SAME sub-cell by
       construction — the split preserves exactly the pairs SemDeDup
       is hunting).
    2. **Hash-block the residue** (similarity-blind base case): a
       sub-cell still over the cap — only possible when members are
       near-identical, where NO similarity-aware rule can separate
       them and recursing on step 1 would not terminate — is split
       into ``ceil(m_sub/cap)`` seeded-hash blocks, BOTH pair sides
       keyed by block, so only within-block pairs are compared.
    3. **Anchor pairs** keep the keep-flag semantics tight where the
       blind split would lose them: the cell's first member (min
       vec_id) is compared against every later cell member, and each
       sub-cell's first member against every later sub-cell member —
       2m extra pairs via broadcast map-side joins. For the
       degenerate all-near-identical cell this recovers the exact
       full-compare keep set (every non-first member sees the first
       member at cosine ≈ 1).

    Semantics vs the exact form: sd_keep stays SOUND (every dropped
    vector has a genuine ≥-threshold earlier mate — cosines are
    exact); recall within a hot cell is approximate (a pair split
    across sub-cells/blocks and missed by both anchors is not
    compared), which is SemDeDup's own cross-cluster trade applied
    one level down. sd_max_prior_sim is a max over the candidate
    subset. The exact spec is mirrored in
    tests/test_similarity.py::_bounded_spec."""
    sizes = sides_hot.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("_m")
    )
    vid_s = F.col("vec_id").cast("string")
    draws = [
        F.min_by(
            F.struct(F.col("vec_id"), F.col("embedding")),
            hash64_col(vid_s, seed=f"sdsub{j}"),
        ).alias(f"_sc{j}")
        for j in range(SEMDEDUP_SUBQ_MAX)
    ]
    subsel = sides_hot.groupBy("centroid_id").agg(*draws)
    s_col = F.least(
        F.greatest(
            F.ceil(F.col("_m") / F.lit(cell_cap)).cast("int"), F.lit(2)
        ),
        F.lit(SEMDEDUP_SUBQ_MAX),
    )
    subq = subsel.join(sizes, "centroid_id").select(
        "centroid_id",
        F.transform(
            F.slice(
                F.array(
                    *[F.col(f"_sc{j}") for j in range(SEMDEDUP_SUBQ_MAX)]
                ),
                F.lit(1),
                s_col,
            ),
            lambda sc, i: F.struct(
                i.alias("j"), sc["embedding"].alias("emb")
            ),
        ).alias("_subs"),
    )
    # row-local argmax over the cell's sub-centroid array: strict >
    # keeps the earliest draw on float-equal ties (the deterministic
    # tie-break the spec mirror reproduces)
    assigned = (
        sides_hot.join(F.broadcast(subq), "centroid_id")
        .withColumn(
            "_sub",
            F.aggregate(
                "_subs",
                F.struct(
                    F.lit(-2.0).cast("double").alias("cos"),
                    F.lit(-1).alias("j"),
                ),
                lambda acc, sc: F.when(
                    cosine_col(F.col("embedding"), sc["emb"]) > acc["cos"],
                    F.struct(
                        cosine_col(F.col("embedding"), sc["emb"]).alias(
                            "cos"
                        ),
                        sc["j"].alias("j"),
                    ),
                ).otherwise(acc),
            )["j"],
        )
        .drop("_subs")
    )
    # four consumers (sub sizes, both block-join sides, sub anchors) —
    # one cached assignment pass, not four
    assigned = plan_cache(assigned)
    subsizes = assigned.groupBy("centroid_id", "_sub").agg(
        F.count(F.lit(1)).alias("_sm")
    )
    blocks = subsizes.select(
        "centroid_id",
        "_sub",
        F.greatest(F.lit(1), F.ceil(F.col("_sm") / F.lit(cell_cap)))
        .cast("int")
        .alias("_nb"),
    )
    tagged = assigned.join(
        F.broadcast(blocks), ["centroid_id", "_sub"]
    ).withColumn(
        "_blk",
        F.pmod(hash64_col(vid_s, seed="sdblk"), F.col("_nb")).cast("int"),
    )
    lo = tagged.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        "centroid_id",
        "_sub",
        "_blk",
    )
    hi = tagged.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        "centroid_id",
        "_sub",
        "_blk",
    )
    block_pairs = lo.join(hi, ["centroid_id", "_sub", "_blk"]).filter(
        F.col("a_id") < F.col("b_id")
    )
    cell_anchor = sides_hot.groupBy("centroid_id").agg(
        F.min_by(
            F.struct(F.col("vec_id"), F.col("embedding")), F.col("vec_id")
        ).alias("_a")
    ).select(
        "centroid_id",
        F.col("_a.vec_id").alias("a_id"),
        F.col("_a.embedding").alias("a_emb"),
    )
    cell_anchor_pairs = (
        sides_hot.join(F.broadcast(cell_anchor), "centroid_id")
        .filter(F.col("vec_id") > F.col("a_id"))
        .select(
            "a_id",
            "a_emb",
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("b_emb"),
        )
    )
    sub_anchor = assigned.groupBy("centroid_id", "_sub").agg(
        F.min_by(
            F.struct(F.col("vec_id"), F.col("embedding")), F.col("vec_id")
        ).alias("_a")
    ).select(
        "centroid_id",
        "_sub",
        F.col("_a.vec_id").alias("a_id"),
        F.col("_a.embedding").alias("a_emb"),
    )
    sub_anchor_pairs = (
        assigned.join(F.broadcast(sub_anchor), ["centroid_id", "_sub"])
        .filter(F.col("vec_id") > F.col("a_id"))
        .select(
            "a_id",
            "a_emb",
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("b_emb"),
        )
    )
    cols = ["a_id", "a_emb", "b_id", "b_emb"]
    return (
        block_pairs.select(*cols)
        .unionByName(cell_anchor_pairs.select(*cols))
        .unionByName(sub_anchor_pairs.select(*cols))
    )


def semdedup_k(n: int) -> int:
    """Corpus-scaled SemDeDup cluster count: ``clamp(n // 100, 32,
    65536)``. Integer arithmetic only (no transcendentals) so the
    DuckDB twin derives the identical value — see
    :func:`semantic_dedup_sql`."""
    return min(max(IVF_K, n // SEMDEDUP_ROWS_PER_CLUSTER), SEMDEDUP_MAX_K)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int | None = None,
    cell_cap: int = SEMDEDUP_CELL_CAP,
) -> DataFrame:
    """Semantic dedup, SemDeDup-style (Abbas et al. 2023, public):
    cluster with the coarse quantizer, then compare vectors ONLY
    within their cluster and drop every vector that has an earlier
    (lower vec_id) cluster-mate with cosine ≥ ``threshold``.

    Returns ``(vec_id, sd_max_prior_sim, sd_keep)`` for every input
    vector: the max cosine to any earlier cluster-mate (0.0 when the
    vector is alone or first in its cluster) and the keep flag.

    Scale shape: this is the trick that makes embedding dedup
    feasible at corpus scale — the quadratic kernel runs per
    CLUSTER, not per corpus. ``k`` defaults to the corpus-scaled
    :func:`semdedup_k` (``n // 100`` clusters ⇒ ~100-vector lists ⇒
    within-cluster pair work LINEAR in n, measured linear in the 10×
    probe); pass an explicit ``k`` only for controlled experiments —
    a pinned small k makes the lists grow (n/k)² and was the one
    scale-killer flagged in round 2. The self-join buckets on
    (centroid_id, block): a HOT natural cluster (Zipfian sizes
    survive a scaled k) is adaptively split into hash blocks so no
    single task ever owns an m² pair list — see
    :func:`_semdedup_candidates`; cosines are exact JVM-side fold
    expressions.
    Soundness: every dropped vector has a genuine ≥-threshold
    neighbor (cosine is exact, no approximation in the verify step);
    only RECALL is approximate — cross-cluster near-dups are
    invisible by construction, the documented SemDeDup trade.

    Hot cells over ``cell_cap`` rows switch to the BOUNDED comparison
    scheme (:func:`_semdedup_candidates_bounded` — sub-quantize, hash
    blocks, anchors) so a degenerate cell's TOTAL pair work is linear
    in its size, not quadratic; cells at or under the cap keep the
    exact full-compare semantics (and a corpus smaller than
    ``cell_cap`` rows — e.g. the sf0.01 gate corpus — provably never
    triggers the bounded path, which is why the static SQL oracle
    stays the exact form). The common no-hot-cells case adds one tiny
    size aggregate over the cached sides and otherwise runs the
    identical plan as before."""
    if k is None:
        k = semdedup_k(emb.count())
    a = ivf_assignments(emb, k)
    sides = plan_cache(emb.select("vec_id", "embedding").join(a, "vec_id"))
    hot = (
        sides.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("_csize"))
        .filter(F.col("_csize") > cell_cap)
        .select("centroid_id")
    )
    if hot.limit(1).count() == 0:
        cands = _semdedup_candidates(sides)
    else:
        # the hot-cell id list is the Zipfian TAIL of the size
        # distribution (≤ n/cell_cap ids by pigeonhole) — broadcast it
        sides_norm = sides.join(F.broadcast(hot), "centroid_id", "left_anti")
        sides_hot = sides.join(F.broadcast(hot), "centroid_id")
        cands = _semdedup_candidates(sides_norm).select(
            "a_id", "a_emb", "b_id", "b_emb"
        ).unionByName(_semdedup_candidates_bounded(sides_hot, cell_cap))
    prior = (
        cands
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(
            F.round(
                F.max(cosine_col(F.col("a_emb"), F.col("b_emb"))), 6
            ).alias("sd_max_prior_sim")
        )
    )
    return (
        emb.select("vec_id")
        .join(prior, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("sd_max_prior_sim", F.lit(0.0)).alias("sd_max_prior_sim"),
            (
                F.coalesce("sd_max_prior_sim", F.lit(0.0)) < F.lit(threshold)
            ).alias("sd_keep"),
        )
    )


def _scaled_assign_sql(dim: int = DIM) -> str:
    """Coarse assignment with the corpus-scaled centroid count — the
    SQL stays STATIC (the driver stores it once); ``k`` is computed by
    the engine from ``count(*)`` with the same integer clamp as
    :func:`semdedup_k` (`//` is DuckDB integer division — no float
    rounding to diverge across engines)."""
    cos = cosine_sql("e.embedding", "c.embedding", dim)
    return f"""
      with kk as (
        select cast(least(greatest({IVF_K},
                     count(*) // {SEMDEDUP_ROWS_PER_CLUSTER}),
                   {SEMDEDUP_MAX_K}) as bigint) as k
        from embeddings
      ),
      c as (
        select vec_id as cid, embedding
        from (select vec_id, embedding,
                     row_number() over (order by vec_id) as rn
              from embeddings), kk
        where rn <= kk.k
      ),
      scored as (
        select e.vec_id, c.cid, {cos} as cosine
        from embeddings e cross join c
      ),
      ranked as (
        select vec_id, cid,
               row_number() over (partition by vec_id
                                  order by cosine desc, cid) as rk
        from scored
      )
      select vec_id, cid as centroid_id from ranked where rk = 1
    """


def semantic_dedup_sql(
    threshold: float = SEMDEDUP_THRESHOLD, k: int | None = None, dim: int = DIM
) -> str:
    """DuckDB twin of :func:`semantic_dedup` in its EXACT-cell form.
    Valid whenever no coarse cell exceeds ``SEMDEDUP_CELL_CAP`` —
    trivially true for the gate corpora, whose total row count is
    below the cap (a cell cannot outgrow its corpus). The bounded
    hot-cell scheme has no static SQL twin; its semantics are pinned
    against the numpy spec mirror in tests/test_similarity.py."""
    cos = cosine_sql("x.embedding", "y.embedding", dim)
    assign = _scaled_assign_sql(dim) if k is None else ivf_assignments_sql(k, dim)
    return f"""
    with assign as ({assign}),
    prior as (
      select bj.vec_id as vec_id, round(max({cos}), 6) as sd_max_prior_sim
      from assign aj
      join assign bj on aj.centroid_id = bj.centroid_id
                    and aj.vec_id < bj.vec_id
      join embeddings x on x.vec_id = aj.vec_id
      join embeddings y on y.vec_id = bj.vec_id
      group by bj.vec_id
    )
    select e.vec_id,
           coalesce(prior.sd_max_prior_sim, 0.0) as sd_max_prior_sim,
           coalesce(prior.sd_max_prior_sim, 0.0) < {threshold} as sd_keep
    from embeddings e left join prior on e.vec_id = prior.vec_id
    """
