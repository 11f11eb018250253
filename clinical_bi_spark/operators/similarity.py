"""Approximate nearest-neighbor search over embedding columns.

The exact baseline (broadcast queries × streamed corpus) is the
oracle-checked ``sim_bruteforce_topk`` query. This module adds the scale
paths:

* :func:`lsh_bucket_topk` — random-hyperplane (sign) LSH: corpus and
  queries get an ``nbits``-bit signature; candidates come from matching
  buckets (multi-probe over Hamming-adjacent buckets); exact cosine ranks
  only candidates. One narrow shuffle on the bucket key.
* :func:`ivf_topk` — IVF-style coarse quantization: deterministic
  centroids sampled from the corpus, rows assigned to nearest centroid,
  queries probe the ``nprobe`` nearest centroid cells.

Hyperplanes are generated deterministically (hash-based, no RNG state),
so results are reproducible run-to-run — required for the driver's re-run
semantics. Accuracy is pytest-verified as recall against brute force
(tests/test_similarity.py); each registered ANN query also carries a
DuckDB oracle of its deterministic pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from clinical_bi_spark.caching import persist_tracked
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from clinical_bi_spark.functions.vectors import cosine_pandas, cosine_similarity

#: Width of the embeddings table's vectors (its ``vec_id`` key and
#: ``embedding`` column are the only columns these operators read).
EMB_DIM = 64
#: The deterministic Lloyd's fit: cells, lowest-id training sample size
#: and rounds.
KMEANS_CELLS, KMEANS_TRAIN, KMEANS_ITERS = 16, 512, 3
#: Product quantization: subspaces, centroids per subspace, exact-rerank
#: depth, training sample size and Lloyd rounds.
PQ_M, PQ_KSUB, PQ_RERANK, PQ_SAMPLE, PQ_ITERS = 8, 16, 50, 512, 8


def _hyperplanes(nbits: int) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes via a hash-based LCG
    (seed 42) — reproducible across runs/processes without RNG state."""
    planes = []
    state = (42 * 2654435761) % (1 << 31)
    for _ in range(nbits):
        row = []
        for _ in range(EMB_DIM):
            # sum of 4 uniforms ≈ gaussian (Irwin–Hall), good enough for LSH
            acc = 0.0
            for _ in range(4):
                state = (state * 1103515245 + 12345) % (1 << 31)
                acc += state / (1 << 31)
            row.append(acc - 2.0)
        planes.append(row)
    return planes


def signature_pandas(emb: F.Column, planes: list[list[float]]) -> F.Column:
    """Arrow-vectorized sign-LSH signature: one numpy matmul per batch
    (batch × dim) @ (dim × nbits) → sign bits packed into a long (bit i
    set iff the dot with plane i is >= 0)."""
    plane_matrix = [list(p) for p in planes]

    @pandas_udf("long")
    def _sig(x: pd.Series) -> pd.Series:
        planes_np = np.asarray(plane_matrix, dtype=np.float64)  # nbits × dim
        xm = np.vstack(x.values).astype(np.float64)  # batch × dim
        bits = (xm @ planes_np.T) >= 0.0  # batch × nbits
        weights = (1 << np.arange(bits.shape[1])).astype(np.int64)
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return _sig(emb)


def _hamming_ball_masks(nbits: int, max_hamming: int) -> list[int]:
    """All XOR masks with ≤ max_hamming bits set over nbits positions —
    the multi-probe expansion of one signature into its Hamming ball."""
    import itertools

    masks = []
    for radius in range(max_hamming + 1):
        for bits in itertools.combinations(range(nbits), radius):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_bucket_topk(
    corpus: DataFrame, queries: DataFrame, k: int, nbits: int, max_hamming: int
) -> DataFrame:
    """ANN top-k via a true bucket EQUI-join: each query signature is
    expanded (multi-probe) into every signature in its Hamming ball
    (``sum_{i<=h} C(nbits, i)`` probe keys — 93 for nbits=8, h=3), and the
    corpus joins its exact signature against the broadcast probe table.

    A (query, corpus) pair within distance ≤ h matches exactly one probe
    mask, so the expansion introduces no duplicate candidates. The corpus
    side computes its signature once and is ONLY touched by a hash lookup
    on the bucket key — no nested-loop predicate evaluation per row pair —
    which is what makes the shape survive large query batches at 100 TB
    (corpus signatures can be precomputed/persisted; the probe table stays
    |queries| × ball-size, broadcastable until millions of queries, after
    which the same plan shuffles on the signature key).

    Signatures and cosines are numpy batch arithmetic. Given the
    signatures, probing the Hamming ball equals the naive
    ``bit_count(xor) <= h`` pair predicate, so the registry query's
    all-pairs SQL oracle also proves the expansion loses no candidate.
    """
    planes = _hyperplanes(nbits)
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        signature_pandas(F.col("embedding"), planes).alias("c_sig"),
    )
    masks = _hamming_ball_masks(nbits, max_hamming)
    # expand after computing the signature once (avoid re-running the UDF
    # per mask): explode the literal mask array, then XOR each mask into
    # the signature as a plain projection (no interpreted lambda)
    q_sig = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        signature_pandas(F.col("embedding"), planes).alias("sig"),
    )
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])
    probes = q_sig.select(
        "q_id", "q_emb", "sig", F.explode(mask_arr).alias("mask")
    ).select(
        "q_id", "q_emb", F.col("sig").bitwiseXOR(F.col("mask")).alias("c_sig")
    )
    cand = c.join(F.broadcast(probes), "c_sig").filter(
        F.col("neighbor_id") != F.col("q_id")
    )
    cos = F.round(cosine_pandas(F.col("c_emb"), F.col("q_emb")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.select("q_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def det_kmeans_centroids(corpus: DataFrame) -> DataFrame:
    """Deterministic spherical Lloyd's fit — every float operation has a
    pinned order, so the ENTIRE quantizer is replicable in ANSI SQL
    (unrolled CTEs) and the IVF query it feeds carries an exact oracle.

    Three determinism devices:
    * bounded training sample = the ``KMEANS_TRAIN`` lowest-id vectors (the
      standard IVF practice of fitting the codebook on a sample — FAISS
      trains on a subset too — which is also what keeps the sorted folds
      below driver/task-memory bounds at any corpus size);
    * init = the ``KMEANS_CELLS`` lowest-id sample vectors; assignment =
      argmax sequential cosine with (cos DESC, cell_id) tie-break;
    * update = elementwise sum of member embeddings folded in ascending
      vec_id order — NO normalization step, because cosine is
      scale-invariant in the centroid (cos(x, a*c) = cos(x, c)), so the
      raw sorted-order sum is a valid spherical centroid and the update
      contains no division or sqrt to diverge. A cell that loses all
      members keeps its previous centroid (left join + coalesce).

    Fixed ``KMEANS_ITERS`` Lloyd rounds (no convergence test —
    determinism over optimality); recall floors for the resulting
    quantizer are pinned in tests/test_similarity.py."""
    train = (
        corpus.orderBy(F.col("vec_id"))
        .limit(KMEANS_TRAIN)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    cent = (
        train.orderBy("vec_id")
        .limit(KMEANS_CELLS)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cell_id"),
            F.col("emb").alias("cell_emb"),
        )
    )
    # sorted-order elementwise fold: bit-identical however Spark
    # partitions, and equal to DuckDB's list_reduce over the same order
    sum_expr = F.expr(
        "aggregate("
        "transform(array_sort(collect_list(struct(vec_id, emb))), x -> x.emb),"
        f" array_repeat(0.0D, {EMB_DIM}),"
        " (a, b) -> zip_with(a, b, (p, q) -> p + q))"
    )
    for _ in range(KMEANS_ITERS):
        cos = cosine_similarity(F.col("emb"), F.col("cell_emb"))
        assigned = (
            train.crossJoin(F.broadcast(cent))
            .select("vec_id", "emb", "cell_id", cos.alias("cell_cos"))
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(
                        F.col("cell_cos").desc(), F.col("cell_id")
                    )
                ),
            )
            .filter(F.col("rnk") == 1)
        )
        sums = assigned.groupBy("cell_id").agg(sum_expr.alias("s_emb"))
        cent = cent.join(sums, "cell_id", "left").select(
            "cell_id", F.coalesce("s_emb", "cell_emb").alias("cell_emb")
        )
    return cent


def det_kmeans_rows(
    corpus: DataFrame, n_cells: int = KMEANS_CELLS
) -> list[tuple[int, list[float]]]:
    """:func:`det_kmeans_centroids` executed DRIVER-SIDE, bit-for-bit.

    The Spark-plan fit is deterministic precisely because every float
    operation has a pinned order — which also means plain Python can
    replay it exactly (CPython floats and JVM doubles are both IEEE 754
    binary64 with round-to-nearest; +, *, / are correctly rounded in
    both, ``math.sqrt`` and ``Math.sqrt`` are the IEEE sqrt). Replayed
    here: sequential fold dot/norm in element order, argmax assignment
    with the (cos DESC, cell_id ASC) tie-break, member-embedding sums
    folded in ascending vec_id order, empty cells keeping their previous
    centroid. Differential-pinned equal to the Spark plan in
    tests/test_similarity.py.

    Why it exists: the lazy fit is ~6 tiny shuffle stages per
    consumer plus a deep plan that recompiles under every reuse — a
    fixed ~1.5-2 s of orchestration for 512 x 64 doubles of actual math.
    The training sample is the SAME bounded lowest-id sample the plan
    form reads (the accepted .collect() census pattern: <=512 rows for a
    model fit); a 100 TB corpus ships exactly the same 512 vectors.
    """
    rows = (
        corpus.orderBy(F.col("vec_id"))
        .limit(KMEANS_TRAIN)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    train = sorted(
        ((r.vec_id, list(r.emb)) for r in rows), key=lambda t: t[0]
    )

    def dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def norm(a: list[float]) -> float:
        import math

        acc = 0.0
        for v in a:
            acc = acc + v * v
        return math.sqrt(acc)

    def cos(a: list[float], b: list[float]) -> float:
        denom = norm(a) * norm(b)
        return dot(a, b) / denom if denom > 0 else 0.0

    # the plan form's limit(n_cells) yields FEWER cells when the corpus
    # is smaller than n_cells (single-document probe regime) — replicate
    # that, not a hardcoded range (a single-document probe caught the
    # IndexError)
    cent = [emb for _vid, emb in train[:n_cells]]
    k = len(cent)
    for _ in range(KMEANS_ITERS):
        sums: dict[int, list[float]] = {}
        for _vid, emb in train:  # ascending vec_id — the fold order
            best_cell, best_cos = 0, None
            for cid, c in enumerate(cent):
                cc = cos(emb, c)
                if best_cos is None or cc > best_cos:
                    best_cell, best_cos = cid, cc
                # ties keep the LOWER cell_id (cos DESC, cell_id ASC)
            acc = sums.setdefault(best_cell, [0.0] * EMB_DIM)
            for i, v in enumerate(emb):
                acc[i] = acc[i] + v
        cent = [sums.get(cid, cent[cid]) for cid in range(k)]
    return [(cid, cent[cid]) for cid in range(k)]


def _np_nearest(unit: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Argmax-cosine cell of each unit row; first max (lowest cell) wins
    ties, and an all-zero centroid keeps norm 1."""
    cnorm = np.linalg.norm(cent, axis=1)
    cnorm[cnorm == 0.0] = 1.0
    return np.argmax(unit @ (cent / cnorm[:, None]).T, axis=1)


def _np_lloyd(points: np.ndarray, n_cells: int) -> tuple[np.ndarray, np.ndarray]:
    """``KMEANS_ITERS`` spherical Lloyd's iterations seeded by the first
    ``n_cells`` rows:
    argmax-cosine assignment, unnormalized member sums, empty cells keep
    their previous centroid. Returns the centroids and the unit-norm
    points (all-zero rows stay zero)."""
    cent = points[: min(n_cells, len(points))].copy()
    norms = np.linalg.norm(points, axis=1)
    norms[norms == 0.0] = 1.0
    unit = points / norms[:, None]
    for _ in range(KMEANS_ITERS):
        best = _np_nearest(unit, cent)
        sums = np.zeros_like(cent)
        np.add.at(sums, best, points)
        hit = np.zeros(len(cent), dtype=bool)
        hit[np.unique(best)] = True
        cent = np.where(hit[:, None], sums, cent)
    return cent, unit


def np_kmeans_rows(
    corpus: DataFrame, n_cells: int, n_train: int
) -> list[tuple[int, list[float]]]:
    """Vectorized numpy twin of :func:`det_kmeans_rows` for the LARGE-K
    scale path. Same structure — bounded lowest-id training sample,
    argmax-cosine assignment with first-max (lowest cell_id) tie-break,
    unnormalized member sums, empty cells keep their previous centroid,
    cell count capped at the sample size — but batch numpy arithmetic,
    so it is NOT bit-identical to the sequential fold. The adjudicated
    K=16 SemDeDup query therefore keeps :func:`det_kmeans_rows`; this
    fit exists because the pure-Python replay is O(iters*n_train*K*dim)
    scalar ops (~4e8 at K=1024 / n_train=4096 — minutes), while the
    matmul form is milliseconds. Web-scale K is a production-approximate
    regime by construction (the SemDeDup paper's own fit is MiniBatch
    k-means); determinism (fixed sample, fixed op order within numpy)
    is retained so reruns reproduce."""
    rows = (
        corpus.orderBy(F.col("vec_id"))
        .limit(n_train)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    if not rows:
        # empty corpus: no codebook (a 1-D empty ndarray would crash the
        # axis=1 norms below — the degenerate-probe crash class)
        return []
    train = np.array(
        [list(r.emb) for r in sorted(rows, key=lambda r: r.vec_id)],
        dtype=np.float64,
    )
    cent, _ = _np_lloyd(train, n_cells)
    return [(cid, [float(v) for v in cent[cid]]) for cid in range(len(cent))]


def coarse_shards(
    cent_embs: list[list[float]], n_coarse: int
) -> tuple[list[tuple[int, list[float]]], list[int]]:
    """Two-level IVF: cluster the K fine centroids themselves into
    ``n_coarse`` coarse cells (numpy Lloyd over a K x dim matrix —
    driver-trivial at any realistic K). Returns the coarse codebook rows
    and ``shard_of`` (fine cell_id -> coarse shard id). A vector then
    probes the ``nprobe`` nearest coarse cells and argmaxes only over
    those shards' fine centroids: assignment cost drops from O(N*K) to
    O(N*(n_coarse + nprobe*K/n_coarse)) — the escape hatch PERF.md's
    K-sweep named when the broadcast argmax overtook at K=256."""
    if not len(cent_embs):
        return [], []
    cent = np.asarray(cent_embs, dtype=np.float64)
    coarse, cn = _np_lloyd(cent, n_coarse)
    shard_of = _np_nearest(cn, coarse)
    rows = [
        (sid, [float(v) for v in coarse[sid]]) for sid in range(len(coarse))
    ]
    return rows, [int(s) for s in shard_of]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int,
    nprobe: int,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN over ``centroids`` (``cell_id``, ``cell_emb``) or, by
    default, the dependency-free quantizer of the ``n_cells`` lowest-id
    corpus vectors. Every corpus row joins its nearest cell; a query
    probes its ``nprobe`` nearest cells only. Assignment, probe and
    verify cosines are numpy batch arithmetic.

    With the lowest-id centroids the whole pipeline (assignment,
    multi-probe, candidate equi-join, ranked top-k) has a SQL oracle.
    With the deterministic :func:`det_kmeans_centroids` fit passed as
    ``centroids`` the oracle covers the quantizer TRAINING too, which is
    how the registered ``sim_ann_ivf`` carries a full oracle.
    """
    if centroids is None:
        centroids = (
            corpus.orderBy(F.col("vec_id")).limit(n_cells)
            .select(
                F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_emb")
            )
        )
    cos_cell = cosine_pandas(F.col("embedding"), F.col("cell_emb"))

    # assign each corpus row to its best cell (broadcast centroids, rank 1)
    assigned = (
        corpus.crossJoin(F.broadcast(centroids))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            F.col("cell_id"),
            cos_cell.alias("cell_cos"),
        )
        .withColumn("rnk", F.row_number().over(
            Window.partitionBy("neighbor_id").orderBy(F.col("cell_cos").desc(), F.col("cell_id"))
        ))
        .filter(F.col("rnk") == 1)
        .drop("rnk", "cell_cos")
    )

    # queries probe their nprobe best cells
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("cell_id"),
            cos_cell.alias("cell_cos"),
        )
        .withColumn("rnk", F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("cell_cos").desc(), F.col("cell_id"))
        ))
        .filter(F.col("rnk") <= nprobe)
        .drop("rnk", "cell_cos")
    )

    # the probe side is |queries| x nprobe rows — broadcast it explicitly
    #: the planner cannot size the post-window probe
    # relation and picked a SortMergeJoin, which exchanged AND sorted the
    # whole assigned corpus by cell_id — an n_cells-ary hot-key
    # partitioning (16 distinct keys), a skew magnet at scale. The query
    # set is small by the operator's contract (the same bound that lets
    # sim_bruteforce_topk broadcast its query side), so with the hint the
    # corpus side is never shuffled on cell_id at all.
    cand = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col("neighbor_id") != F.col("q_id")
    )
    cos = F.round(cosine_pandas(F.col("c_emb"), F.col("q_emb")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.select("q_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_neardup_pairs(
    df: DataFrame, nbits: int, max_hamming: int, min_cosine: float
) -> DataFrame:
    """Embedding-cosine near-dup pairs at corpus scale — the unblocked LSH
    path for the oracle-checked ``dedup_embedding_cosine`` (which bounds
    its pair space with an attribute block instead). Signatures and the
    cosine verify are numpy batch arithmetic.

    Pigeonhole bucketing (same scheme as SimHash's
    ``simhash_blocked_pairs``): the ``nbits`` sign-LSH signature splits
    into ``max_hamming + 1`` segments; any pair within Hamming distance
    ``max_hamming`` agrees exactly on at least one segment, so candidates
    come from an EQUI-join on (segment index, segment value) — no all-pairs
    scan. Candidates are prefiltered by whole-signature Hamming distance,
    then verified with exact cosine >= ``min_cosine``.

    Recall is governed by the signature: a pair at cosine c agrees per bit
    with p = 1 - arccos(c)/pi, so true near-dups (c >= 0.9 -> p ~ 0.90)
    match a segment with probability ~1 - (1 - p^(nbits/b))^b ~ 0.99+,
    while weakly-similar pairs rarely collide — which is what keeps bucket
    sizes (and the candidate join) bounded on real, clustered corpora.
    """
    planes = _hyperplanes(nbits)
    # one UDF pass; segments, both join sides, and verify reuse it
    sig = persist_tracked(
        df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("emb"),
            signature_pandas(F.col("embedding"), planes).alias("sig"),
        )
    )
    b = max_hamming + 1
    base, extra = divmod(nbits, b)
    segs, shift = [], 0
    for i in range(b):
        bits = base + (1 if i < extra else 0)
        segs.append(
            F.struct(
                F.lit(i).alias("si"),
                F.shiftrightunsigned(F.col("sig"), shift)
                .bitwiseAND(F.lit((1 << bits) - 1))
                .alias("sv"),
            )
        )
        shift += bits
    keyed = sig.select(
        "id", "sig", F.explode(F.array(*segs)).alias("seg")
    ).select("id", "sig", F.col("seg.si").alias("si"), F.col("seg.sv").alias("sv"))
    a, bb = keyed.alias("a"), keyed.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    cand = (
        a.join(bb, ["si", "sv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(hamming <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        # a pair agreeing on several segments appears once per segment
        .distinct()
    )
    ea = sig.select(F.col("id").alias("id_a"), F.col("emb").alias("emb_a"))
    eb = sig.select(F.col("id").alias("id_b"), F.col("emb").alias("emb_b"))
    cos = F.round(cosine_pandas(F.col("emb_a"), F.col("emb_b")), 6)
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cosine)
    )


def _pq_codebooks(corpus: DataFrame) -> list[list[list[float]]]:
    """Per-subspace L2 k-means codebooks (PQ_M x PQ_KSUB x EMB_DIM/PQ_M), trained
    driver-side on a deterministic corpus sample (lowest ids, strided
    seeding, fixed Lloyd iterations — reproducible run-to-run). Training
    on a bounded sample is standard PQ practice; the codebooks are tiny
    (PQ_M*PQ_KSUB*dsub floats) and broadcast everywhere downstream."""
    sample = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.col("vec_id"))
        .limit(PQ_SAMPLE)
        .collect()
    )
    X = np.array([r[1] for r in sample], dtype=np.float64)
    dsub = EMB_DIM // PQ_M
    books: list[list[list[float]]] = []
    for j in range(PQ_M):
        sub = X[:, j * dsub : (j + 1) * dsub]
        idx = (np.arange(PQ_KSUB) * max(len(sub) // PQ_KSUB, 1)) % len(sub)
        cents = sub[idx].copy()
        for _ in range(PQ_ITERS):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(PQ_KSUB):
                pts = sub[assign == c]
                if len(pts):
                    cents[c] = pts.mean(0)
        books.append(cents.tolist())
    return books


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """(id, codes: array<int>) PQ codes — per subspace, the index of the
    nearest codebook centroid (L2). Arrow-vectorized: one gather+argmin
    per batch per subspace."""
    books = [list(map(list, b)) for b in codebooks]

    @pandas_udf("array<int>")
    def _enc(x: pd.Series) -> pd.Series:
        X = np.vstack(x.values).astype(np.float64)
        m = len(books)
        dsub = X.shape[1] // m
        out = np.empty((len(X), m), dtype=np.int32)
        for j, book in enumerate(books):
            sub = X[:, j * dsub : (j + 1) * dsub]
            cents = np.asarray(book)
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            out[:, j] = d2.argmin(1)
        return pd.Series(list(out))

    return df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("emb"),
        _enc(F.col("embedding")).alias("codes"),
    )


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """ANN top-k via product quantization + exact re-rank — the third leg
    of the standard ANN trio (sign-LSH buckets, IVF cells, PQ codes).

    The corpus is stored as PQ_M 4-bit-ish codes (here array<int>,
    PQ_M*PQ_KSUB*dsub codebooks broadcast); the approximate distance to a query is computed
    by RECONSTRUCTING each candidate from its codes (batch gather, one
    numpy op) and taking L2 — algebraically identical to the classic
    per-query ADC lookup tables, but expressible as one Arrow-vectorized
    UDF over a crossJoin against the broadcast query batch. The best
    ``PQ_RERANK`` candidates per query are re-ranked by exact cosine. At
    100 TB only the code table (PQ_M ints/vector) is scanned per query batch;
    raw vectors are touched for rerank candidates only — the crossJoin
    carries (id, codes), and the embedding table is re-joined against the
    broadcast ≤ queries×PQ_RERANK survivor set."""
    actual_dim = corpus.select(F.size("embedding")).first()[0]
    if actual_dim != EMB_DIM:
        raise ValueError(
            f"pq_topk is built for dim={EMB_DIM} but embedding vectors have "
            f"dim={actual_dim} — without this check the mismatch surfaces "
            "as an opaque numpy broadcast error inside the ADC kernel"
        )
    books = _pq_codebooks(corpus)
    codes = persist_tracked(pq_encode(corpus, books).select("id", "codes"))
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    flat_books = [list(map(list, b)) for b in books]

    @pandas_udf("double")
    def _adc(codes_s: pd.Series, q_s: pd.Series) -> pd.Series:
        C = np.vstack(codes_s.values).astype(np.int64)  # batch x m
        Q = np.vstack(q_s.values).astype(np.float64)  # batch x dim
        mm = C.shape[1]
        dsub = Q.shape[1] // mm
        recon = np.empty_like(Q)
        for j in range(mm):
            cents = np.asarray(flat_books[j])  # ksub x dsub
            recon[:, j * dsub : (j + 1) * dsub] = cents[C[:, j]]
        return pd.Series(((Q - recon) ** 2).sum(1))

    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    survivors = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("q_id"))
        .select(
            "q_id",
            "q_emb",
            F.col("id").alias("neighbor_id"),
            _adc(F.col("codes"), F.col("q_emb")).alias("adc"),
        )
        .withColumn("adc_rnk", F.row_number().over(w_adc))
        .filter(F.col("adc_rnk") <= PQ_RERANK)
    )
    # exact-rerank join: the survivor set (≤ |queries|·rerank rows) is
    # broadcast against the embedding table, so raw vectors stream through
    # a hash lookup only — never the corpus×queries stage above
    emb_tbl = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    cand = emb_tbl.join(F.broadcast(survivors), "neighbor_id")
    cos = F.round(cosine_pandas(F.col("c_emb"), F.col("q_emb")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.select("q_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
