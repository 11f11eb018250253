"""Recall checks for the ANN paths against the exact brute-force baseline
(sim_bruteforce_topk is itself oracle-checked, so it is ground truth)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clinical_bi_spark.operators.similarity import ivf_topk, lsh_bucket_topk
from clinical_bi_spark.queries import load_all
from tests.conftest import SF_ORACLE, assert_matches_oracle, duckdb_views


@pytest.fixture(scope="module")
def truth(spark):
    df = load_all()["sim_bruteforce_topk"].fn(spark, SF_ORACLE)
    return {
        (r.q_id, r.neighbor_id) for r in df.collect()
    }


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def _recall(approx_rows, truth):
    found = {(r.q_id, r.neighbor_id) for r in approx_rows}
    return len(found & truth) / len(truth)


def test_lsh_recall(embeddings, truth):
    out = lsh_bucket_topk(
        embeddings, embeddings.filter(F.col("vec_id") < 8),
        k=5, nbits=8, max_hamming=3,
    ).collect()
    r = _recall(out, truth)
    # near-random vectors are the worst case for sign-LSH; measured 0.65
    assert r >= 0.55, f"LSH recall {r}"


def test_lsh_recall_improves_with_probes(embeddings, truth):
    narrow = lsh_bucket_topk(
        embeddings, embeddings.filter(F.col("vec_id") < 8), k=5, nbits=8, max_hamming=1
    ).collect()
    wide = lsh_bucket_topk(
        embeddings, embeddings.filter(F.col("vec_id") < 8), k=5, nbits=8, max_hamming=3
    ).collect()
    assert _recall(wide, truth) >= _recall(narrow, truth)


def test_ivf_recall(embeddings, truth):
    out = ivf_topk(
        embeddings, embeddings.filter(F.col("vec_id") < 8),
        k=5, n_cells=16, nprobe=8,
    ).collect()
    r = _recall(out, truth)
    assert r >= 0.4, f"IVF recall {r}"  # measured 0.95


def test_ivf_det_kmeans_recall_and_cell_balance(spark, embeddings, truth):
    """The deterministic sequential-arithmetic Lloyd's quantizer (the r7
    graduation behind sim_ann_ivf's exact oracle) must keep useful
    recall and bounded cell imbalance — determinism must not cost the
    properties a k-means quantizer is chosen for."""
    from pyspark.sql.window import Window

    from clinical_bi_spark.functions.vectors import cosine_pandas
    from clinical_bi_spark.operators.similarity import det_kmeans_centroids

    cent = det_kmeans_centroids(embeddings)
    out = ivf_topk(
        embeddings, embeddings.filter(F.col("vec_id") < 8),
        k=5, n_cells=16, nprobe=8, centroids=cent,
    ).collect()
    assert _recall(out, truth) >= 0.5

    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "cell_id")
    sizes = (
        embeddings.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cell_id",
            cosine_pandas(F.col("embedding"), F.col("cell_emb")).alias("cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .groupBy("cell_id")
        .count()
        .collect()
    )
    n_total = sum(r["count"] for r in sizes)
    ideal = n_total / 16
    assert max(r["count"] for r in sizes) <= 2.5 * ideal, sizes


def test_identical_vector_is_top1(spark, embeddings):
    """A query identical to a corpus vector must return it at rank 1 with
    cosine 1.0 — sanity for both ANN paths."""
    q = embeddings.filter(F.col("vec_id") == 3)
    out = lsh_bucket_topk(
        embeddings.withColumn("vec_id", F.col("vec_id") + 10_000),
        q, k=1, nbits=8, max_hamming=0,
    ).collect()
    assert out and out[0].neighbor_id == 10_003 and out[0].cos_sim == 1.0


def test_embedding_neardup_recall_on_planted(spark, embeddings):
    """Planted near-dups (tiny perturbation => cosine ~0.99+) must be
    recovered by the pigeonhole LSH path, and every emitted pair must pass
    the exact-cosine verify (no false positives by construction)."""
    from clinical_bi_spark.operators.similarity import embedding_neardup_pairs

    base = embeddings.limit(20).collect()
    rows = []
    for r in base:
        rows.append((r.vec_id, r.embedding))
        # twin = same vector with one coordinate nudged: cosine ~ 0.999
        twin = list(r.embedding)
        twin[0] += 0.01
        rows.append((r.vec_id + 100000, twin))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_neardup_pairs(
        df, nbits=32, max_hamming=6, min_cosine=0.9
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    planted = {(r.vec_id, r.vec_id + 100000) for r in base}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"planted twin recall {recall}: {sorted(got)[:5]}"
    for r in pairs:
        assert r.cos_sim >= 0.9  # exact verify really applied


def test_pq_recall_and_planted_twin(spark, embeddings, truth):
    """PQ + exact rerank: recall vs brute force on near-random vectors
    stays above the LSH-path bar, and a planted near-identical twin is
    retrieved at rank 1 (its reconstruction error ~ the original's, so ADC
    cannot miss it and the exact rerank must top-rank it)."""
    from clinical_bi_spark.operators.similarity import pq_topk

    qs = embeddings.filter(F.col("vec_id") < 8)
    got = pq_topk(embeddings, qs, k=5).collect()
    recall = _recall(got, truth)
    assert recall >= 0.5, f"PQ recall {recall}"

    base = embeddings.limit(1).collect()[0]
    twin = list(base.embedding)
    twin[0] += 0.01
    planted = embeddings.union(
        spark.createDataFrame(
            [(990000, twin, base.label)], embeddings.schema
        )
    )
    res = pq_topk(
        planted, planted.filter(F.col("vec_id") == 990000), k=1
    ).collect()
    assert res and res[0].neighbor_id == base.vec_id


def test_sim_ann_pq_recall_floor(spark):
    """sim_ann_pq graduated from the recall@k annotation to a fully
    exact SQL oracle (r11 — the trainer's numpy float-op order proved
    replicable in SQL), so its recall floor is asserted HERE against the
    brute-force registry query — the same move sim_ann_lsh (r6) and
    sim_ann_ivf (r7) made."""
    registry = load_all()
    ann = registry["sim_ann_pq"].fn(spark, SF_ORACLE)
    assert "recall_at_k" not in ann.columns  # superseded by the oracle
    ann_pairs = {(r.q_id, r.neighbor_id) for r in ann.collect()}
    exact_by_q: dict[int, set[int]] = {}
    for r in registry["sim_bruteforce_topk"].fn(spark, SF_ORACLE).collect():
        exact_by_q.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len({n for (q2, n) in ann_pairs if q2 == q} & hits) / len(hits)
        for q, hits in exact_by_q.items()
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"sim_ann_pq mean recall {mean_recall}"


def test_sim_ann_ivf_recall_floor(spark):
    """sim_ann_ivf graduated from the recall@k annotation to a fully
    exact SQL oracle (r7 — deterministic Lloyd's fit), so its recall
    floor is asserted HERE against the brute-force registry query, the
    same move sim_ann_lsh made in r6."""
    registry = load_all()
    ann = registry["sim_ann_ivf"].fn(spark, SF_ORACLE)
    assert "recall_at_k" not in ann.columns  # superseded by the oracle
    ann_pairs = {(r.q_id, r.neighbor_id) for r in ann.collect()}
    exact_by_q: dict[int, set[int]] = {}
    for r in registry["sim_bruteforce_topk"].fn(spark, SF_ORACLE).collect():
        exact_by_q.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len({n for (q2, n) in ann_pairs if q2 == q} & hits) / len(hits)
        for q, hits in exact_by_q.items()
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, f"sim_ann_ivf mean recall {mean_recall}"


def test_sim_ann_lsh_recall_floor(spark):
    """sim_ann_lsh graduated from the recall@k annotation to an exact SQL
    oracle (r6), so its recall floor is asserted HERE against the
    brute-force registry query."""
    registry = load_all()
    ann = registry["sim_ann_lsh"].fn(spark, SF_ORACLE)
    assert "recall_at_k" not in ann.columns  # superseded by the oracle
    ann_pairs = {(r.q_id, r.neighbor_id) for r in ann.collect()}
    exact = registry["sim_bruteforce_topk"].fn(spark, SF_ORACLE)
    exact_by_q: dict[int, set[int]] = {}
    for r in exact.collect():
        exact_by_q.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len({n for (q2, n) in ann_pairs if q2 == q} & hits) / len(hits)
        for q, hits in exact_by_q.items()
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.55, f"sim_ann_lsh mean recall {mean_recall}"


# ---------------------------------------------------------------------------
# Clustered (adversarial) fixture: mixture of gaussians with overlapping
# tails + queries at cluster-boundary midpoints. The uniform fixture above
# never stresses cell pruning (near-random vectors spread evenly); here a
# query's true top-5 can span two cells, so IVF with nprobe=1 measurably
# misses (0.70 measured) and multi-probe recovers (1.0 at nprobe>=2) —
# the knob a 100 TB deployment would tune. PQ quantization error is also
# real here (0.70 measured vs 0.9+ on uniform).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clustered(spark):
    """(corpus_df, query_df, truth) — 16 gaussians (std 0.35, overlapping
    tails) in 64-d, 60 points each; 8 queries at adjacent-center midpoints;
    truth = exact float64 cosine top-5 per query (numpy ground truth)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1.0, (16, 64))
    pts = np.concatenate(
        [c + rng.normal(0, 0.35, (60, 64)) for c in centers]
    ).astype(np.float32)
    mids = np.array(
        [(centers[i] + centers[(i + 1) % 16]) / 2 for i in range(8)],
        dtype=np.float32,
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in p], int(i // 60)) for i, p in enumerate(pts)],
        "vec_id long, embedding array<float>, label int",
    ).cache()
    queries = spark.createDataFrame(
        [(10_000 + i, [float(x) for x in m], -1) for i, m in enumerate(mids)],
        "vec_id long, embedding array<float>, label int",
    )
    X = pts.astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    M = mids.astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    truth = set()
    for i in range(8):
        for n in np.argsort(-(Xn @ Mn[i]))[:5]:
            truth.add((10_000 + i, int(n)))
    return corpus, queries, truth


def test_clustered_lsh_recall(clustered):
    corpus, queries, truth = clustered
    out = lsh_bucket_topk(corpus, queries, k=5, nbits=8, max_hamming=3).collect()
    r = _recall(out, truth)
    assert r >= 0.9, f"clustered LSH recall {r}"  # measured 0.975


def test_clustered_ivf_nprobe_stress(clustered):
    """nprobe=1 must measurably miss on boundary queries (the stress is
    real) and nprobe=4 must recover — pruning error is a budget knob, not
    a correctness cliff."""
    corpus, queries, truth = clustered
    r1 = _recall(
        ivf_topk(corpus, queries, k=5, n_cells=16, nprobe=1).collect(), truth)
    r4 = _recall(
        ivf_topk(corpus, queries, k=5, n_cells=16, nprobe=4).collect(), truth)
    assert r1 >= 0.55, f"clustered IVF nprobe=1 recall {r1}"  # measured 0.575
    assert r4 >= 0.9, f"clustered IVF nprobe=4 recall {r4}"  # measured 1.0
    assert r4 >= r1, "multi-probe must not reduce recall"


def test_clustered_pq_recall(clustered):
    from clinical_bi_spark.operators.similarity import pq_topk

    corpus, queries, truth = clustered
    out = pq_topk(corpus, queries, k=5).collect()
    r = _recall(out, truth)
    assert r >= 0.55, f"clustered PQ recall {r}"  # measured 0.70


def test_det_kmeans_partitioning_invariant(spark, embeddings):
    """The claim under the sim_ann_ivf oracle: the deterministic Lloyd's
    fit is bit-identical HOWEVER Spark partitions the corpus (sorted
    folds pin the float-addition order). Re-fit under adversarial
    repartitionings and require byte-equal centroids."""
    from clinical_bi_spark.operators.similarity import det_kmeans_centroids

    def fit(df):
        return sorted(
            (r.cell_id, tuple(r.cell_emb))
            for r in det_kmeans_centroids(df).collect()
        )

    base = fit(embeddings)
    assert fit(embeddings.repartition(64)) == base
    assert fit(embeddings.repartition(1)) == base
    assert fit(embeddings.orderBy(F.col("vec_id").desc())) == base


# The five registry queries that run an ANN operator. Each runs one
# arithmetic (numpy batch signatures, ADC and cosines), and that path is
# both what bench.py times and what the DuckDB oracle checks.
ANN_QUERIES = [
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_ann_pq",
    "dedup_embedding_lsh",
    "sim_ann_ivf_exact",
]
# the scale bench.py times by default, next to the oracle fixture dir
SF_BENCH = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")


@pytest.fixture(scope="module")
def bench_oracle_con():
    if not os.path.isdir(SF_BENCH):
        pytest.skip(f"bench SF dir {SF_BENCH} not present")
    con = duckdb_views(SF_BENCH)
    yield con
    con.close()


@pytest.mark.parametrize("name", ANN_QUERIES)
def test_ann_queries_match_oracle_at_bench_sf(spark, bench_oracle_con, name):
    """numpy reduces each dot product in a different order from DuckDB's
    sequential fold, so oracle parity is measured, not exact by
    construction: a sign bit or a rounded cosine could flip on a corpus
    the fixtures do not cover. test_queries_oracle.py pins sf0.01; this
    pins the scale bench.py times."""
    spec = load_all()[name]
    df = spec.fn(spark, SF_BENCH)
    assert_matches_oracle(df, bench_oracle_con, spec.oracle, name=name)


@pytest.mark.parametrize("name", ANN_QUERIES)
def test_ann_query_plans_have_no_interpreted_lambdas(spark, name):
    """No ANN query falls back to a sequential Catalyst fold: Spark's
    higher-order functions are interpreted one element at a time, so a
    zip_with/aggregate dot product or a transform lambda in the plan is
    a second, slower arithmetic next to the numpy one."""
    df = load_all()[name].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for marker in ("lambdafunction", "zip_with", "aggregate("):
        assert marker not in plan, f"{name}: optimized plan contains {marker}"


# --- SemDeDup (r11 registration candidate: oracle + behavior pinned now,
# --- @query registration happens before the r11 window commit) -----------


@pytest.fixture(scope="module")
def semdedup_rows(spark):
    from clinical_bi_spark.queries.vectorops import dedup_semantic_cluster

    return dedup_semantic_cluster(spark, SF_ORACLE).collect()


def test_semdedup_matches_oracle(spark, oracle_con):
    from clinical_bi_spark.queries.vectorops import (
        _semdedup_oracle,
        dedup_semantic_cluster,
    )
    from tests.conftest import assert_matches_oracle

    df = dedup_semantic_cluster(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _semdedup_oracle(), name="dedup_semantic_cluster"
    )


def test_semdedup_drops_something_and_only_neighbors(semdedup_rows):
    # the fixture has 59 eps-pairs corpus-wide; at least some are
    # intra-cell, so the drop rule must fire — and ONLY on vectors that
    # actually have an eps-neighbor
    assert any(r.dropped for r in semdedup_rows)
    for r in semdedup_rows:
        if r.dropped:
            assert r.n_neighbors >= 1
        if r.n_neighbors == 0:
            assert not r.dropped


def test_semdedup_every_neighborhood_keeps_a_survivor(semdedup_rows):
    # keep-the-outlier is local, but the minimal (cent_cos, vec_id)
    # member of every eps-neighborhood component has no smaller neighbor,
    # so each component retains >= 1 survivor; in particular the global
    # minimum among n_neighbors>0 rows must be kept
    nbrs = [r for r in semdedup_rows if r.n_neighbors > 0]
    assert nbrs, "fixture should produce eps-neighborhoods"
    keeper = min(nbrs, key=lambda r: (r.cent_cos, r.vec_id))
    assert not keeper.dropped
    # and survivors exist alongside drops (we never wipe a whole cell)
    assert any(not r.dropped for r in nbrs)


def test_semdedup_total_rows_is_corpus(spark, semdedup_rows):
    n = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").count()
    assert len(semdedup_rows) == n
    assert len({r.vec_id for r in semdedup_rows}) == n


def test_det_kmeans_rows_bitexact_vs_plan(spark):
    """The driver-side Lloyd replay (det_kmeans_rows, the r11 SemDeDup
    fixed-term fix) must equal the Spark-plan fit BIT FOR BIT — every
    float op in both forms has the same pinned IEEE-754 order, which is
    the whole license for swapping them under an exactly-oracled query."""
    from clinical_bi_spark.operators.similarity import (
        det_kmeans_centroids,
        det_kmeans_rows,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan_rows = sorted(
        (r.cell_id, list(r.cell_emb))
        for r in det_kmeans_centroids(emb).collect()
    )
    local_rows = det_kmeans_rows(emb)
    assert len(plan_rows) == len(local_rows) == 16
    for (ca, ea), (cb, eb) in zip(plan_rows, local_rows):
        assert ca == cb
        assert all(x == y for x, y in zip(ea, eb)), ca


def test_det_kmeans_rows_bitexact_when_corpus_smaller_than_k(spark):
    """The megadoc-probe regression, pinned: with fewer vectors than
    n_cells the plan form's limit(n_cells) yields a SHRUNK codebook —
    the local replay must shrink identically (bit-for-bit), not index
    past its training sample."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.operators.similarity import (
        det_kmeans_centroids,
        det_kmeans_rows,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    for n_rows in (1, 5):
        small = emb.filter(F.col("vec_id") < n_rows)
        plan_rows = sorted(
            (r.cell_id, list(r.cell_emb))
            for r in det_kmeans_centroids(small).collect()
        )
        local_rows = det_kmeans_rows(small)
        assert len(plan_rows) == len(local_rows) == n_rows
        for (ca, ea), (cb, eb) in zip(plan_rows, local_rows):
            assert ca == cb and all(x == y for x, y in zip(ea, eb))


def test_semdedup_sharded_full_probe_equals_broadcast_argmax(spark, embeddings):
    """r11 verdict Next #7: the IVF-sharded assignment path. With
    nprobe >= n_shards every coarse cell is probed, so the two-stage
    assignment must equal the one-stage broadcast argmax EXACTLY (same
    codebook, same Catalyst cosine expression on both sides — the only
    thing the sharding may change is which rows reach the argmax, and a
    full probe loses none)."""
    from pyspark.sql.window import Window

    from clinical_bi_spark.functions.vectors import cosine_similarity
    from clinical_bi_spark.operators.similarity import np_kmeans_rows
    from clinical_bi_spark.queries.vectorops import _semdedup_pipeline

    K, C = 32, 8
    sharded = {
        r.vec_id: r.cell_id
        for r in _semdedup_pipeline(
            spark, embeddings, n_cells=K, assign_shards=C, nprobe=C
        ).collect()
    }
    cent_rows = np_kmeans_rows(
        embeddings, n_cells=K, n_train=max(512, 4 * K)
    )
    cent = spark.createDataFrame(
        cent_rows, schema="cell_id int, cell_emb array<double>"
    )
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cc = cosine_similarity(F.col("emb"), F.col("cell_emb"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cc").desc(), F.col("cell_id")
    )
    flat = {
        r.vec_id: r.cell_id
        for r in (
            e.crossJoin(F.broadcast(cent))
            .select("vec_id", "cell_id", cc.alias("cc"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .collect()
        )
    }
    assert sharded == flat


def test_semdedup_sharded_planted_copies_still_drop(spark, embeddings):
    """Below-full probe is the standard IVF recall trade — but planted
    EXACT copies share every cosine with their twin, hence the same
    probe list and the same cell, so the keep-best rule must still drop
    the higher id of every planted pair regardless of nprobe."""
    from clinical_bi_spark.queries.vectorops import _semdedup_pipeline

    n = embeddings.count()
    corpus = embeddings.select("vec_id", "embedding").unionAll(
        embeddings.select(
            (F.col("vec_id") + F.lit(n)).alias("vec_id"), "embedding"
        )
    )
    rows = _semdedup_pipeline(
        spark, corpus, n_cells=32, assign_shards=8, nprobe=2
    ).collect()
    assert len(rows) == 2 * n
    dropped = {r.vec_id for r in rows if r.dropped}
    # every planted copy (the higher id of each identical pair) drops
    assert sum(1 for v in dropped if v >= n) == n


def test_semdedup_sharded_empty_corpus_yields_empty(spark):
    """Degenerate-probe crash class, closed at birth for the sharded
    branch: an EMPTY embedding corpus must flow through the numpy fit
    (no codebook), the coarse sharding (no shards), and both assignment
    windows to an empty result — never an axis-1 numpy error on a 0-row
    array."""
    from clinical_bi_spark.queries.vectorops import _semdedup_pipeline

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    out = _semdedup_pipeline(
        spark, empty, n_cells=32, assign_shards=8, nprobe=2
    )
    assert out.count() == 0
