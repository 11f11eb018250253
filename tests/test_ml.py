"""ML pipeline checks (M1–M11): metric thresholds and split semantics —
the non-SQL-expressible surface (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_bi_spark.operators.split import (
    exact_size_seeded_split,
    keyed_hash_split,
)
from clinical_bi_spark.queries import load_all
from tests.conftest import SF_ORACLE


def test_exact_split_sizes_and_partition(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    train, val, test = exact_size_seeded_split(df, 0.7, 0.005, seed=11, order_key="k")
    assert (train.count(), val.count(), test.count()) == (700, 5, 295)
    # a partition: no overlap, full coverage
    assert train.union(val).union(test).distinct().count() == 1000


def test_exact_split_deterministic(spark):
    df = spark.range(500).withColumnRenamed("id", "k")
    a = exact_size_seeded_split(df, 0.6, 0.2, seed=5, order_key="k")[0]
    b = exact_size_seeded_split(df, 0.6, 0.2, seed=5, order_key="k")[0]
    assert {r.k for r in a.collect()} == {r.k for r in b.collect()}


def test_keyed_split_stable_under_repartition(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    one = keyed_hash_split(df, "k").collect()
    two = keyed_hash_split(df.repartition(13), "k").collect()
    assert {(r.k, r.split) for r in one} == {(r.k, r.split) for r in two}


def test_mlp_beats_majority_baseline(spark):
    metrics = load_all()["m9_mlp_train_eval"].fn(spark, SF_ORACLE).head()
    assert metrics.total > 1000
    assert metrics.correct / metrics.total == pytest.approx(metrics.accuracy, abs=1e-6)
    # orders are ~50/50 F vs O after the filter; the model must at least
    # not be degenerate (strictly better than always-one-class by margin 0
    # is too weak a bar only if classes are skewed — here .5)
    assert metrics.accuracy >= 0.45


def test_feature_importance_normalized(spark):
    rows = load_all()["m3_feature_importance"].fn(spark, SF_ORACLE).collect()
    total = sum(r.relative_importance for r in rows)
    assert total == pytest.approx(1.0, abs=1e-3)
    assert len(rows) == 5


def test_approx_count_distinct_error(spark):
    exact = {
        r.o_orderpriority: r.customer_count
        for r in load_all()["a3_multi_count_distinct"].fn(spark, SF_ORACLE).collect()
    }
    approx = {
        r.o_orderpriority: r.customer_count_approx
        for r in load_all()["a3_approx_count_distinct"].fn(spark, SF_ORACLE).collect()
    }
    for key, truth in exact.items():
        assert abs(approx[key] - truth) / truth < 0.05


def test_vocabulary_embedding_deterministic_and_oov(spark):
    from clinical_bi_spark.ml import vocabulary_embedding

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id int, tok string"
    )
    out = {r.id: (r.tok_idx, r.tok_embedding) for r in vocabulary_embedding(df, "tok", dim=4).collect()}
    assert out[1][1] == out[3][1], "same token ⇒ same vector"
    assert out[1][1] != out[2][1]
    assert all(len(v[1]) == 4 for v in out.values())
    # OOV: apply a model trained on a smaller vocab via transform path
    from pyspark.ml.feature import StringIndexer

    model = StringIndexer(inputCol="tok", outputCol="tok_idx", handleInvalid="keep").fit(
        df.filter(F.col("tok") == "a")
    )
    indexed = model.transform(df)
    oov_idx = indexed.filter(F.col("tok") == "b").head().tok_idx
    assert oov_idx == len(model.labels), "OOV lands in the keep bucket"


def test_distributed_exact_split_contract(spark):
    """The distributed exact-size split must honor the same contract as
    the single-partition parity form — exact sizes, disjoint cover,
    run-to-run determinism — while never serializing through one
    partition (plan-asserted: no SinglePartition exchange)."""
    import contextlib
    import io

    from clinical_bi_spark.operators.split import (
        exact_size_seeded_split_distributed,
    )

    df = spark.range(10_000).withColumnRenamed("id", "k")
    train, val, test = exact_size_seeded_split_distributed(
        df, 0.7, 0.005, seed=11, order_key="k"
    )
    n_tr, n_va, n_te = train.count(), val.count(), test.count()
    assert (n_tr, n_va) == (7000, 50) and n_tr + n_va + n_te == 10_000

    ids = lambda d: {r.k for r in d.collect()}  # noqa: E731
    tr, va, te = ids(train), ids(val), ids(test)
    assert not (tr & va) and not (tr & te) and not (va & te)
    assert len(tr | va | te) == 10_000

    tr2 = ids(
        exact_size_seeded_split_distributed(
            df, 0.7, 0.005, seed=11, order_key="k"
        )[0]
    )
    assert tr2 == tr, "same seed must give the same membership"

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        train.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_lmg_matches_independent_permutation_implementation():
    """ml/lmg.py computes LMG subset-wise from the correlation matrix;
    this twin computes it the definitional way — average over ALL p!
    orderings of the raw-data R² gain from least squares — sharing no
    code path (lstsq on raw data vs corr-matrix solve). Agreement to
    1e-6 pins the decomposition exactly."""
    from itertools import permutations

    import numpy as np

    from clinical_bi_spark.ml.lmg import lmg_relative_importance

    rng = np.random.RandomState(7)
    n, p = 400, 4
    x = rng.randn(n, p)
    # correlated features + known signal so the shares are non-trivial
    x[:, 1] += 0.6 * x[:, 0]
    x[:, 3] += 0.3 * x[:, 2]
    y = 1.5 * x[:, 0] + 0.8 * x[:, 2] - 0.4 * x[:, 3] + rng.randn(n)

    def r2_raw(cols):
        if not cols:
            return 0.0
        xs = np.column_stack([x[:, list(cols)], np.ones(n)])
        resid = y - xs @ np.linalg.lstsq(xs, y, rcond=None)[0]
        return 1.0 - resid.var() / y.var()

    brute = np.zeros(p)
    perms = list(permutations(range(p)))
    for perm in perms:
        seen = []
        for i in perm:
            before = r2_raw(tuple(seen))
            seen.append(i)
            brute[i] += r2_raw(tuple(seen)) - before
    brute /= len(perms)

    corr = np.corrcoef(np.column_stack([y, x]), rowvar=False)
    shares = lmg_relative_importance(corr)
    assert np.allclose(shares, brute, atol=1e-6), (shares, brute)
    # Shapley efficiency: shares sum to the full-model R²
    assert float(shares.sum()) == pytest.approx(r2_raw(tuple(range(p))), abs=1e-9)


def test_trained_embedding_drop_in(spark):
    """The learned (Word2Vec) embedding table swaps into the SAME lookup
    plumbing as the deterministic md5 table: identical (doc_id, source,
    source_idx) rows, one dim-wide finite vector per in-vocabulary source,
    and a seeded single-partition fit is reproducible run-to-run."""
    import math

    from clinical_bi_spark.ml import (
        trained_vocabulary_embedding,
        vocabulary_embedding,
    )
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    learned = trained_vocabulary_embedding(docs, "source", dim=10)
    det = vocabulary_embedding(docs.select("doc_id", "source"), "source", dim=10)

    # plumbing parity: identical index assignment + row multiplicity
    a = sorted((r.doc_id, r.source, r.source_idx) for r in learned.collect())
    b = sorted((r.doc_id, r.source, r.source_idx) for r in det.collect())
    assert a == b

    # every source gets one finite 10-d learned vector
    vecs = {r.source: r.source_embedding
            for r in learned.select("source", "source_embedding").distinct().collect()}
    n_sources = docs.select("source").distinct().count()
    assert len(vecs) == n_sources
    for v in vecs.values():
        assert v is not None and len(v) == 10
        assert all(math.isfinite(x) for x in v)
    # learned, not degenerate: vectors differ across sources
    assert len({tuple(round(x, 9) for x in v) for v in vecs.values()}) > 1

    # seeded fit reproducibility
    again = trained_vocabulary_embedding(docs, "source", dim=10)
    v2 = {r.source: r.source_embedding
          for r in again.select("source", "source_embedding").distinct().collect()}
    for s in vecs:
        assert vecs[s] == pytest.approx(v2[s], abs=0.0), s


def test_trained_embedding_degenerate_corpus_fallback(spark):
    """A corpus where no token repeats has an EMPTY Word2Vec vocabulary
    (minCount=2); the operator must fall back to the deterministic
    md5-seeded table instead of raising — same schema, one finite vector
    per category (the ADVICE r5 guard)."""
    import math

    from clinical_bi_spark.ml import trained_vocabulary_embedding

    docs = spark.createDataFrame(
        [
            (1, "a", "alpha beta gamma"),
            (2, "a", "delta epsilon zeta"),
            (3, "b", "eta theta iota"),
        ],
        "doc_id bigint, source string, text string",
    )
    out = trained_vocabulary_embedding(docs, "source", dim=10)
    rows = out.collect()
    assert len(rows) == 3
    assert {"source_idx", "source_embedding"} <= set(out.columns)
    vecs = {r.source: r.source_embedding for r in rows}
    assert set(vecs) == {"a", "b"}
    for v in vecs.values():
        assert v is not None and len(v) == 10
        assert all(math.isfinite(x) for x in v)
    assert vecs["a"] != vecs["b"]
