"""M8: vocabulary-backed categorical embedding.

Reference (disabled code): ``categorical_column_with_vocabulary_file
('source', 1084)`` + ``embedding_column(dim=10)`` (ct_estimator.py:106-114).
Spark shape: StringIndexer builds the vocabulary; the embedding matrix is a
broadcast lookup table joined on the index. The table here is
deterministic (md5-seeded per vocabulary entry) — a trained matrix is a
drop-in replacement; the operator is the lookup plumbing, which is what
the pipeline needs to be able to do at scale (broadcast join, no shuffle
of the fact table).

The vector formula is deliberately engine-portable so the whole operator
is oracle-checkable: component j of token t is
``(int(md5(t + '|' + j)[:8], 16) % 2000001 - 1000000) / 1e6`` — integer
arithmetic on the md5 hex prefix, then one exact IEEE division, so Spark
and DuckDB (``('0x' || substr(md5(..),1,8))::UBIGINT``) produce
bit-identical doubles with no decimal-rounding step to disagree on.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _seeded_vector(token: str, dim: int) -> list[float]:
    out = []
    for j in range(dim):
        h = hashlib.md5(f"{token}|{j}".encode()).hexdigest()
        v = int(h[:8], 16)
        out.append((v % 2000001 - 1000000) / 1000000.0)
    return out


def trained_vocabulary_embedding(df: DataFrame, col: str, dim: int) -> DataFrame:
    """The LEARNED drop-in for :func:`vocabulary_embedding`'s deterministic
    table — closes the reference's disabled ``embedding_column`` intent
    (ct_estimator.py:106-114) with an actually trained matrix.

    Word2Vec (Spark ML, skip-gram) trains token vectors on the category's
    own corpus; each category's embedding is the mean of its documents'
    Word2Vec doc-vectors (``model.transform`` natively averages token
    vectors per document; ``Summarizer.mean`` aggregates per category,
    distributed) over the ``text`` column. The lookup plumbing — StringIndexer vocabulary +
    broadcast table join, no shuffle of the fact side — is byte-identical
    to the deterministic path, demonstrating that a trained matrix swaps
    in without touching the pipeline. ``numPartitions=1`` + fixed seed
    keeps the fit reproducible run-to-run (Word2Vec's negative sampling
    is partition-order dependent); at real scale trade determinism for
    parallel fit or train offline and ship the table, exactly as a
    production pipeline would.

    Degenerate-corpus guard: ``minCount=2`` means a corpus where no
    token repeats yields an EMPTY Word2Vec vocabulary (Spark raises);
    this falls back to the deterministic md5-seeded table
    (:func:`vocabulary_embedding`'s formula keyed on the category value)
    so the operator never fails on pathological input — the fallback is
    flagged in the plan only by its values (seeded, not trained).

    OOV behavior: a document whose tokens are ALL out-of-vocabulary
    (each appearing once) transforms to the zero vector, which
    contributes silently to its category's mean — small categories of
    rare-token documents are pulled toward zero. This matches Spark ML
    Word2Vec semantics; filter such documents upstream if the pull is
    unwanted."""
    from pyspark.ml.feature import StringIndexer, Word2Vec
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.stat import Summarizer

    toks = df.select(
        col,
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
        ).alias("words"),
    )
    w2v = Word2Vec(
        vectorSize=dim, minCount=2, seed=42, maxIter=1, numPartitions=1,
        inputCol="words", outputCol="__dvec",
    )
    try:
        model = w2v.fit(toks)
    except Exception as exc:  # Py4J-wrapped `requirement failed: vocabSize...`
        if "vocab" not in str(exc).lower():
            raise
        # empty vocabulary (no token repeats): deterministic fallback
        cats = [r[0] for r in df.select(col).distinct().collect()]
        table = df.sparkSession.createDataFrame(
            [(c, _seeded_vector(str(c), dim)) for c in cats],
            f"{col} string, {col}_embedding array<double>",
        )
        indexer = StringIndexer(
            inputCol=col, outputCol=f"{col}_idx", handleInvalid="keep"
        )
        out = indexer.fit(df).transform(df)
        return out.join(F.broadcast(table), col, "left")
    table = (
        model.transform(toks)
        .groupBy(col)
        .agg(Summarizer.mean(F.col("__dvec")).alias("__mvec"))
        .select(col, vector_to_array("__mvec").alias(f"{col}_embedding"))
    )
    indexer = StringIndexer(
        inputCol=col, outputCol=f"{col}_idx", handleInvalid="keep"
    )
    out = indexer.fit(df).transform(df)
    return out.join(F.broadcast(table), col, "left")


def vocabulary_embedding(
    df: DataFrame, col: str, dim: int
) -> DataFrame:
    """Attach ``{col}_idx`` (vocabulary index) and ``{col}_embedding``
    (dim-wide float vector). Out-of-vocabulary values (StringIndexer
    handleInvalid='keep' bucket) get a NULL embedding — the caller decides
    the OOV policy, matching the reference's fixed-size vocabulary file."""
    from pyspark.ml.feature import StringIndexer

    indexer = StringIndexer(
        inputCol=col, outputCol=f"{col}_idx", handleInvalid="keep"
    )
    model = indexer.fit(df)
    vocab = model.labels
    table = df.sparkSession.createDataFrame(
        [(float(i), _seeded_vector(tok, dim)) for i, tok in enumerate(vocab)],
        f"{col}_idx double, {col}_embedding array<double>",
    )
    return model.transform(df).join(F.broadcast(table), f"{col}_idx", "left")
