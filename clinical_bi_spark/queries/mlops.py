"""ML-pipeline queries (SURVEY.md §2.7 M1–M11).

The reference's pandas→TensorFlow pipeline (ct_data.py / ct_estimator.py)
maps to Spark ML: Bucketizer (M5), OneHotEncoder (M6), VectorAssembler
(M7), MultilayerPerceptronClassifier (M9–M11). Feature engineering stays
in DataFrame expressions; only the final reduced table feeds the model.

Bucketize and split-sizes are SQL-expressible → oracle-checked. Training /
evaluation / KDA are not (iterative algorithms) → rows-only driver checks,
with metric-threshold assertions in tests/test_ml.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables

#: Bucketizer boundaries for o_totalprice (M5 analogue of the start_epoch
#: buckets at ct_estimator.py:49-54). Spark Bucketizer is [lower, upper).
_SPLITS = [float("-inf"), 50_000.0, 150_000.0, 300_000.0, float("inf")]

_BUCKETIZE_ORACLE = """
SELECT
  o_orderkey,
  CAST(CASE WHEN o_totalprice < 50000 THEN 0
            WHEN o_totalprice < 150000 THEN 1
            WHEN o_totalprice < 300000 THEN 2
            ELSE 3 END AS INT) AS price_bucket
FROM orders
"""


@query("m5_bucketize", oracle=_BUCKETIZE_ORACLE)
def m5_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: pyspark.ml.feature.Bucketizer with explicit boundaries — the
    bucketized_column(start_epoch, boundaries=[2009..2020]) parity
    (ct_estimator.py:49-54). Bucketizer's [lower, upper) semantics are
    pinned by the CASE oracle."""
    from pyspark.ml.feature import Bucketizer

    t = load_tables(tune(spark), sf_dir)
    bucketizer = Bucketizer(
        splits=_SPLITS, inputCol="o_totalprice", outputCol="bucket_raw"
    )
    return bucketizer.transform(t.orders).select(
        "o_orderkey", F.col("bucket_raw").cast("int").alias("price_bucket")
    )


_SPLIT_SIZES_ORACLE = """
SELECT 'train' AS split, CAST(floor(0.7 * COUNT(*)) AS BIGINT) AS n FROM orders
UNION ALL
SELECT 'validate', CAST(floor(0.005 * COUNT(*)) AS BIGINT) FROM orders
UNION ALL
SELECT 'test',
       COUNT(*) - CAST(floor(0.7 * COUNT(*)) AS BIGINT)
                - CAST(floor(0.005 * COUNT(*)) AS BIGINT)
FROM orders
"""


@query("m1_exact_split_sizes", oracle=_SPLIT_SIZES_ORACLE)
def m1_exact_split_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: the exact-size property of the reference's permutation split
    (ct_data.py:43-53, fractions 0.7/0.005/~0.295 from :152). The oracle
    pins the *sizes* (the reference's contract); membership is seeded-
    random by design and is pytest-checked for determinism instead."""
    from clinical_bi_spark.operators.split import exact_size_seeded_split

    t = load_tables(tune(spark), sf_dir)
    train, validate, test = exact_size_seeded_split(
        t.orders, 0.7, 0.005, seed=42, order_key="o_orderkey"
    )
    rows = [("train", train), ("validate", validate), ("test", test)]
    out = None
    for name, df in rows:
        part = df.groupBy().agg(F.count("*").alias("n")).select(
            F.lit(name).alias("split"), "n"
        )
        out = part if out is None else out.unionAll(part)
    return out


@query("m1_distributed_split_sizes", oracle=_SPLIT_SIZES_ORACLE)
def m1_distributed_split_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 at scale: the distributed exact-size split (ranked by
    ranking.global_row_number — no SinglePartition data exchange and no
    Python step, plan-asserted in tests/test_plans.py) honors the
    identical exact-size contract, pinned by the same oracle as
    m1_exact_split_sizes."""
    from clinical_bi_spark.operators.split import (
        exact_size_seeded_split_distributed,
    )

    t = load_tables(tune(spark), sf_dir)
    train, validate, test = exact_size_seeded_split_distributed(
        t.orders, 0.7, 0.005, seed=42, order_key="o_orderkey"
    )
    rows = [("train", train), ("validate", validate), ("test", test)]
    out = None
    for name, df in rows:
        part = df.groupBy().agg(F.count("*").alias("n")).select(
            F.lit(name).alias("split"), "n"
        )
        out = part if out is None else out.unionAll(part)
    return out


_ONE_HOT_ORACLE = """
SELECT
  o_orderkey,
  CAST(CASE o_orderpriority WHEN '1-URGENT' THEN 4 WHEN '2-HIGH' THEN 3
       WHEN '3-MEDIUM' THEN 2 WHEN '5-LOW' THEN 1 ELSE 0 END AS INT)
    AS priority_code,
  CAST(CASE WHEN o_orderpriority NOT IN
       ('1-URGENT','2-HIGH','3-MEDIUM','5-LOW') THEN 1 ELSE 0 END AS INT) AS prio_0,
  CAST(CASE WHEN o_orderpriority = '5-LOW'    THEN 1 ELSE 0 END AS INT) AS prio_1,
  CAST(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS INT) AS prio_2,
  CAST(CASE WHEN o_orderpriority = '2-HIGH'   THEN 1 ELSE 0 END AS INT) AS prio_3,
  CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS INT) AS prio_4,
  CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS INT) AS status_0,
  CAST(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS INT) AS status_1,
  CAST(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS INT) AS status_2
FROM orders
"""


@query("m6_one_hot", oracle=_ONE_HOT_ORACLE)
def m6_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: identity-coded categoricals → indicator vectors, the
    ``categorical_column_with_identity`` + ``indicator_column`` parity
    (ct_estimator.py:55-102) as a real ``OneHotEncoder(dropLast=False)``.
    The indicator-vector semantics are pinned by a CASE-column oracle:
    each one-hot slot is unpacked to an int column via vector_to_array so
    DuckDB can express the identical contract."""
    from pyspark.ml.feature import OneHotEncoder
    from pyspark.ml.functions import vector_to_array

    t = load_tables(tune(spark), sf_dir)
    coded = t.orders.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 4)
        .when(F.col("o_orderpriority") == "2-HIGH", 3)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 2)
        .when(F.col("o_orderpriority") == "5-LOW", 1)
        .otherwise(0)
        .cast("int")
        .alias("priority_code"),
        # status codes F/O/P → 0/1/2 (identity coding, as the reference's
        # pre-coded integer columns)
        F.when(F.col("o_orderstatus") == "F", 0)
        .when(F.col("o_orderstatus") == "O", 1)
        .otherwise(2)
        .cast("int")
        .alias("status_code"),
    )
    enc = OneHotEncoder(
        inputCols=["priority_code", "status_code"],
        outputCols=["prio_vec", "status_vec"],
        dropLast=False,  # full indicator vector, mirroring indicator_column
    )
    out = enc.fit(coded).transform(coded)
    prio = vector_to_array("prio_vec")
    status = vector_to_array("status_vec")
    return out.select(
        "o_orderkey",
        "priority_code",
        # get() + coalesce(0): a category slot the fit never saw means
        # the indicator is 0 for every row — semantically exact, and it
        # keeps a degenerate single-category corpus from an OOB crash
        # (indices are 0-based for get())
        *[
            F.coalesce(F.get(prio, F.lit(i)), F.lit(0.0)).cast("int").alias(f"prio_{i}")
            for i in range(5)
        ],
        *[
            F.coalesce(F.get(status, F.lit(i)), F.lit(0.0)).cast("int").alias(f"status_{i}")
            for i in range(3)
        ],
    )


def _feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship-style feature table reduced for ML (M2 encoders applied):
    predict order status F vs O from price/priority/customer features —
    shape-parity with the reference's Completed/Terminated target
    (ct_data.py:28-29,119-120)."""
    t = load_tables(tune(spark), sf_dir)
    base = (
        t.orders.filter(F.col("o_orderstatus").isin("F", "O"))
        .join(F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey"))
    )
    return base.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
        F.col("o_totalprice").alias("price"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 4)
        .when(F.col("o_orderpriority") == "2-HIGH", 3)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 2)
        .when(F.col("o_orderpriority") == "5-LOW", 1)
        .otherwise(0)
        .cast("double")
        .alias("priority_code"),
        F.col("c_acctbal").alias("acctbal"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1.0).otherwise(0.0).alias("seg_building"),
    )


@query("m9_mlp_train_eval", oracle=None, bench=True)
def m9_mlp_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6/M7/M9/M10/M11: OneHotEncoder indicator features + numeric
    assembly → MLP classifier (layers mirroring the reference's 5×8 DNN,
    ct_estimator.py:117-120) → accuracy on the held-out split. The
    priority categorical feeds the model as a dropLast=False indicator
    vector — the reference's indicator_column semantics
    (ct_estimator.py:55-102) — not as a raw integer code. Iterative
    training has no SQL oracle — rows-only check here; tests assert
    accuracy ≥ majority-class baseline."""
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.feature import OneHotEncoder, VectorAssembler

    from clinical_bi_spark.operators.split import keyed_hash_split

    feats = _feature_table(spark, sf_dir)
    split = keyed_hash_split(feats, "o_orderkey", 0.7, 0.0)
    encoder = OneHotEncoder(
        inputCols=["priority_code"], outputCols=["prio_vec"], dropLast=False
    ).fit(split)
    assembler = VectorAssembler(
        inputCols=["price", "order_year", "acctbal", "seg_building", "prio_vec"],
        outputCol="features",
    )
    encoded = assembler.transform(encoder.transform(split))
    # NOT cached: A/B at sf0.1 (min-of-4) showed identical wall with and
    # without persisting the train slice — MultilayerPerceptronClassifier
    # persists its stacked training blocks itself, so the lineage is not
    # re-run per L-BFGS objective evaluation.
    train = encoded.filter(F.col("split") == "train")
    test = encoded.filter(F.col("split") == "test")
    # Scale-adaptive partitioning: the L-BFGS fit runs
    # ~43 SERIAL jobs over the stacked training blocks (20 iterations x
    # line-search objective evaluations), and the stacking inherits the
    # scan's partitioning — which for an sf-scale input is ONE partition
    # (openCostInBytes floors the split size for a small file), so every
    # gradient pass ran single-task on one core. Re-spread a
    # under-partitioned training relation so each evaluation
    # parallelizes; the branch never fires at scale, where the scan
    # already yields >= min(8, cores) partitions (8, not the core
    # count: the per-job fixed launch cost dominates past that — the
    # p1/p8/p16/p32 interleaved sweep read 5.67/5.24/6.95/7.30 s).
    # Accuracy measured bit-identical across p1/p8/p16/p32 at sf0.1
    # (the tie-break-free seeded fit is empirically partition-stable);
    # the pinned accuracy band in tests/test_ml.py adjudicates.
    min_parts = min(8, spark.sparkContext.defaultParallelism)
    if train.rdd.getNumPartitions() < min_parts:
        train = train.repartition(min_parts)

    if not train.head(1):
        # degenerate corpus (no F/O orders at all): NULL accuracy, zero
        # tallies — not an opaque MLP weight-init crash
        return spark.createDataFrame(
            [(None, 0, 0)], "accuracy double, correct bigint, total bigint"
        )
    # input layer = 4 numeric + however many priority categories the fit
    # actually saw (5 on real data, ct_estimator.py:117-120; fewer on a
    # degenerate corpus — a hardcoded 9 crashes weight init)
    input_dim = 4 + int(encoder.categorySizes[0])
    mlp = MultilayerPerceptronClassifier(
        # 5 hidden x 8 units (ct_estimator.py:117-120)
        layers=[input_dim, 8, 8, 8, 8, 8, 2],
        blockSize=100,  # batch_size=100 (ct_estimator.py:33)
        maxIter=20,
        seed=42,
        labelCol="label",
        featuresCol="features",
    )
    model = mlp.fit(train)
    predictions = model.transform(test)
    # M11 manual tally parity (ct_estimator.py:144-160). The
    # separate MulticlassClassificationEvaluator pass is FUSED into this
    # aggregate — metricName="accuracy" is exactly
    # sum(diagonal)/count, i.e. the same two exact integers this tally
    # already computes, divided as doubles (integer-valued doubles sum
    # exactly, so the quotient is bit-identical; verified value-equal at
    # all 3 SFs before/after). One pass over the test slice instead of
    # two. An empty test slice yields (NaN, 0, 0) — the evaluator path
    # crashed on int(None) there, so no real corpus reaches it (the
    # head(1) guard above only proves train is non-empty).
    tally = predictions.agg(
        F.sum((F.col("prediction") == F.col("label")).cast("int")).alias("correct"),
        F.count("*").alias("total"),
    ).collect()[0]
    total = int(tally["total"])
    correct = int(tally["correct"] or 0)
    accuracy = (correct / total) if total else float("nan")
    return spark.createDataFrame(
        [(float(accuracy), correct, total)],
        "accuracy double, correct bigint, total bigint",
    )


@query("m3_feature_importance", oracle=None)
def m3_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: key-driver analysis parity (key_driver_analysis at
    ct_data.py:55-64) — Spark computes the (p+1)×(p+1) correlation matrix
    in one distributed pass; the driver runs the EXACT LMG Shapley
    decomposition of R² over that tiny matrix (ml/lmg.py — every subset
    R² is a function of the correlation matrix alone, zero extra cluster
    passes). Shares normalized to sum 1; pytest pins the decomposition
    against an independent permutation-averaging implementation."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    from clinical_bi_spark.ml.lmg import lmg_relative_importance

    feats = _feature_table(spark, sf_dir)
    cols = ["label", "price", "order_year", "priority_code", "acctbal", "seg_building"]
    assembled = VectorAssembler(inputCols=cols, outputCol="vec").transform(feats)
    if not assembled.head(1):
        # degenerate corpus (no F/O orders): no importances to report —
        # Correlation.corr on an empty RDD is an opaque RuntimeException
        #
        return spark.createDataFrame(
            [], "feature string, relative_importance double"
        )
    corr = Correlation.corr(assembled, "vec").head()[0].toArray()
    shares = lmg_relative_importance(corr)
    total = float(shares.sum()) or 1.0
    rows = sorted(
        (c, round(float(v) / total, 6)) for c, v in zip(cols[1:], shares)
    )
    return spark.createDataFrame(rows, "feature string, relative_importance double")


_M8_ORACLE = """
WITH vocab AS (
  SELECT source,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, source ASC) - 1
              AS INT) AS source_idx
  FROM documents GROUP BY source
), vecs AS (
  -- same md5-derived formula as ml/embedding._seeded_vector: integer
  -- arithmetic on the first 8 hex digits, one exact IEEE division —
  -- no decimal rounding for the engines to disagree on
  SELECT source, source_idx,
    array_to_string(list_transform(range(0, 10), j -> printf('%.6f',
        ((('0x' || substr(md5(source || '|' || j), 1, 8))::UBIGINT)::BIGINT
         % 2000001 - 1000000) / 1000000.0)), ',') AS source_embedding_csv
  FROM vocab
)
SELECT d.doc_id, d.source, v.source_idx, v.source_embedding_csv
FROM documents d JOIN vecs v USING (source)
"""


@query("m8_vocab_embedding", oracle=_M8_ORACLE)
def m8_vocab_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: vocabulary-file categorical embedding (ct_estimator.py:106-114,
    disabled in the reference) — StringIndexer vocabulary + broadcast
    embedding-lookup join. Exact oracle: the StringIndexer vocabulary
    order is frequency-desc with alphabetical tie-break (row_number in
    SQL) and the vector formula is engine-portable md5 arithmetic; tests
    additionally pin determinism and OOV behavior."""
    from clinical_bi_spark.ml import vocabulary_embedding

    t = load_tables(tune(spark), sf_dir)
    out = vocabulary_embedding(t.documents.select("doc_id", "source"), "source", dim=10)
    # Driver contract: never ship a raw array<float> column — the driver's
    # canonicalizer (pandas sort_values over all columns) cannot hash
    # numpy arrays. Project the vector to a stable CSV string; the raw
    # array API stays on the operator itself.
    emb_csv = F.concat_ws(
        ",", F.transform("source_embedding", lambda x: F.format_string("%.6f", x))
    )
    return out.select(
        "doc_id",
        "source",
        F.col("source_idx").cast("int").alias("source_idx"),
        emb_csv.alias("source_embedding_csv"),
    )


@query("m8_vocab_embedding_trained", oracle=None)
def m8_vocab_embedding_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 with an actually LEARNED matrix — the reference's disabled
    ``embedding_column`` intent (ct_estimator.py:106-114): Word2Vec token
    vectors trained on the corpus, mean doc-vector per source as the
    category embedding, broadcast-lookup plumbing identical to
    m8_vocab_embedding (proving the trained table is a drop-in). Learned
    weights are not SQL-expressible → rows-only; tests pin determinism
    (seeded single-partition fit), full-vocabulary coverage, and that the
    plumbing (index + join) matches the deterministic path row-for-row."""
    from clinical_bi_spark.ml import trained_vocabulary_embedding

    t = load_tables(tune(spark), sf_dir)
    out = trained_vocabulary_embedding(
        t.documents.select("doc_id", "source", "text"), "source", dim=10
    )
    emb_csv = F.concat_ws(
        ",", F.transform("source_embedding", lambda x: F.format_string("%.6f", x))
    )
    return out.select(
        "doc_id",
        "source",
        F.col("source_idx").cast("int").alias("source_idx"),
        emb_csv.alias("source_embedding_csv"),
    )


# ---------------------------------------------------------------------------
# M14 — k-fold cross-validation assignment (deterministic).
# ---------------------------------------------------------------------------

_N_FOLDS = 5

_KFOLD_ORACLE = f"""
WITH f AS (
  SELECT o_orderkey,
         CAST(CAST('0x' || substr(md5(o_orderkey::VARCHAR || ':fold'), 1, 8)
              AS UBIGINT) % {_N_FOLDS} AS INT) AS fold
  FROM orders
)
SELECT fold AS fold,
       COUNT(*) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM f GROUP BY fold
"""


@query("m14_kfold_assign", oracle=_KFOLD_ORACLE)
def m14_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (md5 of the key — reproducible
    across engines, partitionings, and reruns; shuffle-free like the
    keyed split) summarized per fold with an exact key checksum so the
    oracle pins the full assignment, not just fold sizes."""
    t = load_tables(tune(spark), sf_dir)
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":fold"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _N_FOLDS
    ).cast("int")
    return (
        t.orders.select("o_orderkey", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# M15 — confusion-matrix metrics for a thresholded classifier.
# ---------------------------------------------------------------------------

# prediction: "order is URGENT-ish" if totalprice above a cut; label:
# actual priority in (1-URGENT, 2-HIGH). All counts exact; every ratio
# is one correctly-rounded division of exact integers.
_CONFUSION_ORACLE = """
WITH scored AS (
  SELECT CASE WHEN o_totalprice >= 250000 THEN 1 ELSE 0 END AS pred,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
           AS label
  FROM orders
), c AS (
  SELECT
    COUNT(*) FILTER (WHERE pred = 1 AND label = 1) AS tp,
    COUNT(*) FILTER (WHERE pred = 1 AND label = 0) AS fp,
    COUNT(*) FILTER (WHERE pred = 0 AND label = 1) AS fn,
    COUNT(*) FILTER (WHERE pred = 0 AND label = 0) AS tn
  FROM scored
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
       CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1,
       CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS accuracy
FROM c
"""


@query("m15_confusion_metrics", oracle=_CONFUSION_ORACLE)
def m15_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1/accuracy for a thresholded
    classifier — single-pass conditional counts (one partial-agg'd
    reduction to four BIGINTs), metrics as correctly-rounded exact-int
    ratios. Completes the eval surface beside m13's rank-based AUC."""
    t = load_tables(tune(spark), sf_dir)
    pred = F.when(F.col("o_totalprice") >= 250000, 1).otherwise(0)
    label = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    c = t.orders.select(pred.alias("pred"), label.alias("label")).agg(
        F.count(F.when((F.col("pred") == 1) & (F.col("label") == 1), 1)).alias("tp"),
        F.count(F.when((F.col("pred") == 1) & (F.col("label") == 0), 1)).alias("fp"),
        F.count(F.when((F.col("pred") == 0) & (F.col("label") == 1), 1)).alias("fn"),
        F.count(F.when((F.col("pred") == 0) & (F.col("label") == 0), 1)).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x).cast("double") for x in ("tp", "fp", "fn", "tn"))
    return c.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        # try_divide: a class absent from the corpus zeroes a metric's
        # denominator — NULL on both engines, not an ANSI crash
        F.try_divide(tp, tp + fp).alias("precision"),
        F.try_divide(tp, tp + fn).alias("recall"),
        F.try_divide(
            (F.lit(2) * F.col("tp")).cast("double"),
            (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
        ).alias("f1"),
        F.try_divide(
            (F.col("tp") + F.col("tn")).cast("double"),
            (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")).cast("double"),
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# M16 — feature hashing (the hashing trick) with signed buckets.
# ---------------------------------------------------------------------------

_N_HASH_BUCKETS = 32

_FEATURE_HASH_ORACLE = f"""
WITH feats AS (
  SELECT o_orderkey, f.feature
  FROM orders o,
       UNNEST(['status=' || o.o_orderstatus,
               'prio=' || o.o_orderpriority]) AS f(feature)
), hashed AS (
  SELECT o_orderkey,
         CAST(CAST('0x' || substr(md5(feature || ':bucket'), 1, 8) AS UBIGINT)
              % {_N_HASH_BUCKETS} AS INT) AS bucket,
         CASE WHEN CAST('0x' || substr(md5(feature || ':sign'), 1, 8)
                   AS UBIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM feats
)
SELECT o_orderkey AS o_orderkey,
       bucket AS bucket,
       CAST(SUM(sgn) AS BIGINT) AS feature_value
FROM hashed GROUP BY o_orderkey, bucket
"""


@query("m16_feature_hashing", oracle=_FEATURE_HASH_ORACLE)
def m16_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical features hash to one of 32 signed
    buckets (md5 bucket + independent md5 sign — the signed variant that
    keeps collision bias zero-mean), summed per (row, bucket) into the
    sparse feature value. Fixed dimensionality at any vocabulary size,
    no fitted dictionary to ship — the 100 TB alternative to
    StringIndexer/OneHot's dictionary round-trip. Pure map + one
    partial-agg'd groupBy on (row, bucket)."""
    t = load_tables(tune(spark), sf_dir)
    feats = t.orders.select(
        "o_orderkey",
        F.explode(
            F.array(
                F.concat(F.lit("status="), F.col("o_orderstatus")),
                F.concat(F.lit("prio="), F.col("o_orderpriority")),
            )
        ).alias("feature"),
    )
    u = lambda suffix: F.conv(
        F.substring(F.md5(F.concat(F.col("feature"), F.lit(suffix))), 1, 8),
        16,
        10,
    ).cast("bigint")
    hashed = feats.select(
        "o_orderkey",
        (u(":bucket") % _N_HASH_BUCKETS).cast("int").alias("bucket"),
        F.when(u(":sign") % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    return hashed.groupBy("o_orderkey", "bucket").agg(
        F.sum("sgn").cast("bigint").alias("feature_value")
    )


# ---------------------------------------------------------------------------
# M17 — leave-one-out target encoding.
# ---------------------------------------------------------------------------

# Target = integer cents, so group sums are exact and the LOO mean
# (S_g - y_i) / (n_g - 1) is one correctly-rounded division — the
# category-leakage-free encoding, exactly oracled.
_TARGET_ENCODE_ORACLE = """
WITH y AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), g AS (
  SELECT o_orderpriority, SUM(cents)::BIGINT AS s_g, COUNT(*) AS n_g
  FROM y GROUP BY o_orderpriority
)
SELECT y.o_orderkey AS o_orderkey,
       y.o_orderpriority AS o_orderpriority,
       CAST(CAST(g.s_g - y.cents AS DOUBLE)
            / CAST(g.n_g - 1 AS DOUBLE) / 100.0 AS DOUBLE) AS loo_target_mean
FROM y JOIN g USING (o_orderpriority)
"""


@query("m17_target_encode_loo", oracle=_TARGET_ENCODE_ORACLE)
def m17_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category feature is the
    mean target of all OTHER rows in its category — (S_g - y_i)/(n_g - 1)
    from exact integer cents, so no training-row leaks its own label and
    the float path is one correctly-rounded division. One tiny group
    aggregate broadcast back onto the facts; the encoded stream never
    re-shuffles."""
    t = load_tables(tune(spark), sf_dir)
    y = t.orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = y.groupBy("o_orderpriority").agg(
        F.sum("cents").cast("bigint").alias("s_g"), F.count("*").alias("n_g")
    )
    return y.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        (
            (F.col("s_g") - F.col("cents")).cast("double")
            / (F.col("n_g") - 1).cast("double")
            / F.lit(100.0)
        ).alias("loo_target_mean"),
    )


# Closed-form least squares from integer-exact moments: the
# agg_stats_battery trick applied to model FITTING. Features scale to
# exact integers (quantity is integral; price in cents), the five
# moment sums are plain integer SUMs — map-side combinable and
# order-independent, so the distributed fit is EXACT and adjudicable,
# unlike any float-accumulation SGD. y^2 sums exceed int64 at bench SF,
# so Syy uses decimal(38)/HUGEINT (both engines sum exactly); the final
# slope/intercept/r2 are single double expressions over exact integers,
# written with identical text on both engines.
_LINREG_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS sx,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sy,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
         SUM(CAST(l_quantity AS BIGINT)
             * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sxy,
         SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
             * CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT))
           AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS slope_cents_per_unit,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept_cents,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
FROM m
"""


@query("m18_linreg_exact", oracle=_LINREG_ORACLE, bench=True)
def m18_linreg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (price-cents on quantity) fit
    CLOSED-FORM from integer-exact moment sums: n, Sx, Sy, Sxx, Sxy in
    BIGINT, Syy in decimal(38) (exceeds int64 at bench SF; DuckDB's
    HUGEINT twin is exact too). The moments are plain SUMs — map-side
    partial aggregation keeps the distributed fit bit-exact however
    Spark partitions, which no gradient loop over floats can claim;
    slope/intercept/r2 are then single double expressions over exact
    integers, identical text on both engines. The 1000-executor story:
    a model fit that is one partial-agg'd scan, no iterations, no
    driver-side math beyond the closed form."""
    t = load_tables(tune(spark), sf_dir)
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = t.lineitem.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y.cast("decimal(38,0)") * y.cast("decimal(38,0)")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = nd * sxy - sx * sy
    var_x = nd * sxx - sx * sx
    var_y = nd * syy - sy * sy
    # try_divide: a constant regressor (var_x = 0) makes the fit
    # undefined — NULL on both engines, not an ANSI crash
    slope = F.try_divide(cov_n, var_x)
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope_cents_per_unit"),
        F.round((sy - slope * sx) / nd, 6).alias("intercept_cents"),
        F.round(
            F.try_divide(cov_n * cov_n, var_x * var_y), 6
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# M19: temporal train/val/test split with leakage audit — the
# time-based split a forecasting/sequence pipeline uses instead of the
# hashed row split (m1): train < 70% of the event-time span, val < 85%,
# test the rest, with a per-split count of users ALSO present in train
# (the entity-overlap number a leakage review asks for first; for
# user-level targets, val/test users absent from train are the
# cold-start cohort).
# ---------------------------------------------------------------------------

_TEMPORAL_SPLIT_ORACLE = """
WITH b AS (
  SELECT MIN(epoch(ts)) AS lo, MAX(epoch(ts)) AS hi FROM events
), s AS (
  SELECT user_id,
         CASE WHEN epoch(ts) < b.lo + 0.70 * (b.hi - b.lo) THEN 'train'
              WHEN epoch(ts) < b.lo + 0.85 * (b.hi - b.lo) THEN 'val'
              ELSE 'test' END AS split
  FROM events, b
), tu AS (
  SELECT DISTINCT user_id FROM s WHERE split = 'train'
)
SELECT s.split AS split,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT CASE WHEN tu.user_id IS NOT NULL
                                THEN s.user_id END) AS BIGINT)
         AS n_users_in_train
FROM s LEFT JOIN tu ON tu.user_id = s.user_id
GROUP BY s.split
"""


@query("m19_temporal_split", oracle=_TEMPORAL_SPLIT_ORACLE)
def m19_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal 70/15/15 split + leakage audit. The span bounds come from
    one tiny min/max aggregate read on the driver and re-enter the plan
    as LITERALS (the LPA literal-inlining pattern — avoids a 1-row
    broadcast-nested-loop join); cutoffs are IEEE-double identical to
    the oracle's epoch arithmetic. The audit joins each split's users
    against the broadcast train-user set — at 100 TB that set is the
    distinct-entity relation, orders smaller than the fact table."""
    t = load_tables(tune(spark), sf_dir)
    e = F.col("ts").cast("double")
    lo, hi = t.events.agg(
        F.min(e).alias("lo"), F.max(e).alias("hi")
    ).first()
    t1 = lo + 0.70 * (hi - lo)
    t2 = lo + 0.85 * (hi - lo)
    s = t.events.select(
        "user_id",
        F.when(e < F.lit(t1), "train")
        .when(e < F.lit(t2), "val")
        .otherwise("test")
        .alias("split"),
    )
    train_users = (
        s.filter(F.col("split") == "train").select("user_id").distinct()
        .withColumn("in_train", F.lit(1))
    )
    return (
        s.join(F.broadcast(train_users), "user_id", "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.countDistinct(
                F.when(F.col("in_train").isNotNull(), F.col("user_id"))
            )
            .cast("bigint")
            .alias("n_users_in_train"),
        )
    )
