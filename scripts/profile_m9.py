"""Stage-level profile of m9_mlp_train_eval (r17 VERDICT item 1): where
do the ~7 s go — the five driver actions, the L-BFGS iteration jobs, or
the scan partitioning feeding them?

Mirrors the query body with timers around each phase and reports the
partition count of the training relation (the stacked-gradient RDD
inherits it: every L-BFGS iteration schedules one task per partition
plus the treeAggregate combiners, so tiny partitions = pure scheduler
overhead, guide §1.2/§5).

Usage: python scripts/profile_m9.py [--coalesce N] [--repeats 2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repartition", type=int, default=0)
    ap.add_argument("--repeats", type=int, default=2)
    ns = ap.parse_args()

    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import OneHotEncoder, VectorAssembler
    from pyspark.sql import functions as F

    from clinical_bi_spark import caching
    from clinical_bi_spark.operators.split import keyed_hash_split
    from clinical_bi_spark.queries.mlops import _feature_table
    from clinical_bi_spark.session import get_spark, warm

    spark = get_spark("profile-m9")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)

    for rep in range(ns.repeats):
        marks: list[tuple[str, float]] = []

        def mark(label: str, t0: float) -> None:
            marks.append((label, time.perf_counter() - t0))

        t0 = time.perf_counter()
        feats = _feature_table(spark, SF_DIR)
        split = keyed_hash_split(feats, "o_orderkey", 0.7, 0.0)
        encoder = OneHotEncoder(
            inputCols=["priority_code"], outputCols=["prio_vec"], dropLast=False
        ).fit(split)
        mark("encoder.fit", t0)

        t0 = time.perf_counter()
        assembler = VectorAssembler(
            inputCols=["price", "order_year", "acctbal", "seg_building", "prio_vec"],
            outputCol="features",
        )
        encoded = assembler.transform(encoder.transform(split))
        train = encoded.filter(F.col("split") == "train")
        test = encoded.filter(F.col("split") == "test")
        if ns.repartition:
            train = train.repartition(ns.repartition)
        n_parts = train.rdd.getNumPartitions()
        mark(f"build+getNumPartitions({n_parts})", t0)

        t0 = time.perf_counter()
        has = bool(train.head(1))
        mark(f"head(1)={has}", t0)

        input_dim = 4 + int(encoder.categorySizes[0])
        mlp = MultilayerPerceptronClassifier(
            layers=[input_dim, 8, 8, 8, 8, 8, 2],
            blockSize=100,
            maxIter=20,
            seed=42,
            labelCol="label",
            featuresCol="features",
        )
        t0 = time.perf_counter()
        model = mlp.fit(train)
        mark("mlp.fit", t0)

        t0 = time.perf_counter()
        predictions = model.transform(test)
        evaluator = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="accuracy"
        )
        accuracy = evaluator.evaluate(predictions)
        mark("evaluator.evaluate", t0)

        t0 = time.perf_counter()
        tally = predictions.agg(
            F.sum((F.col("prediction") == F.col("label")).cast("int")).alias(
                "correct"
            ),
            F.count("*").alias("total"),
        ).collect()[0]
        mark("tally agg", t0)

        total = sum(d for _, d in marks)
        print(f"-- repeat {rep} total={total:.3f}s  accuracy={accuracy!r} "
              f"correct={tally['correct']} total_rows={tally['total']}")
        for label, d in marks:
            print(f"   {label:35s} {d:7.3f}s")
        caching.release_all(spark)
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    sys.exit(main())
