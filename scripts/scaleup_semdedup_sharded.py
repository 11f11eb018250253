"""SemDeDup large-K assignment A/B: IVF-sharded vs flat broadcast argmax
(r11 verdict Next #7 — turn the PERF.md "documented escape hatch" into an
implemented, measured one).

The r11 K-sweep pinned the lever and its ceiling: at x10 (20k vectors)
K=64 halved the wall (candidate volume ~1/K) but K=256 overtook because
the flat broadcast argmax is O(N*K). The production form for web-scale K
is two-level IVF assignment (probe nprobe of C coarse cells, argmax only
over those shards' fine centroids, O(N*(C + nprobe*K/C))). This harness
holds the corpus at x10, sets K=1024 (the paper's regime scaled to this
corpus), and times BOTH arms on the SAME numpy codebook:

* flat   — `_semdedup_pipeline(..., n_cells=1024, assign_shards=0)`
           (np fit + the original broadcast argmax; N*K = 20.5M window
           rows);
* sharded — `assign_shards=32, nprobe=4` (N*(32 + ~128) rows).

Behavior floor at every arm: replication plants mult-1 EXACT copies of
each vector; copies share every cosine, hence the same probe list and
cell at any nprobe, so drops >= n_base * (mult - 1) must hold for the
sharded arm exactly as for the flat one.

Usage: python scripts/scaleup_semdedup_sharded.py [sf_dir]
Env:   CBS_SEM_MULT=10  CBS_SEM_K=1024  CBS_SEM_SHARDS=32  CBS_SEM_NPROBE=4
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clinical_bi_spark import caching
from clinical_bi_spark.queries.vectorops import _semdedup_pipeline
from clinical_bi_spark.session import get_spark, warm
from scripts.scaleup import replicate

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    spark = get_spark("scaleup-semdedup-sharded")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)
    par = spark.sparkContext.defaultParallelism

    mult = int(os.environ.get("CBS_SEM_MULT", "10"))
    k = int(os.environ.get("CBS_SEM_K", "1024"))
    shards = int(os.environ.get("CBS_SEM_SHARDS", "32"))
    nprobe = int(os.environ.get("CBS_SEM_NPROBE", "4"))

    emb_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_base = emb_base.count()
    emb = replicate(emb_base, mult).repartition(par).persist()
    emb.count()
    floor = n_base * (mult - 1)

    def arm(label: str, **kw) -> None:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = _semdedup_pipeline(spark, emb, n_cells=k, **kw)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            caching.release_all(spark)
        res = _semdedup_pipeline(spark, emb, n_cells=k, **kw)
        n_rows = res.count()
        n_drop = res.filter("dropped").count()
        caching.release_all(spark)
        ok = n_drop >= floor
        print(
            f"{label} vecs={n_base * mult} K={k} sec={round(best, 2)} "
            f"rows={n_rows} drops={n_drop} (planted-copy floor {floor}: "
            f"{'OK' if ok else 'VIOLATED'})",
            flush=True,
        )
        if not ok:
            sys.exit(1)

    arm("flat", assign_shards=0)
    arm(f"sharded C={shards} nprobe={nprobe}",
        assign_shards=shards, nprobe=nprobe)


if __name__ == "__main__":
    main()
