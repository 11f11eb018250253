"""Training-data pipeline orchestration queries — the corpus-management
layer above the per-document operators: incremental (snapshot-over-
snapshot) dedup, weighted source mixing with deterministic up/down-
sampling, global shuffle + shard assignment for training order, and
chunk-level duplication scoring.

These are engine extensions (no reference analogue — the reference's
pipeline is a one-shot pandas extract, ct_data.py:99-141); they cover the
corpus-curation steps a 100 TB pretraining pipeline runs between raw
crawl and tokenizer. Everything is exactly SQL-expressible, so every
query here is oracle-checked.

Determinism contract: all sampling/ordering decisions derive from
``md5`` of stable keys (never ``rand()``), so runs are reproducible
across sessions, partitionings, AND engines — the property that makes
the DuckDB oracles exact. The first 8 md5 hex digits give an unbiased
32-bit uniform (u32 / 2^32): Spark reads it with ``conv(substr(md5(k),
1, 8), 16, 10)``, DuckDB with ``CAST('0x' || substr(md5(k), 1, 8) AS
UBIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinical_bi_spark.caching import persist_tracked
from clinical_bi_spark.functions.text import doc_fingerprint
from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables

#: md5-hex → 32-bit uniform, Spark side. DuckDB twin: _U32_SQL.
_U32_DENOM = float(1 << 32)


def _u32(key: F.Column) -> F.Column:
    """First 8 md5 hex digits of ``key`` as a bigint in [0, 2^32)."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")


_U32_SQL = "CAST('0x' || substr(md5({key}), 1, 8) AS UBIGINT)"

_NORM_FP_SQL = "md5(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')))"


# ---------------------------------------------------------------------------
# Incremental snapshot dedup: a new crawl arrives; keep only the documents
# whose content was never seen — neither in the accepted corpus nor earlier
# in the same batch. The cutoff (half the id range) stands in for the
# snapshot boundary a production pipeline gets from ingest metadata.
# ---------------------------------------------------------------------------

_INCREMENTAL_ORACLE = f"""
WITH cut AS (
  SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS cutoff FROM documents
), fp AS (
  SELECT doc_id, source, {_NORM_FP_SQL.format(col='text')} AS fingerprint
  FROM documents
), existing AS (
  SELECT DISTINCT fingerprint FROM fp, cut WHERE doc_id < cutoff
), incoming AS (
  SELECT fp.* FROM fp, cut WHERE doc_id >= cutoff
), batch_first AS (
  SELECT fingerprint, MIN(doc_id) AS doc_id FROM incoming GROUP BY fingerprint
)
SELECT i.doc_id, i.source, i.fingerprint
FROM incoming i
JOIN batch_first b ON b.fingerprint = i.fingerprint AND b.doc_id = i.doc_id
WHERE i.fingerprint NOT IN (SELECT fingerprint FROM existing)
"""


@query("dedup_incremental", oracle=_INCREMENTAL_ORACLE, bench=True)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot dedup: fingerprint the incoming batch, keep
    each content's first (min doc_id) occurrence within the batch, then
    anti-join against the accepted corpus's fingerprint set. Only 16-byte
    fingerprints + ids ever shuffle — never text — and the accepted side
    needs just its fingerprint column (at 100 TB that column is the thing
    a pipeline keeps hot between crawls; text stays cold). Both joins are
    fingerprint equi-joins, so the plan is two hash joins with no
    wide-row movement."""
    t = load_tables(tune(spark), sf_dir)
    fp = t.documents.select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    # the snapshot boundary is ONE scalar: read it driver-side (a tiny
    # max-aggregate job — same accepted pattern as the PQ training
    # sample) and inline it as a literal. The previous
    # crossJoin(broadcast(one-row-agg)) form planned as a
    # BroadcastNestedLoopJoin that duplicated into both consumer
    # branches; a literal keeps the plan pure equi-join + filter, and
    # the filter pushes down to the scan.
    cutoff = t.documents.agg(
        F.floor(F.max("doc_id") / 2).cast("bigint")
    ).collect()[0][0]
    existing = fp.filter(F.col("doc_id") < F.lit(cutoff)).select("fingerprint")
    incoming = fp.filter(F.col("doc_id") >= F.lit(cutoff))
    batch_first = incoming.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        incoming.join(batch_first, ["fingerprint", "doc_id"], "left_semi")
        .join(existing, "fingerprint", "left_anti")
        .select("doc_id", "source", "fingerprint")
    )


# ---------------------------------------------------------------------------
# Weighted source mixing: every corpus source gets a mixture weight; weight
# w emits floor(w) guaranteed copies of each document plus one more with
# probability frac(w) — deterministic per doc_id, so the sampled multiset
# is reproducible. (Weights here key off the source number to give all
# three regimes: 0.5 = downsample, 1.0 = keep, 2.5 = upsample.)
# ---------------------------------------------------------------------------

_MIX_WEIGHT_SQL = """CASE CAST(substr(source, 4) AS INT) % 3
  WHEN 0 THEN 0.5 WHEN 1 THEN 1.0 ELSE 2.5 END"""

_MIXTURE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source,
         {_MIX_WEIGHT_SQL} AS wt,
         {_U32_SQL.format(key="doc_id::VARCHAR || ':mix'")} / 4294967296.0 AS u
  FROM documents
), n AS (
  SELECT doc_id, source,
         CAST(FLOOR(wt) + CASE WHEN u < wt - FLOOR(wt) THEN 1 ELSE 0 END
              AS INT) AS n_copies
  FROM w
)
SELECT doc_id, source,
       CAST(UNNEST(range(1, n_copies + 1)) AS INT) AS copy_id
FROM n
"""


@query("data_mixture_sample", oracle=_MIXTURE_ORACLE)
def data_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source mixing (the sampling step that turns
    corpus weights into an epoch plan): n_copies = floor(w) + Bernoulli
    (frac(w)) with the coin = md5(doc_id || ':mix') — reproducible across
    runs, partitionings, and engines. Copies materialize as an exploded
    ``sequence`` (narrow, no shuffle, no rand()); rows with n_copies = 0
    vanish with the empty array. At 100 TB this is a pure map stage —
    the explode fan-out lands on whatever partition held the row."""
    t = load_tables(tune(spark), sf_dir)
    srcnum = F.substring("source", 4, 10).cast("int")
    wt = (
        F.when(srcnum % 3 == 0, F.lit(0.5))
        .when(srcnum % 3 == 1, F.lit(1.0))
        .otherwise(F.lit(2.5))
    )
    u = _u32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))) / F.lit(
        _U32_DENOM
    )
    n_copies = (
        F.floor(wt) + F.when(u < wt - F.floor(wt), 1).otherwise(0)
    ).cast("int")
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array())  # sequence(1, 0) would count DOWN in Spark
    return t.documents.select(
        "doc_id", "source", F.explode(copies).alias("copy_raw")
    ).select(
        "doc_id", "source", F.col("copy_raw").cast("int").alias("copy_id")
    )


# ---------------------------------------------------------------------------
# Global shuffle + sharding: training order must be a reproducible global
# permutation, but a total ORDER BY is a single-partition sort at 100 TB.
# Standard decomposition: hash every doc into one of K shards, order
# WITHIN each shard by an independent hash — windows partition by shard,
# so K-way parallel, and the concatenation shard0||shard1||… is the
# training order. K here is 8; at scale K = O(corpus / shard_target_size).
# ---------------------------------------------------------------------------

_N_SHARDS = 8

_SHUFFLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         CAST({_U32_SQL.format(key="doc_id::VARCHAR || ':shard'")} % {_N_SHARDS}
              AS INT) AS shard,
         md5(doc_id::VARCHAR || ':order') AS okey
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey, doc_id)
            AS BIGINT) AS pos
FROM h
"""


@query("data_global_shuffle", oracle=_SHUFFLE_ORACLE)
def data_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle for training order: shard =
    md5-hash(doc_id) mod K, position = rank within shard by an
    independent md5 ordering key. One shuffle (partition by shard), K
    parallel in-partition sorts, no SinglePartition exchange — the
    scalable twin of ``ORDER BY random()``. Same salt-separated keys
    (':shard' / ':order') on both engines make even the positions
    oracle-exact."""
    t = load_tables(tune(spark), sf_dir)
    did = F.col("doc_id").cast("string")
    shard = (_u32(F.concat(did, F.lit(":shard"))) % _N_SHARDS).cast("int")
    okey = F.md5(F.concat(did, F.lit(":order")))
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return (
        t.documents.select(
            "doc_id", shard.alias("shard"), okey.alias("okey")
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# Chunk-level duplication score: split each document into fixed 25-word
# chunks, fingerprint each chunk, and score each document by the share of
# its chunks that occur anywhere else in the corpus — the intra-corpus
# boilerplate/template signal used to gate repetitive documents that
# whole-document dedup cannot catch.
# ---------------------------------------------------------------------------

_CHUNK_WORDS = 25

_CHUNK_DEDUP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), c AS (
  SELECT doc_id,
         md5(array_to_string(
             list_slice(words, i * {_CHUNK_WORDS} + 1,
                        i * {_CHUNK_WORDS} + {_CHUNK_WORDS}), ' ')) AS cfp
  FROM w, UNNEST(range(0, CAST(CEIL(len(words) / {_CHUNK_WORDS}.0) AS BIGINT)))
          AS t(i)
), g AS (
  SELECT cfp, COUNT(*) AS cnt FROM c GROUP BY cfp
)
SELECT c.doc_id,
       CAST(COUNT(*) AS INT) AS n_chunks,
       CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup_chunks,
       ROUND(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS dup_chunk_ratio
FROM c JOIN g USING (cfp)
GROUP BY c.doc_id
"""


@query("text_chunk_dedup", oracle=_CHUNK_DEDUP_ORACLE, bench=True)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-chunk ratio: 25-word chunks via a
    ``transform`` over ``sequence`` (one pass, no UDF), md5 per chunk,
    corpus-wide chunk counts by fingerprint groupBy, rejoined to score
    each doc. Only 16-byte chunk fingerprints shuffle (≈ n_words/25 per
    doc); text never leaves its scan partition. The fingerprint equi-join
    back to chunks is the same audited shape as the exact-dedup keeper
    join."""
    t = load_tables(tune(spark), sf_dir)
    words = F.split(F.col("text"), " ")
    idx = F.sequence(
        F.lit(0),
        F.ceil(F.size(words) / _CHUNK_WORDS).cast("int") - 1,
    )
    chunk_fps = F.transform(
        idx,
        lambda i: F.md5(
            F.array_join(
                F.slice(words, i * _CHUNK_WORDS + 1, _CHUNK_WORDS), " "
            )
        ),
    )
    chunks = t.documents.select(
        "doc_id", F.explode(chunk_fps).alias("cfp")
    )
    counts = chunks.groupBy("cfp").agg(F.count("*").alias("cnt"))
    dup = F.when(F.col("cnt") > 1, 1).otherwise(0)
    return (
        chunks.join(counts, "cfp")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(dup).cast("int").alias("n_dup_chunks"),
            F.round(F.sum(dup) / F.count("*"), 6).alias("dup_chunk_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot diff: what changed between two corpus snapshots — the audit
# step a recurring-crawl pipeline runs before deciding what to reprocess.
# Content identity is the normalized fingerprint (same as incremental
# dedup), so renames/re-ids of identical text count as unchanged.
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = f"""
WITH cut AS (
  SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS cutoff FROM documents
), fp AS (
  SELECT doc_id, {_NORM_FP_SQL.format(col='text')} AS fingerprint
  FROM documents
), old AS (
  SELECT DISTINCT fingerprint FROM fp, cut WHERE doc_id < cutoff
), new AS (
  SELECT DISTINCT fingerprint FROM fp, cut WHERE doc_id >= cutoff
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_fingerprints FROM (
  SELECT CASE WHEN o.fingerprint IS NULL THEN 'added'
              WHEN n.fingerprint IS NULL THEN 'removed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.fingerprint = n.fingerprint
) GROUP BY status
"""


@query("data_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE, bench=True)
def data_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus delta between two snapshots (old = ids below the midpoint
    cutoff, new = at/above — the dedup_incremental convention): distinct
    content fingerprints full-outer-joined and classified added /
    removed / unchanged, rolled up to counts. At 100 TB only 16-byte
    fingerprints shuffle (distinct is a map-side-combined agg; the
    full-outer join is a fingerprint equi-join) — text never moves, and
    the output is K rows."""
    t = load_tables(tune(spark), sf_dir)
    fp = t.documents.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    # driver-side scalar cutoff, same rationale as dedup_incremental:
    # a literal keeps both branches pure filters over the scan
    cutoff = t.documents.agg(
        F.floor(F.max("doc_id") / 2).cast("bigint")
    ).collect()[0][0]
    old = (
        fp.filter(F.col("doc_id") < F.lit(cutoff))
        .select(F.col("fingerprint").alias("ofp"))
        .distinct()
    )
    new = (
        fp.filter(F.col("doc_id") >= F.lit(cutoff))
        .select(F.col("fingerprint").alias("nfp"))
        .distinct()
    )
    status = (
        F.when(F.col("ofp").isNull(), F.lit("added"))
        .when(F.col("nfp").isNull(), F.lit("removed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        old.join(new, old.ofp == new.nfp, "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").cast("bigint").alias("n_fingerprints"))
    )


# ---------------------------------------------------------------------------
# Quality-stratified selection: keep the top-K documents per source by
# quality score — the budgeted-curation step that turns "score everything"
# into "train on the best N per domain" while preserving source balance.
# ---------------------------------------------------------------------------

_TOPK_PER_SOURCE = 20

_QUALITY_SELECT_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, {{quality}} AS quality FROM documents
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id) AS rk
  FROM scored
)
SELECT doc_id, source, quality, CAST(rk AS INT) AS rank_in_source
FROM ranked WHERE rk <= {_TOPK_PER_SOURCE}
"""


def _quality_select_oracle() -> str:
    from clinical_bi_spark.queries.textops import _quality_sql

    return _QUALITY_SELECT_ORACLE.format(quality=_quality_sql())


@query("data_quality_select", oracle=_quality_select_oracle(), bench=True)
def data_quality_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted curation: top-{K} documents per source by quality score
    (deterministic tie-break on doc_id) — one shuffle on source, then
    partition-local rank; at 100 TB the per-source partitions sort only
    (doc_id, quality) pairs, never text, and skewed sources split under
    AQE. The quality expression is the curation funnel's own scorer, so
    the oracle reuses its SQL fragment."""
    from clinical_bi_spark.functions.text import quality_score

    t = load_tables(tune(spark), sf_dir)
    scored = t.documents.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank_in_source", F.row_number().over(w).cast("int"))
        .filter(F.col("rank_in_source") <= _TOPK_PER_SOURCE)
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture resampling (alpha = 0.5).
# ---------------------------------------------------------------------------

# p_s ∝ n_s^alpha with alpha=0.5 — the standard recipe for upweighting
# small sources in an LLM mixture. alpha is 0.5 ON PURPOSE: n^0.5 is
# sqrt, an IEEE correctly-rounded op, so source rates are bit-identical
# across engines (generic pow() is not guaranteed correctly rounded).
# The denominator folds sqrt(n_s) over SOURCES IN SORTED ORDER in both
# engines (sequential list fold), so float addition order is pinned.
_TEMP_MIX_ORACLE = f"""
WITH stats AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_s)::BIGINT AS n_total,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(list_sort(list(n_s)), x -> sqrt(CAST(x AS DOUBLE)))),
           (a, b) -> a + b) AS denom
  FROM stats
), rates AS (
  SELECT s.source,
         CAST(t.n_total AS DOUBLE) * sqrt(CAST(s.n_s AS DOUBLE)) / t.denom
           / CAST(s.n_s AS DOUBLE) AS r_s
  FROM stats s, tot t
), n AS (
  SELECT d.doc_id, d.source,
         CAST(FLOOR(r.r_s)
              + CASE WHEN {_U32_SQL.format(key="d.doc_id::VARCHAR || ':tmix'")}
                          / 4294967296.0 < r.r_s - FLOOR(r.r_s)
                     THEN 1 ELSE 0 END AS INT) AS n_copies
  FROM documents d JOIN rates r ON r.source = d.source
)
SELECT doc_id AS doc_id, source AS source,
       CAST(UNNEST(range(1, n_copies + 1)) AS INT) AS copy_id
FROM n
"""


@query("data_temperature_mixture", oracle=_TEMP_MIX_ORACLE)
def data_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixed resampling: per-source rates r_s = N * n_s^0.5
    / (sum_s' n_s'^0.5) / n_s (alpha = 0.5 upweights small sources while
    keeping the total expected size at N), per-doc copy counts via the
    md5-coin Bernoulli — fully deterministic and exactly oracled (see
    _TEMP_MIX_ORACLE for why alpha=0.5 and the sorted-fold denominator
    make the float path engine-portable). Scale shape: source stats are
    one tiny aggregate; the per-source sqrt-fold runs over a
    sources-count-sized list; rates broadcast back onto the corpus and
    the copy explosion is a pure map — same 100 TB posture as
    data_mixture_sample."""
    t = load_tables(tune(spark), sf_dir)
    stats = t.documents.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = stats.agg(
        F.sum("n_s").cast("bigint").alias("n_total"),
        F.expr(
            "aggregate(array_sort(collect_list(n_s)), 0.0D,"
            " (a, x) -> a + sqrt(CAST(x AS DOUBLE)))"
        ).alias("denom"),
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        "source",
        (
            F.col("n_total").cast("double")
            * F.sqrt(F.col("n_s").cast("double"))
            / F.col("denom")
            / F.col("n_s").cast("double")
        ).alias("r_s"),
    )
    u = _u32(F.concat(F.col("doc_id").cast("string"), F.lit(":tmix"))) / F.lit(
        _U32_DENOM
    )
    n_copies = (
        F.floor(F.col("r_s"))
        + F.when(u < F.col("r_s") - F.floor(F.col("r_s")), 1).otherwise(0)
    ).cast("int")
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array())
    return (
        t.documents.join(F.broadcast(rates), "source")
        .select("doc_id", "source", F.explode(copies).alias("copy_raw"))
        .select(
            "doc_id", "source", F.col("copy_raw").cast("int").alias("copy_id")
        )
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling WITHOUT replacement: the A-Res /
# Efraimidis-Spirakis priority-sampling scheme from the public literature
# — each item draws u ~ Uniform(0,1] from its md5 hash and gets priority
# key -ln(u) / w; the K smallest keys are a weighted sample without
# replacement (longer documents proportionally likelier). The coin is
# md5(doc_id || ':wrs'), so the sample — including its order — is
# reproducible across runs, partitionings, and engines.
# ---------------------------------------------------------------------------

_WRS_K = 100

_WRS_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS weight,
         ({_U32_SQL.format(key="doc_id::VARCHAR || ':wrs'")} + 1)
           / 4294967296.0 AS u
  FROM documents
  WHERE length(text) > 0
), k AS (
  SELECT doc_id, weight, -ln(u) / weight AS pk FROM w
), r AS (
  SELECT doc_id, weight,
         ROW_NUMBER() OVER (ORDER BY pk, doc_id) AS pos
  FROM k
)
SELECT doc_id, weight, CAST(pos AS BIGINT) AS pos
FROM r WHERE pos <= {_WRS_K}
"""


@query("data_weighted_sample", oracle=_WRS_ORACLE)
def data_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, deterministic (A-Res priority
    sampling, Efraimidis & Spirakis 2006): weight = document length in
    chars, u = (md5-u32 + 1) / 2^32 in (0, 1], priority -ln(u)/weight,
    keep the K = 100 smallest priorities ranked.

    Scale shape: the K-smallest selection compiles to
    TakeOrderedAndProject — per-partition top-K then a K-row merge on
    the driver side of the exchange, never a global sort — which is
    exactly the distributed-reservoir decomposition the paper's
    streaming variant describes. The final rank window runs over K rows
    only. Cross-engine float note: -ln(u)/w is IEEE double on both
    engines; rank flips would need two priorities within ~1 ulp, which
    the 32-bit-uniform coin makes negligible."""
    t = load_tables(tune(spark), sf_dir)
    u = (
        _u32(F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))) + 1
    ) / F.lit(_U32_DENOM)
    weight = F.length("text").cast("bigint")
    # zero-weight (empty) documents have sampling probability 0 BY
    # DEFINITION — excluded up front on both engines rather than letting
    # -ln(u)/0 throw under ANSI where DuckDB would NULL
    keyed = t.documents.filter(F.length("text") > 0).select(
        "doc_id",
        weight.alias("weight"),
        (-F.log(u) / weight.cast("double")).alias("pk"),
    )
    topk = keyed.orderBy("pk", "doc_id").limit(_WRS_K)
    w = Window.orderBy("pk", "doc_id")
    return topk.select(
        "doc_id",
        "weight",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
# distribution looks like a TARGET corpus, by importance weight
# log(p_target/p_raw) under bag-of-hashed-feature bigram models, then
# Gumbel-top-k resampling. The published recipe for "give me the 100 TB
# slice that looks like Wikipedia".
#
# Oracle parity and behavior tests in tests/test_pipelineops_dsir.py;
# x1/x10/x50 scale rows in PERF.md (scripts/scaleup.py).
#
# Exactness design (the text_lm_score playbook + one strengthening): the
# hashed generative model is TINY (m = 1024 buckets), so the per-bucket
# log-ratios are computed DRIVER-SIDE in Python libm — bit-identical to
# DuckDB's libm ln on this platform, removing the JVM-vs-libm 1-ulp class
# for the model entirely — and broadcast back as a literal table (the
# paper's own deployment shape: fit the small importance model, ship it
# to every worker). Only the per-document Gumbel keys take in-plan JVM
# logs, with the same micro-nat ROUND absorption lm_score documents.
# All per-document totals are BIGINT sums of integers: order-independent,
# hence exactly oracle-checkable.
# ---------------------------------------------------------------------------

_DSIR_M = 1024  # hashed feature buckets (paper: 10k; domain-scaled here)
_DSIR_K = 100  # documents to select
_DSIR_TARGET = "en"  # target distribution: English documents
#: libm constants, computed in Python so they match DuckDB bit-for-bit
_LN_2POW32 = __import__("math").log(4294967296.0)
_LN_1E6 = __import__("math").log(1000000.0)

_DSIR_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, {_DSIR_TOKENS} AS t FROM documents
), feat AS (
  SELECT doc_id, lang,
         UNNEST(list_concat(t,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS f
  FROM tok
), fb AS (
  SELECT doc_id, lang,
         CAST({_U32_SQL.format(key="f || ':dsirf'")} % {_DSIR_M} AS BIGINT)
           AS bucket
  FROM feat
), bt AS (
  SELECT bucket, COUNT(*) AS cq,
         COUNT(*) FILTER (WHERE lang = '{_DSIR_TARGET}') AS ct
  FROM fb GROUP BY bucket
), tot AS (
  SELECT COALESCE(SUM(cq), 0) AS nq, COALESCE(SUM(ct), 0) AS nt FROM bt
), mb AS (
  SELECT bucket,
         CAST(ROUND(1000000.0 * (ln(ct + 1) - ln(cq + 1))) AS BIGINT) AS micro
  FROM bt
), kc AS (
  SELECT CAST(ROUND(1000000.0 * (ln(nq + {_DSIR_M}) - ln(nt + {_DSIR_M})))
              AS BIGINT) AS kmicro
  FROM tot
), ds AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         CAST(SUM(micro) AS BIGINT) AS fsum
  FROM fb JOIN mb USING (bucket) GROUP BY doc_id
), gz AS (
  SELECT doc_id,
         GREATEST(1, CAST(ROUND(1000000.0 * (ln(4294967296)
           - ln({_U32_SQL.format(key="doc_id::VARCHAR || ':dsirg'")} + 1)))
           AS BIGINT)) AS e_int
  FROM documents
), scored AS (
  SELECT d.doc_id,
         COALESCE(ds.n_features, 0) AS n_features,
         COALESCE(ds.fsum, 0) + COALESCE(ds.n_features, 0) * kc.kmicro
           AS logw_micro,
         CAST(ROUND(1000000.0 * (ln(1000000) - ln(gz.e_int))) AS BIGINT)
           AS gumbel_micro
  FROM documents d
  CROSS JOIN kc
  JOIN gz ON gz.doc_id = d.doc_id
  LEFT JOIN ds ON ds.doc_id = d.doc_id
), keyed AS (
  SELECT doc_id, n_features, logw_micro, gumbel_micro,
         logw_micro + gumbel_micro AS key_micro,
         ROW_NUMBER() OVER (ORDER BY logw_micro + gumbel_micro DESC, doc_id)
           AS pos
  FROM scored
)
SELECT doc_id, n_features, logw_micro, gumbel_micro, key_micro,
       CAST(pos AS BIGINT) AS pos
FROM keyed WHERE pos <= {_DSIR_K}
"""


def _round_half_away(x: float) -> int:
    """DuckDB/Spark ROUND semantics (half away from zero) — Python's
    built-in round() is banker's and would disagree on exact .5 cases."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus DSIR scoring relation (every document, with its hashed
    feature count, micro-nat log importance weight, and Gumbel key).
    Shared by :func:`data_dsir_select` and the behavior tests."""
    import math

    t = load_tables(tune(spark), sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    base = t.documents.select("doc_id", "lang", toks.alias("t"))
    n = F.size("t")
    # features = unigrams ++ adjacent word bigrams (space-joined, so the
    # two classes cannot collide: tokens contain no whitespace)
    feats = F.concat(
        F.col("t"),
        F.zip_with(
            F.slice("t", 1, F.greatest(n - 1, F.lit(0))),
            F.slice("t", 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    )
    # hash to the m-bucket space IN the explode projection: feature
    # strings never reach an exchange — only (doc_id, lang, bucket) ints
    # persist_tracked: a bare .persist() here escaped the
    # tracked registry, so the release at the next query boundary (and
    # the sequential-replay flatness contract) missed this cache
    fb = persist_tracked(
        base.select("doc_id", "lang", F.explode(feats).alias("f"))
        .select(
            "doc_id",
            "lang",
            (_u32(F.concat(F.col("f"), F.lit(":dsirf"))) % _DSIR_M).alias(
                "bucket"
            ),
        )
    )
    # ONE fact-scale pass yields both models: raw counts cq and target
    # counts ct per bucket. The collect is bounded by m = 1024 rows BY
    # CONSTRUCTION (bucket = u32 % m) — the documented bounded-collect
    # contract, same class as ranking.py's per-(partition,group) counts.
    bt = fb.groupBy("bucket").agg(
        F.count("*").alias("cq"),
        F.count_if(F.col("lang") == _DSIR_TARGET).alias("ct"),
    ).collect()
    nq = sum(r.cq for r in bt)
    nt = sum(r.ct for r in bt)
    # driver-side libm: bit-identical to DuckDB's ln on this platform
    kmicro = _round_half_away(
        1e6 * (math.log(nq + _DSIR_M) - math.log(nt + _DSIR_M))
    )
    mrows = [
        (int(r.bucket), _round_half_away(1e6 * (math.log(r.ct + 1) - math.log(r.cq + 1))))
        for r in bt
    ]
    mdf = spark.createDataFrame(mrows, schema="bucket bigint, micro bigint")
    ds = (
        fb.join(F.broadcast(mdf), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_features"),
            F.sum("micro").cast("bigint").alias("fsum"),
        )
    )
    # Gumbel key from the doc_id coin: u = (h+1)/2^32 in (0, 1],
    # e = -ln(u) rounded to integer micro-nats (clamped >= 1 for the
    # ~5e-7-probability round-to-zero tail, identically on both engines),
    # g = -ln(e/1e6) = ln(1e6) - ln(e) — every ln argument is an INTEGER,
    # so the lm_score micro-nat portability argument applies per term
    h = _u32(F.concat(F.col("doc_id").cast("string"), F.lit(":dsirg")))
    e_int = F.greatest(
        F.lit(1).cast("bigint"),
        F.round(
            F.lit(1_000_000.0) * (F.lit(_LN_2POW32) - F.log(h + F.lit(1)))
        ).cast("bigint"),
    )
    g = F.round(
        F.lit(1_000_000.0) * (F.lit(_LN_1E6) - F.log(e_int))
    ).cast("bigint")
    return (
        t.documents.select("doc_id")
        .join(ds, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_features", F.lit(0).cast("bigint")).alias(
                "n_features"
            ),
            (
                F.coalesce("fsum", F.lit(0).cast("bigint"))
                + F.coalesce("n_features", F.lit(0).cast("bigint"))
                * F.lit(kmicro).cast("bigint")
            ).alias("logw_micro"),
            g.alias("gumbel_micro"),
        )
        .withColumn(
            "key_micro", F.col("logw_micro") + F.col("gumbel_micro")
        )
    )


@query("data_dsir_select", oracle=_DSIR_ORACLE, bench=True)
def data_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): keep the
    K = 100 raw-corpus documents most like the TARGET distribution
    (lang = 'en'), by Gumbel-top-k over hashed-bigram importance weights.

    Per document z with hashed features f_1..f_n (unigrams + adjacent
    word bigrams, md5-u32 mod 1024 buckets):
      log w(z) = sum_i [ ln((ct[b_i]+1)) - ln((cq[b_i]+1)) ]
                 + n * [ ln(Nq+m) - ln(Nt+m) ]
    (Laplace-smoothed bucket unigram models of target ct / raw cq), each
    bracketed term an integer micro-nat; selection key = logw + Gumbel
    noise from the doc_id coin — sampling WITHOUT replacement from the
    softmax of importance weights (Gumbel-top-k identity), deterministic
    and engine-portable.

    Scale shape: feature hashing happens inside the explode projection so
    no exchange ever carries a feature string; the two bucket models come
    out of ONE map-side-combined fact-scale groupBy; the fitted model is
    m = 1024 literal rows broadcast back (the paper's own fit-small,
    score-everywhere deployment shape); per-doc scoring is one broadcast
    join + one doc_id groupBy; the K-largest selection compiles to
    TakeOrderedAndProject (per-partition top-K + K-row merge — never a
    global sort). Reference has no counterpart (extension surface)."""
    scored = _dsir_scored(spark, sf_dir)
    topk = scored.orderBy(F.col("key_micro").desc(), "doc_id").limit(_DSIR_K)
    w = Window.orderBy(F.col("key_micro").desc(), "doc_id")
    return topk.select(
        "doc_id",
        "n_features",
        "logw_micro",
        "gumbel_micro",
        "key_micro",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# ---------------------------------------------------------------------------
# PSI — Population Stability Index between two corpus snapshots. Oracle
# parity, numpy twin, and degenerate contracts are pinned in
# tests/test_analytics.py.
#
# The standard production data-drift gate: bucket a numeric feature,
# compare the reference-era vs current-era bucket frequencies,
# PSI = sum_b (p_b - q_b) * ln(p_b / q_b). Conventions chosen for
# determinism and engine portability (documented, not hidden): fixed
# $20k-wide buckets on o_totalprice cents (quantile buckets would drag
# in the equidepth machinery; fixed-width is the common monitoring
# deployment), Laplace +1 smoothing over the OBSERVED bucket set (the
# standard zero-bucket guard, same device as DSIR's models), eras split
# at o_orderdate 1998-01-01 (~the corpus midpoint).
#
# Exactness design (the text_lm_score playbook): ln is the only
# transcendental — each bucket's contribution is rounded to an integer
# NANO-nat ((p-q)*ln(p/q) is transcendental except at the exact-zero
# p==q point, so the HALF_UP-vs-round .5-boundary class the quality
# family hit on RATIONAL values has measure zero here), and the
# cross-bucket total is an order-independent bigint SUM, so the one
# double division at the end is identical in both engines.
# ---------------------------------------------------------------------------

_PSI_BUCKET_CENTS = 2_000_000  # $20k buckets
_PSI_SPLIT = "1998-01-01"

_PSI_ORACLE = f"""
WITH b AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_PSI_BUCKET_CENTS}
           AS bucket,
         CAST(SUM(CASE WHEN o_orderdate < DATE '{_PSI_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(SUM(CASE WHEN o_orderdate >= DATE '{_PSI_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         CAST(SUM(c_cur) AS BIGINT) AS n_cur,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM b
), t AS (
  SELECT CAST(ROUND(1000000000.0 * (
           (CAST(c_ref + 1 AS DOUBLE)
              / CAST((SELECT n_ref + n_buckets FROM s) AS DOUBLE)
            - CAST(c_cur + 1 AS DOUBLE)
              / CAST((SELECT n_cur + n_buckets FROM s) AS DOUBLE))
           * LN((CAST(c_ref + 1 AS DOUBLE)
                   / CAST((SELECT n_ref + n_buckets FROM s) AS DOUBLE))
                / (CAST(c_cur + 1 AS DOUBLE)
                   / CAST((SELECT n_cur + n_buckets FROM s) AS DOUBLE)))
         )) AS BIGINT) AS nano
  FROM b
)
SELECT (SELECT n_ref FROM s) AS n_ref,
       (SELECT n_cur FROM s) AS n_cur,
       (SELECT n_buckets FROM s) AS n_buckets,
       CASE WHEN COALESCE((SELECT n_ref FROM s), 0) > 0
             AND COALESCE((SELECT n_cur FROM s), 0) > 0
            THEN CAST(SUM(nano) AS DOUBLE) / 1000000000.0 END AS psi
FROM t
"""


@query("data_psi_drift", oracle=_PSI_ORACLE, bench=True)
def data_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the o_totalprice distribution,
    reference era (o_orderdate < ``_PSI_SPLIT``, 1998-01-01) vs current
    era — see the block comment
    above for the conventions and the nano-nat exactness design.

    Scale shape: ONE fact-scale groupBy on the bucket id (map-side
    combined; shuffle bounded by the bucket DOMAIN, ~hundreds of rows),
    a 3-long scalar aggregate broadcast back, then arithmetic on the
    bucket relation. Nothing else touches the fact table; the bucket
    relation is monitoring-dashboard sized at any corpus scale."""
    t = load_tables(tune(spark), sf_dir)
    b = persist_tracked(
        t.orders.groupBy(
            F.expr(
                f"CAST(ROUND(o_totalprice * 100) AS BIGINT)"
                f" div {_PSI_BUCKET_CENTS}"
            ).alias("bucket")
        ).agg(
            F.sum(
                F.when(F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("date"), 1)
                .otherwise(0)
            ).cast("bigint").alias("c_ref"),
            F.sum(
                F.when(
                    F.col("o_orderdate") >= F.lit(_PSI_SPLIT).cast("date"), 1
                ).otherwise(0)
            ).cast("bigint").alias("c_cur"),
        )
    )
    s = b.agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
        F.count("*").cast("bigint").alias("n_buckets"),
    )
    # identical association to the oracle: p and q each one division of
    # exact-integer-derived doubles, one subtraction, one LN of their
    # ratio, one nano-nat ROUND -> bigint, order-independent SUM
    p = (F.col("c_ref") + F.lit(1)).cast("double") / (
        F.col("n_ref") + F.col("n_buckets")
    ).cast("double")
    q = (F.col("c_cur") + F.lit(1)).cast("double") / (
        F.col("n_cur") + F.col("n_buckets")
    ).cast("double")
    nano = F.round(F.lit(1_000_000_000.0) * ((p - q) * F.log(p / q))).cast(
        "bigint"
    )
    total = (
        b.crossJoin(F.broadcast(s))
        .select(nano.alias("nano"))
        .agg(F.sum("nano").alias("nano_sum"))
    )
    gate = (F.coalesce(F.col("n_ref"), F.lit(0)) > 0) & (
        F.coalesce(F.col("n_cur"), F.lit(0)) > 0
    )
    return (
        s.crossJoin(F.broadcast(total))
        .select(
            "n_ref",
            "n_cur",
            "n_buckets",
            F.when(
                gate,
                F.col("nano_sum").cast("double") / F.lit(1_000_000_000.0),
            ).alias("psi"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton curve) layout map.
#
# The canonical 100 TB data-LAYOUT technique the engine had not yet made
# adjudicable: multi-dimensional clustering. A linear sort on (x, y)
# gives file-level min/max pruning on x only — every file spans all of
# y, so a y-selective predicate scans the whole table. Interleaving the
# coordinates' bits (Morton/Z-order: z = Σ bit_i(x)·4^i·1 +
# bit_i(y)·4^i·2) and range-bucketing on z bounds EVERY bucket in BOTH
# dimensions, so a 2D box predicate prunes on either axis — this is what
# Delta/Iceberg OPTIMIZE ZORDER does, expressed here as a first-class,
# exactly-oracled operator. The query emits the layout's pruning map:
# 64 equi-depth z-range buckets with per-bucket row counts and min/max
# extents in z, x, and y — the exact statistics a file-skipping scan
# consults. The pruning CLAIM is adjudicated in
# tests/test_pipelineops_dsir.py: on a y-selective box the z-layout's
# touched-bucket count must be a fraction of the linear layout's (which
# touches ~every bucket).
#
# Exactness playbook: coordinates are exact integers (custkey mod 256;
# order-date day number mod 256), the interleave is pure bit arithmetic
# (identical shiftleft/&-folds on both engines), and bucketing is exact
# SQL NTILE(64) over the (z, o_orderkey) total order via the house
# value-level machinery (groupBy z → global_prefix_sums →
# ntile_from_rank spans — the agg_equidepth_histogram template). Every
# per-bucket output is TIE-BREAK INDEPENDENT: n_rows comes from the
# NTILE closed form, and x/y are functions of z (the 8+8-bit interleave
# is a bijection), so bucket extents depend only on which z-values land
# in the bucket. Scale shape: the only fact-scale op is the z-value
# groupBy (map-side combined, shuffle bounded by the 65536-value z
# DOMAIN, not the row count); prefix sums and spans run on the domain
# relation.
# ---------------------------------------------------------------------------

_ZORDER_K = 64

#: The oracle is the ROW-level NTILE form — a genuinely different
#: computation path than the engine's value-level span arithmetic (the
#: same independent-adjudication relationship agg_equidepth_histogram
#: has with its oracle), so a green row proves the domain-collapsed
#: rewrite equals the textbook definition.
_ZORDER_ORACLE = f"""
WITH pts AS (
  SELECT o_orderkey,
         o_custkey % 256 AS x,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
           AS y
  FROM orders
), z AS (
  SELECT o_orderkey, x, y,
         CAST(list_sum(list_transform(range(0, 8), i ->
              ((x >> CAST(i AS INT)) & 1) * (1 << CAST(2 * i AS INT))
            + ((y >> CAST(i AS INT)) & 1) * (1 << CAST(2 * i + 1 AS INT))))
           AS BIGINT) AS z
  FROM pts
), b AS (
  SELECT x, y, z, NTILE({_ZORDER_K}) OVER (ORDER BY z, o_orderkey) AS bucket
  FROM z
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(z) AS z_lo, MAX(z) AS z_hi,
       MIN(x) AS x_lo, MAX(x) AS x_hi,
       MIN(y) AS y_lo, MAX(y) AS y_hi
FROM b
GROUP BY bucket
"""


@query("data_zorder_layout", oracle=_ZORDER_ORACLE, bench=True)
def data_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-interleave orders on (custkey mod 256, order-day mod 256),
    equi-depth-bucket the z order into 64 ranges, and emit each bucket's
    row count and z/x/y extents — the pruning map a file-skipping scan
    consults. See the block comment above for the layout rationale and
    the tie-break-independence argument."""
    from clinical_bi_spark.operators.ranking import (
        global_prefix_sums,
        ntile_from_rank,
    )

    t = load_tables(tune(spark), sf_dir)
    pts = t.orders.select(
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1992-01-01").cast("date"),
            ).cast("bigint")
            % 256
        ).alias("y"),
    )
    z = F.expr(
        "CAST(aggregate(sequence(0, 7), 0L, (acc, i) -> acc"
        " + shiftleft(shiftright(x, i) & 1, 2 * i)"
        " + shiftleft(shiftright(y, i) & 1, 2 * i + 1)) AS BIGINT)"
    )
    zc = persist_tracked(
        pts.select("x", "y", z.alias("z"))
        .groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = global_prefix_sums(zc, [F.col("z")], ["c"], ["k"])
    n = zc.agg(F.sum("c").cast("bigint").alias("__n"))
    e = cum.crossJoin(F.broadcast(n))
    b1 = ntile_from_rank(F.col("k") - F.col("c") + 1, F.col("__n"), _ZORDER_K)
    b2 = ntile_from_rank(F.col("k"), F.col("__n"), _ZORDER_K)
    spans = e.select(
        "x", "y", "z", "__n", F.explode(F.sequence(b1, b2)).alias("bucket")
    )
    n_b = (
        F.floor(F.col("__n") / _ZORDER_K)
        + F.when(F.col("bucket") <= F.col("__n") % _ZORDER_K, 1).otherwise(0)
    ).cast("bigint")
    return (
        spans.withColumn("__nb", n_b)
        .groupBy("bucket")
        .agg(
            F.max("__nb").alias("n_rows"),
            F.min("z").alias("z_lo"),
            F.max("z").alias("z_hi"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered compaction plan (small-files bin packing).
#
# The OTHER canonical 100 TB layout operator next to Z-ordering: small-
# file compaction. A day-partitioned table accumulates one small file
# per partition per ingest; scan cost at 100 TB is dominated by file
# OPEN overhead and lost locality, so maintenance jobs periodically
# coalesce runs of adjacent small files into target-sized bins while
# PRESERVING the sort/partition order (what Delta/Iceberg OPTIMIZE
# compaction does within its ordering). This query emits that plan:
# model each o_orderdate day as one "file" whose size is an exact
# integer byte count (64 B/row overhead + the priority/status payload
# widths), walk the files in date order, and assign each file to bin
# floor(exclusive_running_bytes / _COMPACTION_TARGET) — the textbook
# ordered packing: a bin closes as soon as the running total crosses a
# target boundary, so every bin is a CONTIGUOUS date run (the property
# that keeps min/max pruning intact after the rewrite) and only a
# file's own tail can overflow a bin past the target.
#
# Exactness playbook: file sizes are exact integer sums, the running
# total is the house distributed prefix-sum machinery
# (operators/ranking.py global_prefix_sums — range exchange + local
# cumsum + broadcast per-partition offsets, the agg_ks_two_sample /
# zorder template), and the bin id is integer floor-division — no
# floats anywhere, so the oracle (a plain window cumsum) matches
# bit-for-bit. Bin ids may legitimately SKIP integers when a single
# file spans multiple targets (label semantics, not a defect).
# Scale shape: the only fact-scale op is the per-day groupBy (map-side
# combined; shuffle bounded by the DATE DOMAIN ~2.4k values, not the
# row count); prefix sums and the plan rollup run on the domain
# relation — corpus replication leaves the post-groupBy work invariant.
# ---------------------------------------------------------------------------

#: target compacted-file size in bytes. Small on purpose: the synthetic
#: corpus packs ~6 rows/day at sf0.01, and 16 KiB yields a multi-bin
#: plan at every test SF while the arithmetic is scale-free.
_COMPACTION_TARGET = 16384

_COMPACTION_ORACLE = f"""
WITH files AS (
  SELECT CAST(o_orderdate AS DATE) AS file_date,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(64 + length(o_orderpriority) + length(o_orderstatus))
              AS BIGINT) AS size_bytes
  FROM orders
  GROUP BY 1
), c AS (
  SELECT file_date, n_rows, size_bytes,
         SUM(size_bytes) OVER (ORDER BY file_date
                               ROWS UNBOUNDED PRECEDING) - size_bytes
           AS excl_bytes
  FROM files
)
SELECT CAST(excl_bytes // {_COMPACTION_TARGET} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       MIN(file_date) AS date_lo,
       MAX(file_date) AS date_hi
FROM c
GROUP BY bin
"""


@query("data_compaction_plan", oracle=_COMPACTION_ORACLE, bench=True)
def data_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered small-file compaction plan: per-day file stats → exact
    distributed running byte total → bin = floor(exclusive_bytes /
    target) → per-bin file count, row count, byte total, and contiguous
    date range. See the block comment above for the layout rationale
    and the exactness argument."""
    from clinical_bi_spark.operators.ranking import global_prefix_sums

    t = load_tables(tune(spark), sf_dir)
    files = persist_tracked(
        t.orders.groupBy(
            F.col("o_orderdate").cast("date").alias("file_date")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.lit(64)
                + F.length("o_orderpriority")
                + F.length("o_orderstatus")
            )
            .cast("bigint")
            .alias("size_bytes"),
        )
    )
    cum = global_prefix_sums(
        files, [F.col("file_date")], ["size_bytes"], ["cum_bytes"]
    )
    # DIV, not floor(a / b): Spark's `/` on bigints is DOUBLE division,
    # exact only below 2^53 and wrong-by-one near ulp boundaries for
    # non-power-of-two targets — DIV keeps the whole pipeline integer,
    # matching the oracle's `//` bit-for-bit at any scale (the
    # sources.py:91 convention).
    binned = cum.withColumn(
        "bin",
        F.expr(
            f"CAST((cum_bytes - size_bytes) DIV {_COMPACTION_TARGET}"
            " AS BIGINT)"
        ),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("size_bytes").cast("bigint").alias("total_bytes"),
        F.min("file_date").alias("date_lo"),
        F.max("file_date").alias("date_hi"),
    )
