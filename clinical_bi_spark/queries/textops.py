"""Text-analysis and deduplication queries over the documents table —
the LLM-training-data pipeline surface (north star in BASELINE.json).

Every per-document metric is a narrow transformation (no shuffle): at
100 TB these run embarrassingly parallel over parquet splits. The dedup
ops shuffle only compact keys (16-byte fingerprints), never full text.
Oracle-checked where DuckDB can express the same computation; MinHash /
SimHash use Spark-specific hashing and are pytest-verified instead
(tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clinical_bi_spark.caching import persist_tracked
from clinical_bi_spark.operators.dedup import (
    _MERSENNE_P,
    MINHASH_SEED,
    WINNOW_K,
    WINNOW_WINDOW,
    _hash_params,
)
from clinical_bi_spark.functions.text import (
    STOPWORDS,
    doc_fingerprint,
    language_guess,
    mean_token_length,
    punct_ratio,
    quality_score,
    quality_score_micro,
    stopword_ratio,
    subword_count,
    token_count,
    word_tokens,
)
from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables

# Shared DuckDB fragments (kept adjacent to the Spark expressions they mirror).
_TOKENS = "list_filter(string_split_regex({col}, '\\s+'), x -> x <> '')"
_LTOKENS = _TOKENS.format(col="lower({col})")


def _half_up_micro_sql(numer: str, denom: str) -> str:
    """ROUND-half-up of numer/denom at micro (1e-6) grain as exact BIGINT
    arithmetic — the DuckDB twin of functions/text._half_up_micro. The
    unicode sweep caught the old ROUND(double, 6) forms diverging by
    one micro on exact .5e-6 boundaries (Spark BigDecimal HALF_UP vs
    DuckDB std::round(x*1e6)); integer DIV cannot diverge. ``denom``
    must already be clamped >= 1."""
    return (
        f"((2 * (CAST({numer} AS BIGINT) * 1000000) + ({denom}))"
        f" // (2 * ({denom})))"
    )



_STATS_PUNCT_MICRO = _half_up_micro_sql(
    "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))",
    "greatest(length(text), 1)",
)
_STATS_MTL_MICRO = _half_up_micro_sql(
    "COALESCE(list_sum(list_transform("
    + _TOKENS.format(col="text")
    + ", x -> length(x))), 0)",
    "greatest(len(" + _TOKENS.format(col="text") + "), 1)",
)

_TEXT_STATS_ORACLE = f"""
SELECT
  doc_id,
  CAST(len({_TOKENS.format(col='text')}) AS INT) AS n_tokens,
  CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> ''))
       + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS INT) AS n_subwords,
  CAST({_STATS_PUNCT_MICRO} AS DOUBLE) / 1000000.0 AS punct_ratio,
  CAST({_STATS_MTL_MICRO} AS DOUBLE) / 1000000.0 AS mean_token_len
FROM documents
"""


@query("text_stats", oracle=_TEXT_STATS_ORACLE, bench=True)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish subword estimate), punctuation
    ratio, mean token length — all Catalyst higher-order functions, zero
    Python, zero shuffle."""
    t = load_tables(tune(spark), sf_dir)
    text = F.col("text")
    return t.documents.select(
        "doc_id",
        token_count(text).alias("n_tokens"),
        subword_count(text).alias("n_subwords"),
        punct_ratio(text).alias("punct_ratio"),
        mean_token_length(text).alias("mean_token_len"),
    )


def _sw_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter({_LTOKENS.format(col='text')}, x -> x IN ({words})))"
    )


_PUNCT_SQL = "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))"


def _sw_micro_sql() -> str:
    return _half_up_micro_sql(
        _sw_hits_sql("en"),
        f"greatest(len({_LTOKENS.format(col='text')}), 1)",
    )


def _quality_micro_sql() -> str:
    """quality_score as its exact BIGINT micro count (quality x 1e6) —
    mirrors functions/text.quality_score_micro exactly: bigint micro
    units end to end, integer half-up average (_half_up_micro_sql)."""
    t = f"len({_TOKENS.format(col='text')})"
    nw = (
        "COALESCE(list_sum(list_transform("
        + _TOKENS.format(col="text")
        + ", x -> length(x))), 0)"
    )
    pm = _half_up_micro_sql(_PUNCT_SQL, "greatest(length(text), 1)")
    mtlm = _half_up_micro_sql(nw, f"greatest({t}, 1)")
    return f"""((
    least(CAST({t} AS BIGINT) * 15625, 1000000)
    + least({_sw_micro_sql()} * 20, 1000000)
    + (1000000 - least((20 * {pm} + 3) // 6, 1000000))
    + (CASE WHEN {mtlm} BETWEEN 2000000 AND 12000000
            THEN 1000000 ELSE 0 END)
    + 2) // 4)"""


def _quality_sql() -> str:
    """The quality score as a DOUBLE fragment (micro / 1e6)."""
    return f"(CAST({_quality_micro_sql()} AS DOUBLE) / 1000000.0)"


_QUALITY_ORACLE = f"""
SELECT
  doc_id,
  {_quality_sql()} AS quality,
  CAST({_sw_micro_sql()} AS DOUBLE) / 1000000.0 AS en_stopword_ratio
FROM documents
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length adequacy + stopword presence +
    punctuation sanity + token-length sanity, averaged into [0,1]."""
    t = load_tables(tune(spark), sf_dir)
    text = F.col("text")
    return t.documents.select(
        "doc_id",
        quality_score(text).alias("quality"),
        stopword_ratio(text).alias("en_stopword_ratio"),
    )


def _lang_case_sql() -> str:
    hits = {lang: _sw_hits_sql(lang) for lang in STOPWORDS}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    chain = f"CASE WHEN {best} < 2 THEN 'unknown'"
    for lang in ("en", "es", "fr", "de"):
        chain += f" WHEN {hits[lang]} = {best} THEN '{lang}'"
    return chain + " ELSE 'unknown' END"


_LANG_ORACLE = f"""
SELECT doc_id, lang AS labeled_lang, {_lang_case_sql()} AS guessed_lang
FROM documents
"""


@query("text_language_id", oracle=_LANG_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID by stopword vote (n-gram-free). The fixture
    text is language-agnostic word salad, so the guess need not match the
    label column — the oracle checks the heuristic itself, deterministically."""
    t = load_tables(tune(spark), sf_dir)
    return t.documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        language_guess(F.col("text")).alias("guessed_lang"),
    )


_FINGERPRINT_ORACLE = """
SELECT
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
  MIN(doc_id)  AS keep_doc_id,
  COUNT(*)     AS n_docs
FROM documents
GROUP BY 1
"""


@query("dedup_exact", oracle=_FINGERPRINT_ORACLE, bench=True)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: hash-groupBy on md5 of the
    normalized text, keep lowest doc_id. Only 16-byte keys shuffle — at
    100 TB the full text never leaves its input partition."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.documents.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
    )


_WORDSET = (
    "list_distinct(list_filter(string_split_regex(lower({col}), '\\s+'), x -> x <> ''))"
)
_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, words
  FROM (
    SELECT doc_id, source, {_WORDSET.format(col='text')} AS words
    FROM documents
  ) WHERE len(words) >= 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(len(list_filter(a.words, x -> list_contains(b.words, x)))::DOUBLE
               / (len(a.words) + len(b.words)
                  - len(list_filter(a.words, x -> list_contains(b.words, x)))), 6)
           AS jaccard
  FROM toks a, toks b
  WHERE a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-set Jaccard ≥ 0.8, blocked by
    source. Blocking bounds the pair space (the all-pairs form is
    quadratic); the unblocked scale path is MinHash LSH
    (operators/dedup.py), which approximates exactly this measure.

    Zero-token documents are excluded from the pair space (r9, the PMI
    zero-token lesson applied family-wide): two empty word sets in one
    source block would make the Jaccard denominator 0 and crash under
    ANSI mode where the oracle's double division would not — both
    engines now agree the pair is undefined (pinned by
    tests/test_textops.py::test_ngram_jaccard_zero_token_docs)."""
    t = load_tables(tune(spark), sf_dir)
    toks = t.documents.select(
        "doc_id",
        "source",
        F.array_distinct(word_tokens(F.lower(F.col("text")))).alias("words"),
    ).filter(F.size("words") >= 1)
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    union = (
        F.size(F.col("a.words")) + F.size(F.col("b.words")) - inter
    )
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


_LANG_SOURCE_ROLLUP_ORACLE = f"""
SELECT
  lang                                   AS lang,
  source                                 AS source,
  COUNT(*)                               AS n_docs,
  CAST(SUM(n_chars) AS BIGINT)           AS total_chars,
  ROUND(AVG(len({_TOKENS.format(col='text')})), 6) AS avg_tokens
FROM documents
GROUP BY lang, source
"""


@query("text_corpus_rollup", oracle=_LANG_SOURCE_ROLLUP_ORACLE)
def text_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup (per lang × source): the bookkeeping
    aggregate every dataset card needs; A1-style hash agg over computed
    token counts."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.documents.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg(token_count(F.col("text"))), 6).alias("avg_tokens"),
        )
    )


#: MinHash permutations and LSH bands of dedup_minhash_lsh and its oracle.
_MINHASH_PERM, _MINHASH_BANDS = 32, 8


def _minhash_oracle() -> str:
    """Exact DuckDB twin of the full MinHash+LSH pipeline. Possible because
    every hash is engine-portable: md5-prefix u32 token hashes, base-31
    polynomial 3-gram folds, and the (a·g + b) mod p permutation family
    with the same LCG-derived (a, b) literals embedded below. The oracle
    recomputes signatures, bands, bucket collisions, and the signature-
    agreement Jaccard estimate — so the DRIVER check pins the whole
    approximate pipeline exactly, not just row counts.

    Scope note: md5-of-UTF-8-bytes is unicode-safe, but the lower() and
    \\s+-split steps upstream have engine-specific unicode semantics
    (JVM toLowerCase vs utf8proc on e.g. İ/ß); the document fixtures are
    verified pure-ASCII, and tests/test_properties.py pins the hash chain
    against a pure-Python twin over the full printable-ASCII domain."""
    p, num_perm, bands = _MERSENNE_P, _MINHASH_PERM, _MINHASH_BANDS
    rows = num_perm // bands
    params = _hash_params(num_perm, MINHASH_SEED)
    mins = ",\n         ".join(
        f"MIN((g * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    sig_list = "[" + ", ".join(f"m{i}" for i in range(num_perm)) + "]"
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
           t -> CAST(CAST('0x' || substr(md5(t), 1, 8) AS UBIGINT) % {p}
                     AS BIGINT)
         ) AS h
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(h) - 1),
           i -> ((h[i] * 31 + h[i+1]) % {p} * 31 + h[i+2]) % {p})) AS gs
  FROM tok
), gram_rows AS (
  SELECT doc_id, UNNEST(gs) AS g FROM grams
), sig AS (
  SELECT doc_id,
         {mins}
  FROM gram_rows GROUP BY doc_id
), sigl AS (
  SELECT doc_id, {sig_list} AS sig FROM sig
), banded AS (
  SELECT doc_id, sig, UNNEST(range(0, {bands})) AS band_id FROM sigl
), keyed AS (
  SELECT doc_id, sig, band_id,
         array_to_string(
           list_slice(sig, band_id * {rows} + 1, band_id * {rows} + {rows}),
           ',') AS band_key
  FROM banded
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sig AS sig_a, b.sig AS sig_b
  FROM keyed a JOIN keyed b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(list_sum(list_transform(range(1, {num_perm + 1}),
             i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
             AS DOUBLE) / {num_perm}, 6) AS est_jaccard
FROM pairs
"""


@query("dedup_minhash_lsh", oracle=_minhash_oracle(), bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle → 32-perm signature → 8
    bands → bucket join): the scale path approximating dedup_ngram_jaccard.
    The estimator is approximate w.r.t. true Jaccard (tests/test_dedup.py
    pins recall against the exact pairs), but the PIPELINE is exactly
    deterministic: every hash is engine-portable integer arithmetic over
    md5-prefix token hashes, so the DuckDB oracle reproduces signatures,
    bucket collisions, and est_jaccard value-exactly."""
    from clinical_bi_spark.operators.dedup import minhash_lsh_candidates

    t = load_tables(tune(spark), sf_dir)
    # 3-word shingles: unigram sets collide pathologically on small-vocab
    # corpora (every doc shares most words), exploding the candidate join.
    # Repartition: the shingle hashing + map-side partial minima run on the
    # scan partitions, and the test SF is a single split (same policy as
    # the winnow/curation queries; a no-op at real scale).
    docs = t.documents.repartition(spark.sparkContext.defaultParallelism)
    return minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text",
        num_perm=_MINHASH_PERM, bands=_MINHASH_BANDS, shingle_n=3,
    )


def _simhash_fp_cte() -> str:
    """Shared DuckDB CTEs computing the exact SimHash fingerprint per doc:
    md5 two-u32-word token hashes (the engine-portable family simhash64_df
    uses), 64 conditional-sum bit votes, two's-complement assembly (the
    bit-63 term is the -2^63 literal — DuckDB raises on 1<<63). The
    disjoint-bit sum equals Spark's shiftleft/bitwiseOR assembly exactly."""
    votes = ",\n         ".join(
        "SUM(CASE WHEN ({w} >> {s}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}".format(
            w="lo" if i < 32 else "hi", s=i if i < 32 else i - 32, i=i
        )
        for i in range(64)
    )
    terms = []
    for i in range(64):
        if i == 63:
            terms.append(
                "CASE WHEN v63 > 0 THEN 0::BIGINT - 9223372036854775807 - 1 "
                "ELSE 0::BIGINT END"
            )
        else:
            terms.append(
                f"CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
            )
    assemble = "\n           + ".join(terms)
    return f"""
WITH tok AS (
  SELECT doc_id, source,
         UNNEST(list_distinct(list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, source,
         CAST(CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS BIGINT) AS hi,
         CAST(CAST('0x' || substr(md5(tok), 9, 8) AS UBIGINT) AS BIGINT) AS lo
  FROM tok
), votes AS (
  SELECT doc_id, source,
         {votes}
  FROM th GROUP BY doc_id, source
), sh AS (
  SELECT doc_id, source,
         CAST({assemble} AS BIGINT) AS sh
  FROM votes
)"""


def _simhash_oracle(max_hamming: int, blocked_by_source: bool) -> str:
    block = "a.source = b.source AND " if blocked_by_source else ""
    return f"""{_simhash_fp_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sh a JOIN sh b ON {block}a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


@query("dedup_simhash", oracle=_simhash_oracle(12, blocked_by_source=True))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit sign fingerprint, Hamming ≤ 12,
    blocked by source). The fingerprint is built from engine-portable md5
    two-word token hashes, so the DuckDB oracle recomputes the exact
    fingerprints and pair set; pytest additionally checks agreement with
    exact Jaccard on planted duplicates."""
    from clinical_bi_spark.operators.dedup import simhash_neardup_pairs

    t = load_tables(tune(spark), sf_dir)
    return simhash_neardup_pairs(
        t.documents, id_col="doc_id", text_col="text",
        max_hamming=12, block_col="source",
    )


@query("dedup_simhash_blocked", oracle=_simhash_oracle(6, blocked_by_source=False))
def dedup_simhash_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the UNBLOCKED corpus via fingerprint-
    segment blocking (pigeonhole-exact, equi-join on segment keys — the
    production path; no attribute block column needed). The oracle is the
    NAIVE all-pairs form over the exact portable fingerprints — so the
    driver check also proves the pigeonhole blocking loses no pair; tests
    additionally pin planted-dup recall.

    Oracle SF ceiling: the all-pairs oracle is O(n²) bit_count work in
    DuckDB — ~125M comparisons (≈3 s) at sf0.01's 500-doc corpus scaled
    to 5k docs at sf0.1, ~12.5B (minutes) at sf1. The oracle is for
    adjudication at sf ≤ 0.1; above that, compare against
    ``dedup_simhash`` (source-blocked oracle) instead — the Spark side
    itself is sub-quadratic and has no such ceiling."""
    from clinical_bi_spark.operators.dedup import simhash_blocked_pairs

    t = load_tables(tune(spark), sf_dir)
    return simhash_blocked_pairs(
        t.documents, id_col="doc_id", text_col="text", max_hamming=6
    )


_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_tokens,
  CASE WHEN len(toks) = 0 THEN 0.0
       ELSE ROUND(1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 6)
  END AS token_repetition,
  CASE WHEN len(toks) <= 1 THEN 0.0
       ELSE ROUND(1.0 - len(list_distinct(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])))::DOUBLE
                  / (len(toks) - 1), 6)
  END AS bigram_repetition
FROM t
"""


@query("text_repetition", oracle=_REPETITION_ORACLE)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratios — the boilerplate/spam signal every LLM data
    pipeline filters on: fraction of repeated tokens and of repeated
    word bigrams (1 - distinct/total). Narrow transformation, zero
    shuffle; pinned exactly by the DuckDB list-comprehension oracle."""
    t = load_tables(tune(spark), sf_dir)
    toks = word_tokens(F.col("text"))
    n = F.size(toks)
    tok_rep = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)) / n, 6)
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + F.lit(1))
        ),
    )
    big_rep = F.when(n <= 1, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - F.size(F.array_distinct(bigrams)) / (n - 1), 6)
    )
    return t.documents.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        tok_rep.alias("token_repetition"),
        big_rep.alias("bigram_repetition"),
    )


# Winnowing fingerprints (operators/dedup.py): base-31 polynomial k-gram
# hash + sliding-window min — exact integer arithmetic, so DuckDB computes
# bit-identical fingerprints and the queries built on it are fully
# oracle-checked (unlike the Spark-hash-specific MinHash/SimHash rows-only
# paths). ``{src}`` names the corpus relation so the curation pipeline
# can winnow an already-filtered CTE, not just the base table. The gram
# hash spells out the WINNOW_K-term polynomial.
_WINNOW_GRAM = "\n           + ".join(
    f"ascii(substr(t, CAST({'i' if j == 0 else f'i+{j}'} AS INT), 1))::BIGINT"
    + (f" * {31 ** (WINNOW_K - 1 - j)}" if j < WINNOW_K - 1 else "")
    for j in range(WINNOW_K)
)
_WINNOW_FPS_BODY = f"""s AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
  FROM {{src}}
), g AS (
  SELECT doc_id,
    CASE WHEN length(t) >= {WINNOW_K} THEN
      list_transform(range(1, length(t) - {WINNOW_K - 2}),
        i -> {_WINNOW_GRAM})
    ELSE CAST([] AS BIGINT[]) END AS gh
  FROM s
), w AS (
  SELECT doc_id,
    CASE WHEN len(gh) = 0 THEN CAST([] AS BIGINT[])
    ELSE list_sort(list_distinct(list_transform(
           range(1, greatest(len(gh) - {WINNOW_WINDOW - 1}, 1) + 1),
           i -> list_aggregate(gh[CAST(i AS INT):CAST(i + {WINNOW_WINDOW - 1} AS INT)], 'min'))))
    END AS fps
  FROM g
)"""
_WINNOW_CTE = "WITH " + _WINNOW_FPS_BODY.format(src="documents")


_WINNOW_SUMMARY_ORACLE = _WINNOW_CTE + """
SELECT doc_id,
       CAST(len(fps) AS INT)                    AS n_fps,
       CAST(COALESCE(list_sum(fps), 0) AS BIGINT) AS fp_checksum,
       list_min(fps)                            AS fp_min,
       list_max(fps)                            AS fp_max
FROM w
"""


@query("text_winnow_fingerprint", oracle=_WINNOW_SUMMARY_ORACLE, bench=True)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (8-char-gram base-31 rolling hash,
    window-4 minima — the MOSS scheme), summarized per document to scalars
    (the contract never ships array columns). Narrow, shuffle-free; the
    engine-invariant integer hash makes the fingerprint set itself — not
    just its shape — oracle-checked."""
    from clinical_bi_spark.operators.dedup import winnow_fingerprints_df

    t = load_tables(tune(spark), sf_dir)
    # spread the single test-SF parquet split across cores (at 100 TB the
    # scan has thousands of splits and this exchange is a no-op policy)
    docs = t.documents.repartition(spark.sparkContext.defaultParallelism)
    fps = winnow_fingerprints_df(docs, id_col="doc_id", text_col="text")
    return fps.select(
        F.col("id").alias("doc_id"),
        F.size("fps").cast("int").alias("n_fps"),
        F.aggregate("fps", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "fp_checksum"
        ),
        F.array_min("fps").alias("fp_min"),
        F.array_max("fps").alias("fp_max"),
    )


# postings → df cap → post-cap sizes → pair join, reused (with the same
# thresholds) by the curation pipeline below
_WINNOW_PAIRS_BODY = """e0 AS (
  SELECT doc_id, unnest(fps) AS fp FROM w
), surviving AS (
  SELECT fp FROM e0 GROUP BY fp HAVING COUNT(*) <= 50
), ee0 AS (
  SELECT e0.* FROM e0 JOIN surviving USING (fp)
), sz AS (
  SELECT doc_id, COUNT(*) AS n_fps FROM ee0 GROUP BY doc_id
), ee AS (
  SELECT ee0.doc_id, sz.n_fps, ee0.fp FROM ee0 JOIN sz USING (doc_id)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS INT) AS shared_fps,
         ROUND(COUNT(*)::DOUBLE / least(a.n_fps, b.n_fps), 6) AS containment
  FROM ee a JOIN ee b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_fps, b.n_fps
  HAVING COUNT(*) >= 3
     AND COUNT(*)::DOUBLE / least(a.n_fps, b.n_fps) >= 0.5
)"""

_WINNOW_PAIRS_ORACLE = (
    _WINNOW_CTE + ", " + _WINNOW_PAIRS_BODY
    + "\nSELECT doc_a, doc_b, shared_fps, containment FROM pairs"
)


@query("dedup_winnow_pairs", oracle=_WINNOW_PAIRS_ORACLE)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowed fingerprints with a document-
    frequency cap (boilerplate grams in >50 docs are dropped before the
    posting-list self-join, bounding every join bucket). Unlike the
    MinHash/SimHash candidates this is exactly oracle-checked end to end:
    postings, df cap, containment, and thresholds all reproduce in SQL."""
    from clinical_bi_spark.operators.dedup import winnow_neardup_pairs

    t = load_tables(tune(spark), sf_dir)
    # one fixture split → spread the CPU-bound fingerprinting (no-op at
    # scale where the scan itself yields thousands of splits)
    docs = t.documents.repartition(spark.sparkContext.defaultParallelism)
    pairs = winnow_neardup_pairs(
        docs, id_col="doc_id", text_col="text",
        min_shared=3, min_containment=0.5, max_df=50,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "shared_fps",
        "containment",
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation — the canonical LLM-training-data pipeline as
# ONE declarative plan: quality gate → language gate → exact dedup (keep
# lowest doc_id per content fingerprint) → winnowed near-dup drop (keep the
# lower id of each pair) → per-source rollup. Every stage reuses an
# already-oracle-checked fragment, so the composite is exactly checked too.
# ---------------------------------------------------------------------------

_CURATION_ORACLE = (
    f"""
WITH RECURSIVE scored AS (
  SELECT *, {_quality_micro_sql()} AS qmicro, {_lang_case_sql()} AS glang
  FROM documents
), kept0 AS (
  -- quality >= 0.85 is exactly qmicro >= 850000 (integer gate)
  SELECT * FROM scored WHERE qmicro >= 850000 AND glang = 'en'
), xkeep AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS xfp,
         MIN(doc_id) AS keep_id
  FROM kept0 GROUP BY 1
), kept1 AS (
  SELECT k.* FROM kept0 k JOIN xkeep
    ON md5(trim(regexp_replace(lower(k.text), '\\s+', ' ', 'g'))) = xkeep.xfp
   AND k.doc_id = xkeep.keep_id
), """
    + _WINNOW_FPS_BODY.format(src="kept1")
    + ", "
    + _WINNOW_PAIRS_BODY
    + """
, nd_nodes AS (
  SELECT DISTINCT u FROM (
    SELECT doc_a AS u FROM pairs UNION ALL SELECT doc_b AS u FROM pairs
  )
), nd_edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), nd_reach(node, lbl) AS (
  SELECT u, u FROM nd_nodes
  UNION
  SELECT e.v, r.lbl FROM nd_reach r JOIN nd_edges e ON e.u = r.node
), nd_drops AS (
  -- drop every near-dup-component member except its minimum id: pair-wise
  -- dropping under-drops on transitive chains (the component min need not
  -- pair directly with every member)
  SELECT node FROM nd_reach GROUP BY node HAVING MIN(lbl) <> node
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len("""
    + _TOKENS.format(col="text")
    + """)) AS BIGINT) AS total_tokens,
       -- ROUND(AVG(quality), 6) in exact integer space: half-up of
       -- SUM(micro)/n (float AVG order is engine-dependent at .5e-6)
       CAST(((2 * SUM(qmicro) + COUNT(*)) // (2 * COUNT(*))) AS DOUBLE)
         / 1000000.0 AS avg_quality
FROM kept1
WHERE doc_id NOT IN (SELECT node FROM nd_drops)
GROUP BY source
"""
)


@query("pipeline_corpus_curation", oracle=_CURATION_ORACLE, bench=True)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel in one lazy plan: Catalyst sees quality +
    language gates (narrow, pushable), the md5 exact-dedup semi-join, the
    winnowed near-dup anti-join, and the final rollup together — so column
    pruning reaches the scan and only fingerprints/ids ever shuffle. At
    100 TB each stage is the already-audited shape (narrow scoring, 16-byte
    exact-dedup keys, df-capped postings, broadcastable drop list)."""
    from pyspark import StorageLevel

    from clinical_bi_spark.operators.dedup import winnow_neardup_pairs

    t = load_tables(tune(spark), sf_dir)
    text = F.col("text")
    # the sf fixture is one parquet split; spread the CPU-bound scoring
    # regexes across cores (at 100 TB the scan has thousands of splits and
    # this round-robin exchange of raw text is a no-op policy). The persist
    # matters: predicate pushdown moves the quality/language filter BELOW a
    # bare Exchange onto the serial pre-shuffle partition (verified in the
    # plan) — a cached relation is the barrier that keeps it parallel.
    # DISK_ONLY: this relation carries raw text; an executor-memory cache
    # of the corpus is the first thing to fall over at 100 TB, and the
    # relation is written once / read once, so memory buys nothing.
    docs = (
        t.documents.select("doc_id", "source", "text")  # prune before caching
        .repartition(spark.sparkContext.defaultParallelism)
    )
    docs = persist_tracked(docs, StorageLevel.DISK_ONLY)
    # quality >= 0.85 is exactly qmicro >= 850000 (integer gate; the
    # unicode sweep's second finding was a .5e-6 AVG boundary, so quality
    # stays an exact micro INT until the final rollup divides). The
    # gate is the FUSED curation_keep boolean (pushdown re-inlines any
    # projected score into the filter, where there is no CSE — the fused
    # form shares all eight text scans; equivalence pinned in
    # tests/test_text_binding.py), and qmicro is projected only for the
    # survivors; glang is never materialized at all (the old form
    # computed both scores twice — once inlined in the filter, once in
    # the projection — and never read glang again).
    from clinical_bi_spark.functions.text import curation_keep

    kept0 = docs.filter(curation_keep(text)).withColumn(
        "qmicro", quality_score_micro(text)
    )
    # exact dedup: keep the lowest doc_id of every content-fingerprint group
    # — one row_number window (a single xfp shuffle; dup groups are small,
    # so no skew) instead of a groupBy + semi-join back (two shuffles and a
    # second pass over the scoring regexes for the join's left side)
    fp = kept0.withColumn("xfp", doc_fingerprint(text))
    w_fp = Window.partitionBy("xfp").orderBy("doc_id")
    # materialize the curated survivors once: three consumers (near-dup
    # mining, the anti-join left side, the rollup) would otherwise each
    # re-run the scoring regexes over the full text (measured 19 s → 6 s
    # at sf0.1) — the same slice a production pipeline writes to parquet.
    # the winnow FINGERPRINT pass is fused into this
    # materialization (operators/dedup.winnow_fingerprints_passthrough —
    # same kernel, byte-identical fingerprint sets): the survivors' text
    # is consumed by the fingerprint kernel in the same pass that builds
    # the cache, so raw text is never persisted a second time and the
    # miner's separate fingerprint pass + cache over a text-bearing
    # relation disappear (guide §2.3: post-curation consumers shuffle and
    # cache int fingerprints, never the documents). Split by consumer:
    #   * kept1_all (doc_id, source, qmicro, n_tokens, fps) — DISK_ONLY
    #     (the local analogue of the parquet materialization; written
    #     once, read twice: the fps explode and the slim select below).
    #   * kept1 (doc_id, source, qmicro, n_tokens) — text-free, a few
    #     dozen bytes/doc, memory-cached; the anti-join and the rollup
    #     read this slim relation (token_count precomputed here so the
    #     rollup never touches text).
    from clinical_bi_spark.operators.dedup import (
        winnow_fingerprints_passthrough,
    )

    survivors = (
        fp.withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "source",
            "qmicro",
            token_count(text).cast("bigint").alias("n_tokens"),
            "text",
        )
    )
    kept1_all = persist_tracked(
        winnow_fingerprints_passthrough(survivors),
        StorageLevel.DISK_ONLY,
    )
    kept1 = persist_tracked(
        kept1_all.select("doc_id", "source", "qmicro", "n_tokens")
    )
    # near-dup drop: anti-join the higher id of each winnowed pair (the
    # miner consumes the fused fingerprints; its df/text args are unused)
    pairs = winnow_neardup_pairs(
        kept1, id_col="doc_id", text_col="text",
        min_shared=3, min_containment=0.5, max_df=50,
        fps_df=kept1_all.select(F.col("doc_id").alias("id"), "fps"),
    )
    # pairs → components → drop all but each component's minimum id
    # (pair-wise dropping under-drops on transitive chains)
    from clinical_bi_spark.operators.dedup import connected_components

    comp = connected_components(pairs)
    drops = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    kept2 = kept1.join(drops, "doc_id", "left_anti")
    # ROUND(AVG(quality), 6) computed exactly: half-up of SUM(micro)/n in
    # bigint space, then one exact int-to-double division (float AVG
    # summation order is engine-dependent and can land on the .5e-6
    # boundary — the unicode probe caught it doing exactly that)
    agg = kept2.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("qmicro").cast("bigint").alias("__qsum"),
    )
    # true bigint DIV, not _t_exact_div: that helper's (a - a%b)/b
    # double-division trick is only GUARANTEED exact below 2^53, a bound
    # the per-document callers respect but an AGGREGATE numerator does
    # not — 2*SUM(qmicro)+n grows ~2e6 per doc, so a source group beyond
    # ~4.5e9 docs leaves the guarantee, and past-2^53 cases provably
    # diverge (tests/test_textops.py pins one: quotient off the double
    # grid comes back +1) while the DuckDB twin (HUGEINT //) stays exact
    #. SQL `div` is exact over the full int64 range.
    avg_micro = F.expr(
        "(2 * `__qsum` + cast(n_docs as bigint)) div "
        "(2 * cast(n_docs as bigint))"
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        (avg_micro.cast("double") / F.lit(1_000_000.0)).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Sequence packing — concat-and-chunk into fixed context windows (the
# standard pretraining batching step): documents are laid head-to-tail in
# deterministic doc_id order and the token stream is cut every CONTEXT
# tokens. Pack assignment is a pure prefix sum, so it is exactly
# SQL-expressible and oracle-checked. The global ordered window is the
# small-corpus form; at 100 TB the same prefix sum decomposes into
# per-partition sums + broadcast offsets (ranking.global_prefix_sums) —
# the cut points are identical because addition is associative.
# ---------------------------------------------------------------------------

_PACK_CONTEXT = 2048

_PACKING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(len({_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents
), pos AS (
  SELECT doc_id, n_tokens,
         -- CAST: DuckDB types the window SUM as HUGEINT, which reaches the
         -- comparator as float64; Spark returns int64 (same values).
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_offset
  FROM toks
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       start_offset,
       CAST(FLOOR(start_offset / {_PACK_CONTEXT}) AS BIGINT) AS pack_id,
       (n_tokens > 0 AND
        FLOOR((start_offset + n_tokens - 1) / {_PACK_CONTEXT})
          > FLOOR(start_offset / {_PACK_CONTEXT})) AS crosses_boundary
FROM pos
"""


@query("text_sequence_packing", oracle=_PACKING_ORACLE)
def text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing into 2048-token context windows: each
    document's pack is floor(start_offset / ctx) where start_offset is the
    running token total of all earlier documents (doc_id order);
    crosses_boundary marks documents split across two windows. Exact
    oracle — the assignment is arithmetic on a prefix sum."""
    from clinical_bi_spark.operators.packing import pack_assignments_window

    t = load_tables(tune(spark), sf_dir)
    toks = t.documents.select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    packed = pack_assignments_window(toks, context=_PACK_CONTEXT)
    return packed.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "start_offset",
        "pack_id",
        "crosses_boundary",
    )


# ---------------------------------------------------------------------------
# PII redaction — the scrub pass every public-corpus pipeline runs before
# training. The fixture text is PII-free word salad, so the query PLANTS
# deterministic PII (email/URL/phone derived from doc_id) and then redacts
# it: the oracle reproduces both the construction and the scrub, so the
# redaction regexes themselves are what is being checked. Patterns stay in
# the Java-regex ∩ RE2 common subset so Spark and DuckDB agree.
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^\\s]+"
_PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"

_REDACT_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or ' ||
         'https://site' || (doc_id % 10) || '.example.org/p?q=1 ' ||
         'call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{_URL_RE}')) AS INT)   AS n_urls,
  CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INT) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
        '{_EMAIL_RE}', '<EMAIL>', 'g'),
        '{_URL_RE}', '<URL>', 'g'),
        '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM raw
"""


@query("text_redact_pii", oracle=_REDACT_ORACLE)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL/phone redaction with per-document match counts; the
    redacted text ships as md5 (the contract never needs the full string).
    Pure regexp_replace chain — narrow, codegen, zero shuffle."""
    t = load_tables(tune(spark), sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com or "),
        F.lit("https://site"), F.col("doc_id") % 10,
        F.lit(".example.org/p?q=1 "),
        F.lit("call 555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return t.documents.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(raw, F.lit(_URL_RE)).cast("int").alias("n_urls"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# TF-IDF — corpus-relevance scoring: explode terms, per-(doc, term) counts,
# document frequencies, smoothed idf, top-5 terms per document. Exercises
# the full relational text shape (fan-out explode → two aggregations →
# broadcast idf join → ranked window). Scores are rounded to 6 decimals
# BEFORE ranking on both sides so an ulp difference between JVM and libm
# ln() can never flip an ordering.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH terms AS (
  SELECT doc_id, unnest({_LTOKENS.format(col='text')}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(tf AS INT) AS tf, tfidf,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored
) t
WHERE rnk <= 5
"""


@query("text_tfidf_topk", oracle=_TFIDF_ORACLE)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1).
    Scale shape: terms shuffle twice (by (doc,term) then by term for df);
    the idf table is vocabulary-sized → broadcast back; the final top-k is
    one window on doc_id. N arrives via a broadcast one-row crossJoin, not
    a driver-side collect."""
    t = load_tables(tune(spark), sf_dir)
    terms = t.documents.select(
        "doc_id", F.explode(word_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = t.documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "term", F.col("tf").cast("int").alias("tf"), "tfidf",
                F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Decontamination — the held-out-overlap scan every LLM pipeline runs
# before training: flag training documents that share winnowed
# fingerprints with an evaluation slice (here: source 'src0' stands in
# for the benchmark set). Production uses long n-grams (e.g. 13-gram
# winnowing) for near-zero false positives; the mechanism is identical.
# ---------------------------------------------------------------------------

_EVAL_SOURCE = "src0"
_DECONTAM_ORACLE = _WINNOW_CTE + f"""
, e AS (
  SELECT w.doc_id, unnest(fps) AS fp FROM w
), tagged AS (
  SELECT e.doc_id, d.source, e.fp FROM e JOIN documents d USING (doc_id)
), ev AS (
  SELECT DISTINCT fp FROM tagged WHERE source = '{_EVAL_SOURCE}'
)
SELECT t.doc_id, CAST(COUNT(*) AS INT) AS n_shared_fps
FROM tagged t JOIN ev USING (fp)
WHERE t.source <> '{_EVAL_SOURCE}'
GROUP BY t.doc_id
HAVING COUNT(*) >= 3
"""


@query("dedup_decontaminate", oracle=_DECONTAM_ORACLE)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-vs-eval overlap scan: a training doc is flagged when it
    shares >= 3 winnowed fingerprints with ANY eval document. Scale shape:
    fingerprints computed once over everything (narrow), the eval
    fingerprint set is benchmark-sized -> broadcast semi-join; only
    (fp, doc) postings shuffle."""
    from clinical_bi_spark.operators.dedup import winnow_fingerprints_df

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.repartition(spark.sparkContext.defaultParallelism)
    fps = persist_tracked(winnow_fingerprints_df(docs))
    e = (
        fps.select("id", F.explode("fps").alias("fp"))
        .join(t.documents.select(F.col("doc_id").alias("id"), "source"), "id")
    )
    ev = (
        e.filter(F.col("source") == _EVAL_SOURCE).select("fp").distinct()
    )
    return (
        e.filter(F.col("source") != _EVAL_SOURCE)
        .join(F.broadcast(ev), "fp")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count("*").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 3)
        .select("doc_id", F.col("n_shared_fps").cast("int").alias("n_shared_fps"))
    )


# ---------------------------------------------------------------------------
# Dedup clustering — pairs are not groups: the keep/drop decision needs
# connected components over the near-dup graph (A~B, B~C ⇒ {A,B,C} is one
# group even if A,C never paired). Spark runs iterative min-label
# propagation (operators/dedup.connected_components); DuckDB reaches the
# identical fixpoint with a recursive CTE, making the iterative algorithm
# exactly oracle-checked — not just rows-only.
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = (
    "WITH RECURSIVE "
    + _WINNOW_FPS_BODY.format(src="documents")
    + ", "
    + _WINNOW_PAIRS_BODY
    + """
, nodes AS (
  SELECT DISTINCT u FROM (
    SELECT doc_a AS u FROM pairs UNION ALL SELECT doc_b AS u FROM pairs
  )
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component
FROM reach GROUP BY node
"""
)


@query("dedup_cluster_winnow", oracle=_CLUSTER_ORACLE)
def dedup_cluster_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups over the winnow pair graph: component = minimum
    reachable doc_id (keep it, drop the rest of the component). Iterative
    min-label propagation, O(diameter) rounds, one shuffle per round —
    and still exactly oracle-checked via DuckDB's recursive CTE."""
    from clinical_bi_spark.operators.dedup import (
        connected_components,
        winnow_neardup_pairs,
    )

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.repartition(spark.sparkContext.defaultParallelism)
    pairs = winnow_neardup_pairs(
        docs, id_col="doc_id", text_col="text",
        min_shared=3, min_containment=0.5, max_df=50,
    )
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


# ---------------------------------------------------------------------------
# LM-perplexity quality scoring (the CCNet-style filter): train a
# Laplace-smoothed bigram LM on the corpus itself, score every document by
# its average per-bigram negative log-probability. High score = the
# document's word transitions are unusual for the corpus — the standard
# signal for boilerplate/garbled/outlier text in pretraining pipelines.
#
# Exactness design: P(w2|w1) = (c12 + 1) / (c1 + V) is a ratio of small
# integers, so each bigram's neg-log-prob ln(c1 + V) - ln(c12 + 1) is a
# difference of logs OF INTEGERS, rounded to integer MICRO-NATS per
# bigram before summing. NOTE the ln() agreement is statistical, not
# bit-level: a dense probe showed JVM Math.log and DuckDB libm
# differ by 1 ulp on ~0.9% of integer arguments (ln(3) included) — the
# micro-nat ROUND absorbs that everywhere except within ~1 ulp of a .5
# boundary (~1e-10 probability per pair), and
# tests/test_lm_portability.py pins the ROUNDED values over the
# fixture's entire (c1+V, c12+1) domain, which is the actual premise. BIGINT sums are order-independent
# (unlike float sums, whose partition-order nondeterminism would make the
# value unstable even within Spark), so the per-doc total is exact and
# engine-portable; the final average is one IEEE division per doc.
# ---------------------------------------------------------------------------

_LM_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

_LM_SCORE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_LM_TOKENS} AS t FROM documents
), tokr AS (
  SELECT doc_id, UNNEST(t) AS w FROM tok
), uni AS (
  SELECT w, COUNT(*) AS c1 FROM tokr GROUP BY w
), v AS (
  SELECT COUNT(*) AS v FROM uni
), bigr AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tok, UNNEST(range(1, len(t))) AS r(i)
), bc AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY w1, w2
), scored AS (
  SELECT b.doc_id,
         CAST(ROUND(1000000.0 * (ln(u.c1 + v.v) - ln(bc.c12 + 1)))
              AS BIGINT) AS micro
  FROM bigr b
  JOIN bc USING (w1, w2)
  JOIN uni u ON u.w = b.w1
  CROSS JOIN v
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(micro) AS BIGINT) AS nll_micro,
       -- integer floor-division to micro-nat precision, then ONE exact
       -- IEEE division: no float rounding step anywhere, so no .5-tie for
       -- the engines to break differently (a ROUND(x, 6) here hit an
       -- exact half-way case at sf0.1: 327752592/96 micro-nats)
       (CAST(SUM(micro) AS BIGINT) // COUNT(*)) / 1000000.0 AS avg_nll
FROM scored GROUP BY doc_id
"""


@query("text_lm_score", oracle=_LM_SCORE_ORACLE)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM quality score (avg negative log-prob per
    bigram, Laplace smoothing) — the CCNet-style perplexity filter.

    Scale shape: bigram construction is NARROW (zip_with over shifted
    slices of the token array — text never shuffles); the count tables
    shuffle (w1, w2)/(w1) keys with map-side partial aggregation; scoring
    is two equi-joins against those tables (broadcastable when the vocab
    is small, AQE decides) + one integer-sum groupBy on doc_id. V is one
    driver-side scalar (the accepted literal pattern — a crossJoin of a
    one-row aggregate would plan a BroadcastNestedLoopJoin into both
    consumers). Micro-nat integers make the per-doc sum order-independent,
    hence the exact oracle; docs with < 2 tokens have no bigrams and are
    absent, as in the SQL."""
    t = load_tables(tune(spark), sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    base = t.documents.select("doc_id", toks.alias("t"))
    n = F.size("t")
    big = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.greatest(n - 1, F.lit(0))),
                F.slice("t", 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    unigrams = base.select(F.explode("t").alias("w"))
    uni = unigrams.groupBy("w").agg(F.count("*").alias("c1"))
    vocab_size = uni.count()  # one scalar, driver-side literal
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    micro = F.round(
        F.lit(1_000_000.0)
        * (F.log(F.col("c1") + F.lit(vocab_size)) - F.log(F.col("c12") + 1))
    ).cast("bigint")
    scored = (
        big.join(bc, ["w1", "w2"])
        .join(uni, F.col("w1") == F.col("w"))
        .select("doc_id", micro.alias("micro"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("micro").cast("bigint").alias("nll_micro"),
    )
    # integer floor-division then one IEEE division — no float rounding
    # step, so no half-way tie for the engines to break differently
    return agg.select(
        "doc_id",
        "n_bigrams",
        "nll_micro",
        (F.expr("nll_micro DIV n_bigrams") / F.lit(1_000_000.0)).alias(
            "avg_nll"
        ),
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring — retrieval-based data selection (the standard
# "score the corpus against a query, keep the most relevant slice" step
# of targeted-pretraining pipelines, and the lexical half of every RAG
# retriever). Okapi BM25 with k1=1.2, b=0.75.
#
# Exactness design (the text_lm_score playbook, applied twice):
#  * k1 and b are RATIONALS (6/5, 3/4), so the tf saturation term
#    tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)) with avgdl = T/N rewrites to
#    the integer ratio (22·tf·T) / (10·tf·T + 3·T + 9·dl·N) — two exact
#    int64s (< 2^53), whose IEEE division is correctly rounded and
#    therefore engine-identical.
#  * the 0.5-smoothed idf ln((N-df+0.5)/(df+0.5)) = ln(2N-2df+1) -
#    ln(2df+1) — a difference of ln() OF INTEGERS, the same pinned
#    engine-agreement domain as the LM scorer (tests/test_lm_portability).
#  * per-(doc,term) scores round to integer MICRO-units before the
#    per-doc SUM, so the aggregation is order-independent BIGINT math.
# Query terms are corpus-derived and deterministic: the 5 highest-df
# terms with df ≤ N/2 (the standard negative-idf guard), tie-broken by
# term text — recomputed identically by the oracle.
# ---------------------------------------------------------------------------

_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_LM_TOKENS} AS t FROM documents
), stats AS (
  SELECT COUNT(*) AS n, SUM(len(t)) AS tt FROM tok
), tokr AS (
  SELECT doc_id, UNNEST(t) AS w FROM tok
), tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM tokr GROUP BY doc_id, w
), dft AS (
  SELECT w, COUNT(*) AS df FROM tf GROUP BY w
), qt AS (
  SELECT w, df FROM dft, stats WHERE 2 * df <= n
  ORDER BY df DESC, w LIMIT 5
), dl AS (
  SELECT doc_id, len(t) AS dl FROM tok
), scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           1000000.0 * (ln(2*s.n - 2*qt.df + 1) - ln(2*qt.df + 1))
           * (22 * tf.tf * s.tt)
           / (10 * tf.tf * s.tt + 3 * s.tt + 9 * dl.dl * s.n)
         ) AS BIGINT) AS micro
  FROM tf
  JOIN qt USING (w)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id, bm25_micro, bm25, rank
FROM (
  SELECT doc_id,
         CAST(SUM(micro) AS BIGINT) AS bm25_micro,
         CAST(SUM(micro) AS BIGINT) / 1000000.0 AS bm25,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(SUM(micro) AS BIGINT) DESC, doc_id) AS INT) AS rank
  FROM scored GROUP BY doc_id
) t
WHERE rank <= 20
"""


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 over the corpus for a deterministic 5-term query
    (highest-df terms with df ≤ N/2) — retrieval-based data selection,
    exactly oracled via integer-rational tf saturation + ln-of-integer
    idf + micro-unit BIGINT sums (see the block comment above).

    Scale shape: tokenization is narrow; the (doc,term) tf table and the
    per-term df table are partial-aggregated groupBys (shuffle keys are
    terms, never text); N/T are two driver scalars and the query-term
    table is 5 rows (broadcast) — so scoring is one broadcast equi-join
    against tf plus one dl join, and the final top-20 is a bounded
    sort-limit. At 100 TB the df/tf tables are the classic inverted-index
    build, partial-agg'd map-side; nothing driver-sized but 5 strings
    and 2 integers."""
    t = load_tables(tune(spark), sf_dir)
    # NULL text ≡ empty text (zero-token doc, counted in N with dl=0 —
    # the same treatment '' already gets): without the coalesce a NULL
    # doc makes dl NULL, F.sum skips it, and the driver-side int(tt)
    # crashes on an all-NULL corpus. The oracle string
    # assumes the fixtures' non-null corpus contract.
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    base = t.documents.select("doc_id", toks.alias("t"))
    dl = base.select("doc_id", F.size("t").cast("bigint").alias("dl"))
    srow = dl.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tt")
    ).first()
    n_docs, total_tokens = int(srow["n"]), int(srow["tt"])
    tokr = base.select("doc_id", F.explode("t").alias("w"))
    tf = tokr.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("w").agg(F.count("*").alias("df"))
    qt = (
        dft.filter(F.lit(2) * F.col("df") <= F.lit(n_docs))
        .orderBy(F.col("df").desc(), F.col("w"))
        .limit(5)
    )
    qt_rows = [(r["w"], int(r["df"])) for r in qt.collect()]
    qt_tbl = spark.createDataFrame(qt_rows, "w string, df bigint")
    idf = F.log(F.lit(2 * n_docs) - 2 * F.col("df") + 1) - F.log(
        2 * F.col("df") + 1
    )
    num = F.lit(22) * F.col("tf") * F.lit(total_tokens)
    den = (
        F.lit(10) * F.col("tf") * F.lit(total_tokens)
        + F.lit(3 * total_tokens)
        + F.lit(9) * F.col("dl") * F.lit(n_docs)
    )
    micro = F.round(F.lit(1_000_000.0) * idf * num / den).cast("bigint")
    scored = (
        tf.join(F.broadcast(qt_tbl), "w")
        .join(dl, "doc_id")
        .select("doc_id", micro.alias("micro"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("micro").cast("bigint").alias("bm25_micro")
    )
    top = agg.orderBy(F.col("bm25_micro").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("bm25_micro").desc(), F.col("doc_id"))
    return top.select(
        "doc_id",
        "bm25_micro",
        (F.col("bm25_micro") / F.lit(1_000_000.0)).alias("bm25"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


#: Token n-gram length of dedup_span_ngram's span fingerprints.
_SPAN_N = 8


def _span_oracle() -> str:
    """Exact DuckDB twin of dedup_span_ngram: rewrites the Spark zip_with
    rolling fold as an explicit nested polynomial over h[i..i+n-1]
    (identical step order → identical mod-p values)."""
    p, n = _MERSENNE_P, _SPAN_N

    def nested(arr: str, base: int) -> str:
        expr = f"{arr}[i]"
        for j in range(1, n):
            expr = f"({expr} * {base} + {arr}[i+{j}]) % {p}"
        return expr

    word = (
        "list_transform(list_filter(string_split_regex(lower(text), '\\s+'),"
        " x -> x <> ''), t -> CAST(CAST('0x' || substr(md5(t), {off}, 8)"
        f" AS UBIGINT) % {p} AS BIGINT))"
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         {word.format(off=1)} AS h1,
         {word.format(off=9)} AS h2
  FROM documents
), fps AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(h1) - {n - 2}, 1)),
                        i -> {nested('h1', 31)}) AS f1s,
         list_transform(range(1, greatest(len(h2) - {n - 2}, 1)),
                        i -> {nested('h2', 37)}) AS f2s
  FROM tok
), spans AS (
  SELECT doc_id, UNNEST(f1s) AS f1, UNNEST(f2s) AS f2 FROM fps
), dupfp AS (
  SELECT f1, f2 FROM spans GROUP BY f1, f2
  HAVING COUNT(DISTINCT doc_id) >= 2
), perdoc AS (
  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN d.f1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_spans
  FROM spans s LEFT JOIN dupfp d ON s.f1 = d.f1 AND s.f2 = d.f2
  GROUP BY s.doc_id
)
SELECT doc.doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.dup_spans, 0) AS dup_spans,
       ROUND(CAST(COALESCE(p.dup_spans, 0) AS DOUBLE)
             / greatest(COALESCE(p.n_spans, 0), 1), 6) AS dup_span_ratio
FROM documents doc LEFT JOIN perdoc p ON doc.doc_id = p.doc_id
"""


@query("dedup_span_ngram", oracle=_span_oracle(), bench=True)
def dedup_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-SPAN detection — the substring-dedup premise of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better")
    approximated at token 8-gram granularity: a span is duplicated iff its
    rolling fingerprint occurs in >= 2 distinct documents. Per-doc output
    (doc_id, n_spans, dup_spans, dup_span_ratio) is what a curation
    pipeline thresholds on to drop or trim boilerplate-heavy documents —
    finer-grained than whole-doc MinHash (which misses a copied paragraph
    inside an otherwise-unique doc).

    Exactly oracled: fingerprints are engine-portable integer folds
    (operators/dedup.span_fingerprint_arrays), so DuckDB reproduces every
    span fingerprint, the cross-doc duplicate set, and every ratio.

    100 TB: fingerprinting is map-side codegen (text never shuffles); the
    two shuffles carry only (doc_id, f1, f2) triples — 24 bytes per token
    position, the unavoidable cost of exact span-level dedup (the true
    suffix-array form shuffles the token stream itself) — with map-side
    partial aggregation on the fingerprint groupBy; the dup-fp set joins
    back by fingerprint equi-join (AQE-broadcastable when duplication is
    sparse, which is the expected regime)."""
    from clinical_bi_spark.operators.dedup import span_fingerprint_arrays

    t = load_tables(tune(spark), sf_dir)
    # single-split test files: spread fingerprinting across cores (same
    # policy as the minhash/winnow queries; no-op at real scale)
    docs = t.documents.repartition(spark.sparkContext.defaultParallelism)
    f1s, f2s = span_fingerprint_arrays(F.col("text"), _SPAN_N)
    # (caching this relation was tried and REGRESSED 1.2x —
    # materializing the position-level explode costs more than the two
    # pipelined recomputes it saves)
    spans = (
        docs.select(
            "doc_id",
            F.explode(F.arrays_zip(f1s.alias("a"), f2s.alias("b"))).alias("z"),
        )
        .select("doc_id", F.col("z.a").alias("f1"), F.col("z.b").alias("f2"))
    )
    dupfp = (
        spans.groupBy("f1", "f2")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .drop("nd")
    )
    perdoc = (
        spans.join(dupfp, ["f1", "f2"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("dup_spans"))
    )
    # n_spans is a closed form of the token count — max(len - 7, 0)
    # rolling 8-gram positions — so the third full pass over the
    # fingerprint explode (groupBy(doc_id).count + a second join) is a
    # per-row expression on the output scan instead. Same tokenizer
    # expression as span_fingerprint_arrays; NULL text -> NULL size ->
    # greatest(.., 0) = 0, matching the old explode-none/coalesce-0 path.
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    n_spans_expr = F.greatest(
        F.size(toks).cast("long") - F.lit(7).cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        t.documents.select("doc_id", n_spans_expr.alias("n_spans"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce(F.col("dup_spans"), F.lit(0).cast("long")).alias(
                "dup_spans"
            ),
            F.round(
                F.coalesce(F.col("dup_spans"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("n_spans"), F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_span_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-token-window chunk materialization (training-example splitter).
# ---------------------------------------------------------------------------

_CHUNK_SPLIT_TOKENS = 64

_CHUNK_SPLIT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS.format(col='text')} AS tk FROM documents
)
SELECT doc_id AS doc_id,
       CAST(i AS INT) AS chunk_id,
       CAST(len(list_slice(tk, i * {_CHUNK_SPLIT_TOKENS} + 1,
                           i * {_CHUNK_SPLIT_TOKENS} + {_CHUNK_SPLIT_TOKENS}))
            AS INT) AS n_tokens,
       array_to_string(
         list_slice(tk, i * {_CHUNK_SPLIT_TOKENS} + 1,
                    i * {_CHUNK_SPLIT_TOKENS} + {_CHUNK_SPLIT_TOKENS}),
         ' ') AS chunk_text
FROM toks,
     UNNEST(range(0, CAST(CEIL(len(tk) / {_CHUNK_SPLIT_TOKENS}.0) AS BIGINT)))
       AS t(i)
"""


@query("text_chunk_split", oracle=_CHUNK_SPLIT_ORACLE)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize fixed-size training chunks: every document becomes
    ceil(n_tokens/64) rows of at-most-64-token chunk text (the example
    splitter that feeds sequence packing; whitespace-token contract shared
    with text_stats via the same _TOKENS fragment). Pure narrow op —
    tokenize once, ``transform`` over a ``sequence`` of chunk indices,
    ``inline`` the struct array; no shuffle, no UDF, and empty documents
    yield zero rows in both engines (inline of an empty array ≡ the
    oracle's empty range). At 100 TB this is the same embarrassingly
    parallel scan shape as text_stats; the output explodes rows but each
    output partition descends from exactly one input split."""
    t = load_tables(tune(spark), sf_dir)
    k = _CHUNK_SPLIT_TOKENS
    tk = word_tokens(F.col("text"))
    chunks = F.expr(
        f"""
        CASE WHEN size(tk) = 0 THEN array()
             ELSE transform(
               sequence(0, CAST(ceil(size(tk) / {k}.0) AS INT) - 1),
               i -> struct(
                 CAST(i AS INT) AS chunk_id,
                 CAST(size(slice(tk, i * {k} + 1, {k})) AS INT) AS n_tokens,
                 array_join(slice(tk, i * {k} + 1, {k}), ' ') AS chunk_text))
        END
        """
    )
    return (
        t.documents.select("doc_id", tk.alias("tk"))
        .select("doc_id", F.inline(chunks))
    )


# ---------------------------------------------------------------------------
# Exact Jaccard similarity self-join via prefix filtering (ppjoin-style).
# ---------------------------------------------------------------------------

_JACCARD_TAU = 0.8

# The oracle enumerates every pair sharing AT LEAST ONE token (token
# equi-join + group), a strict superset of the prefix-filter candidates,
# then applies the exact threshold — so a green row proves the prefix
# filter loses no qualifying pair, the same contract as the all-pairs
# oracles behind simhash_blocked and the fuzzy join.
_JACCARD_PREFIX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_LTOKENS.format(col='text')} AS words FROM documents
), tok AS (
  SELECT DISTINCT doc_id, UNNEST(words) AS w FROM toks
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a AS doc_a,
       doc_b AS doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.sz + sb.sz - n_inter AS BIGINT) AS n_union,
       CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE)
      / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= {_JACCARD_TAU}
"""


#: Tokens enter the join machinery as xxhash64 LONGS instead of
#: strings, shrinking the candidate join keys and the verify join's
#: shipped token arrays. Exactness rests on a per-run collision AUDIT
#: (audited_token_relation: count(DISTINCT token) == count(DISTINCT
#: xxhash64(token)) over the corpus vocabulary): an injective token
#: mapping leaves every |A∩B| / |A∪B| unchanged. A vocabulary of V
#: distinct tokens collides somewhere with P <= V^2 / 2^65 (birthday
#: bound), ~0.05 at V = 1e9, so on a failed audit the query falls back
#: to the string tokens (identical machinery) with a RuntimeWarning.
#:
#: The verify step is a dense-bitmask overlap (map the vocabulary to
#: dense ids, fold each document's token set into ceil(V/64) longs once,
#: verify each candidate pair with AND + bit_count) instead of a per-pair
#: ``array_intersect`` hash-set build. It needs a driver-side id map and
#: per-document masks sized by the vocabulary, so it engages only while
#: the corpus vocabulary fits this cap (64-long masks, a 4097-row driver
#: list, ~100 KB broadcast); past it the query falls back to
#: ``array_intersect``, which works for any vocabulary.
_JACCARD_BITMASK_VOCAB_CAP = 4096


#: Test seam: when set, replaces xxhash64 as BOTH the audited and the
#: join-key token hash, so a forged collision exercises the real
#: fallback path (tests/test_dedup.py monkeypatches this to a
#: deliberately colliding function; production never sets it).
_TOKEN_HASH_OVERRIDE = None


def _token_hash_fn():
    return _TOKEN_HASH_OVERRIDE or F.xxhash64


def audited_token_relation(
    toks: DataFrame, *, return_dfreq: bool = False
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Persist the string tokens, audit hash injectivity on THIS corpus,
    and only on a clean certificate return the hashed arrays (persisted
    — candidates and verify both consume them). On a collision
    (count(DISTINCT token) != count(DISTINCT hash)) return the string
    tokens with a RuntimeWarning; tests/test_dedup.py's forged-collision
    test pins that fallback end-to-end.

    ``return_dfreq=True`` additionally returns the persisted
    ``(w, df)`` document-frequency relation in the SAME token mode as
    the returned tokens: one persisted ``dfreq`` serves the audit (a
    tiny aggregate OVER it: count rows vs countDistinct(hash)) and the
    bitmask verify's vocab TopK, which sorts it. The candidates'
    df-ordering keeps its own inline aggregate, so AQE can broadcast
    that join. The hashed relation's df equals the string
    relation's df because the audited hash is injective on this corpus
    — the certificate that gates hashing is exactly the statement that
    makes the derivation sound.
    """
    toks = persist_tracked(toks)
    dfreq = persist_tracked(
        toks.select(F.explode("words").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("df"))
    )
    hash_fn = _token_hash_fn()
    row = dfreq.agg(
        F.count("*").alias("n_tok"),
        F.countDistinct(hash_fn(F.col("w"))).alias("n_hash"),
    ).first()
    n_tok, n_hash = int(row["n_tok"]), int(row["n_hash"])
    if n_tok != n_hash:
        import warnings

        warnings.warn(
            "u64 token-mode injectivity audit FAILED on this corpus "
            f"({n_tok} distinct tokens -> {n_hash} distinct hashes): "
            "falling back to string tokens (identical machinery, exact "
            "output)",
            RuntimeWarning,
            stacklevel=2,
        )
        return (toks, dfreq) if return_dfreq else toks
    toks_h = persist_tracked(
        toks.select(
            "doc_id", F.transform("words", lambda w: hash_fn(w)).alias("words")
        )
    )
    # df carries over through the (audited-injective) hash; derived
    # lazily from the cached string dfreq — vocabulary-sized work
    dfreq_h = dfreq.select(hash_fn(F.col("w")).alias("w"), "df")
    return (toks_h, dfreq_h) if return_dfreq else toks_h


def _jaccard_prefix_candidates(toks: DataFrame, tau: float) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs for the prefix-filtered Jaccard
    join: df-ordered prefix equi-join + length-ratio filter + the PPJoin
    positional filter. The df-ordering aggregates its document
    frequencies inline, so AQE can broadcast the join."""
    tok = toks.select("doc_id", F.explode("words").alias("w"))
    dfreq = tok.groupBy("w").agg(F.count("*").alias("df"))
    ordered = (
        tok.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(df, w))), x -> x.w)"
            ).alias("ow")
        )
        .select(
            "doc_id",
            "ow",
            F.size("ow").alias("sz"),
            F.expr(
                f"slice(ow, 1, size(ow) - CAST(ceil({tau} * size(ow)) AS INT)"
                " + 1)"
            ).alias("prefix"),
        )
    )
    ordered = persist_tracked(ordered)
    pfx = ordered.select(
        "doc_id", "sz", F.posexplode("prefix").alias("pos0", "w")
    ).withColumn("p", F.col("pos0") + 1)  # 1-based prefix position
    a = pfx.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sa"),
        F.col("p").alias("pa"),
        "w",
    )
    b = pfx.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sb"),
        F.col("p").alias("pb"),
        "w",
    )
    matched = a.join(b, "w").filter(
        (F.col("doc_a") < F.col("doc_b"))
        # length-ratio pruning: J >= tau forces tau <= |A|/|B| <= 1/tau
        & (F.col("sb").cast("double") >= tau * F.col("sa"))
        & (F.col("sa").cast("double") >= tau * F.col("sb"))
    )
    # PPJoin positional filter (Xiao et al. 2008, public literature),
    # tight set-oriented form. Both token lists share ONE global ordering
    # (df asc, token asc), so matched prefix tokens have monotonically
    # increasing positions in BOTH lists; let w* be the LAST matched
    # token, at positions (pa*, pb*). Every shared token on or before w*
    # is itself a matched prefix token: its A-position <= pa* <=
    # len(prefix(A)) puts it inside prefix(A), and (by order consistency)
    # its B-position <= pb* <= len(prefix(B)) puts it inside prefix(B) —
    # so it was produced by the prefix equi-join. Hence
    #     overlap(A, B) = n_matched + overlap_after_w*
    #                  <= n_matched + min(sa - pa*, sb - pb*).
    # J >= 4/5 forces overlap >= 4(sa+sb)/9 (9i >= 4(sa+sb),
    # integer-exact for tau = 0.8), pruning candidates BEFORE the verify
    # join ships any token array — the term whose candidate-proportional
    # volume set the x50 spill ceiling.
    assert abs(tau - 0.8) < 1e-12, "integer bound below is derived for tau=4/5"
    return (
        matched.groupBy("doc_a", "doc_b", "sa", "sb")
        .agg(
            F.count("*").alias("n_matched"),
            F.max("pa").alias("pam"),
            F.max("pb").alias("pbm"),
        )
        .withColumn(
            "ub",
            F.col("n_matched")
            + F.least(
                F.col("sa") - F.col("pam"), F.col("sb") - F.col("pbm")
            ),
        )
        .filter(F.lit(9) * F.col("ub") >= F.lit(4) * (F.col("sa") + F.col("sb")))
        .select("doc_a", "doc_b")
    )


def _bitmask_pair_overlap(
    spark: SparkSession,
    toks: DataFrame,
    cand: DataFrame,
    vocab_cap: int,
    dfreq: DataFrame,
) -> DataFrame | None:
    """Dense-bitmask EXACT overlap for prefix-join candidate pairs —
    the shared verify core of the prefix family (Jaccard and directed
    containment project their own measures over it). Returns
    ``(doc_a, doc_b, n_inter, ca, cb)`` where n_inter = |A∩B| and
    ca/cb are the set sizes, or ``None`` when the corpus vocabulary
    exceeds ``vocab_cap`` (caller falls back to the array_intersect
    form). Exactness argument: any injective token -> dense-id mapping
    preserves every set overlap, a doc's id set IS its mask's set bits
    (ids are unique within a doc because ``words`` is array_distinct),
    and popcount of the AND of two masks is exactly |A∩B| — so every
    derived measure equals the array_intersect form's bit for bit
    (differential-pinned). Bounded terms, in order: one TopK(cap+1)
    over the token-frequency relation the candidate build already
    aggregates (the ONLY full-corpus term, and it is
    corpus-size-independent state); a <= cap+1-row driver list (the
    documented bounded-collect pattern: the bound is the gate itself);
    a broadcast id join; <= ceil(cap/64) longs per document mask. The
    per-pair verify is pure ALU codegen — no per-row allocation, no
    hash set — which is both the ~6x CPU cut and the end of the
    family's JIT-warmup bench jitter (PERF.md)."""
    tok_type = toks.schema["words"].dataType.elementType.simpleString()
    if dfreq is None:
        dfreq = (
            toks.select(F.explode("words").alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("df"))
        )
    vocab = (
        dfreq.orderBy(F.asc("df"), F.asc("w")).limit(vocab_cap + 1).collect()
    )
    if len(vocab) > vocab_cap:
        return None
    n_words = max(1, -(-len(vocab) // 64))
    ids = spark.createDataFrame(
        [(r["w"], i) for i, r in enumerate(vocab)],
        f"w {tok_type}, tid int",
    )
    if n_words == 1:
        mask_expr = "aggregate(tids, 0L, (acc, x) -> acc | shiftleft(1L, x))"
        inter = F.bit_count(F.col("bma").bitwiseAND(F.col("bmb")))
    else:
        mask_expr = (
            f"aggregate(tids, array_repeat(0L, {n_words}), "
            "(acc, x) -> transform(acc, (v, i) -> "
            "IF(i = x div 64, v | shiftleft(1L, x % 64), v)))"
        )
        inter = F.expr(
            "aggregate(zip_with(bma, bmb, (x, y) -> bit_count(x & y)), "
            "0, (s, v) -> s + v)"
        )
    bm = (
        toks.select("doc_id", F.explode("words").alias("w"))
        .join(F.broadcast(ids), "w")
        .groupBy("doc_id")
        .agg(F.collect_list("tid").alias("tids"))
        .select(
            "doc_id",
            F.expr(mask_expr).alias("bm"),
            F.size("tids").alias("sz"),
        )
    )
    ba = bm.select(
        F.col("doc_id").alias("doc_a"),
        F.col("bm").alias("bma"),
        F.col("sz").alias("ca"),
    )
    bb = bm.select(
        F.col("doc_id").alias("doc_b"),
        F.col("bm").alias("bmb"),
        F.col("sz").alias("cb"),
    )
    return (
        cand.join(ba, "doc_a")
        .join(bb, "doc_b")
        .select("doc_a", "doc_b", inter.alias("n_inter"), "ca", "cb")
    )


def _jaccard_verify_bitmask(
    spark: SparkSession,
    toks: DataFrame,
    cand: DataFrame,
    tau: float,
    vocab_cap: int = _JACCARD_BITMASK_VOCAB_CAP,
    dfreq: DataFrame | None = None,
) -> DataFrame | None:
    """Jaccard projection over the shared bitmask overlap core (see
    _bitmask_pair_overlap for the exactness/bounds argument); ``None``
    past the vocab gate."""
    ov = _bitmask_pair_overlap(spark, toks, cand, vocab_cap, dfreq=dfreq)
    if ov is None:
        return None
    inter = F.col("n_inter")
    union = F.col("ca") + F.col("cb") - inter
    return ov.select(
        "doc_a",
        "doc_b",
        inter.cast("bigint").alias("n_inter"),
        union.cast("bigint").alias("n_union"),
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    ).filter(F.col("jaccard") >= tau)


@query("dedup_jaccard_prefix", oracle=_JACCARD_PREFIX_ORACLE, bench=True)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-set Jaccard >= 0.8 self-join, UNBLOCKED, via prefix
    filtering (the ppjoin family, public literature): order each
    document's token set by ascending document frequency (tie-break:
    token), keep only the first |x| - ceil(tau*|x|) + 1 tokens as the
    candidate prefix — if two sets' prefixes are disjoint their overlap
    cannot reach tau — and equi-join on prefix tokens. The prefix holds
    each document's RAREST tokens, so the candidate join key is
    anti-skewed by construction (the frequency ordering exists precisely
    to keep hot tokens out of join keys). A length-ratio filter plus the
    PPJoin positional filter (min-over-matches overlap upper bound from
    prefix positions — see inline derivation) prune candidates before
    the exact array_intersect verification, cutting the verify join's
    candidate-proportional token-array volume (the x50 spill
    ceiling's attributed term).

    This is the exact-threshold scale path that dedup_ngram_jaccard's
    source-blocked quadratic form approximates and MinHash-LSH
    randomizes; unlike both, it is lossless at any corpus size — proved
    by the superset oracle.

    Tokens flow through the join machinery as xxhash64 LONGS behind the
    per-run injectivity audit (see _JACCARD_BITMASK_VOCAB_CAP above) —
    the candidate keys and the verify join's shipped arrays shrink from
    variable-width strings to 8-byte longs. The df-order tie-break
    differs between hashed and string tokens, so the candidate SET may
    differ; the verified OUTPUT may not.

    The verify step is the vocab-gated dense-bitmask overlap; past the
    vocabulary cap it falls back to ``array_intersect``."""
    t = load_tables(tune(spark), sf_dir)
    tau = _JACCARD_TAU
    toks = (
        t.documents.select(
            "doc_id",
            F.array_distinct(word_tokens(F.lower(F.col("text")))).alias(
                "words"
            ),
        )
        .filter(F.size("words") >= 1)
    )
    # tokens are hashed ONLY behind a clean per-run injectivity
    # certificate (audit inside the query; strings on a collision).
    # A fused audit+dfreq single-vocabulary-pass variant was measured
    # and REJECTED (1.077x): with only TWO vocabulary consumers the
    # saved fact-scale pass was offset by the extra vocabulary persist.
    # Re-measured AFTER the bitmask verify became the default (its
    # vocab TopK is a THIRD full-corpus vocabulary aggregation): the
    # shared persisted dfreq now wins — one fact-scale vocabulary pass
    # serves the audit, the df-ordering, and the verify TopK.
    toks, dfreq = audited_token_relation(toks, return_dfreq=True)
    # the candidates' df-ordering keeps its INLINE dfreq aggregate: that
    # join must stay a runtime broadcast, and AQE only converts it when
    # the build side sits above a shuffle whose size it can observe — a
    # cache-backed dfreq planned as SortMergeJoin (+1 fact exchange,
    # measured) because an unmaterialized InMemoryRelation has no stats
    cand = _jaccard_prefix_candidates(toks, tau)
    ver = _jaccard_verify_bitmask(
        spark, toks, cand, tau, _JACCARD_BITMASK_VOCAB_CAP, dfreq=dfreq
    )
    if ver is not None:
        return ver
    wa = toks.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wsa"))
    wb = toks.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wsb"))
    inter = F.size(F.array_intersect(F.col("wsa"), F.col("wsb")))
    union = F.size("wsa") + F.size("wsb") - inter
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_inter"),
            union.cast("bigint").alias("n_union"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


# ---------------------------------------------------------------------------
# Regex function battery (portable pattern subset).
# ---------------------------------------------------------------------------

_REGEX_BATTERY_ORACLE = """
SELECT doc_id AS doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
       regexp_extract(text, '[0-9]+') AS first_number,
       regexp_matches(text, '(the|and|of)') AS has_stop,
       CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT)
         AS len_no_vowels,
       CAST(length(regexp_replace(text, '[0-9]+', '#', 'g')) AS INT)
         AS len_nums_collapsed
FROM documents
"""


@query("f_regex_battery", oracle=_REGEX_BATTERY_ORACLE)
def f_regex_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface battery: extract-all counts, first match, boolean
    match, global replace — restricted to the PORTABLE pattern subset
    (character classes, alternation, quantifiers; no lookaround, no
    engine-specific escapes) so Java regex and DuckDB's RE2 agree
    byte-for-byte. Pure narrow projection, zero shuffle."""
    t = load_tables(tune(spark), sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).alias(
            "n_numbers"
        ),
        F.regexp_extract("text", "[0-9]+", 0).alias("first_number"),
        F.col("text").rlike("(the|and|of)").alias("has_stop"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias(
            "len_no_vowels"
        ),
        F.length(F.regexp_replace("text", "[0-9]+", "#")).alias(
            "len_nums_collapsed"
        ),
    )


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1 —
# public literature; the reference has no corpus-filter stage at all, so
# this is a north-star extension). The five document-level rules kept are
# the SQL-expressible core of the published battery; thresholds are the
# paper's. Ratios round to 6 so the oracle compares stable doubles.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         {_TOKENS.format(col='text')} AS toks,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) // 3 AS n_ellipsis
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_words,
         ROUND(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
               / greatest(len(toks), 1), 6) AS mean_word_len,
         ROUND((n_hash + n_ellipsis)::DOUBLE
               / greatest(len(toks), 1), 6) AS symbol_ratio,
         ROUND(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
               / greatest(len(toks), 1), 6) AS alpha_word_frac,
         CAST(len(list_filter(
           [{",".join("'" + w + "'" for w in _GOPHER_STOPWORDS)}],
           s -> list_contains(list_transform(toks, x -> lower(x)), s)
         )) AS INT) AS n_stopwords_present
  FROM t
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
       n_stopwords_present,
       n_words BETWEEN 50 AND 100000 AS pass_word_count,
       mean_word_len BETWEEN 3 AND 10 AS pass_mean_word_len,
       symbol_ratio <= 0.1 AS pass_symbol_ratio,
       alpha_word_frac >= 0.8 AS pass_alpha_words,
       n_stopwords_present >= 2 AS pass_stopwords,
       (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
         AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
         AND n_stopwords_present >= 2 AS pass_all
FROM m
"""


@query("text_gopher_filters", oracle=_GOPHER_ORACLE, bench=True)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rule battery (Rae et al. 2021 A1.1): word
    count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio (# / ellipsis) <= 0.1, >= 80% words with an alphabetic char,
    >= 2 of the paper's 8 stopwords present — per-rule verdicts plus the
    conjunction, the standard pre-training corpus gate.

    Pure narrow projection (one pass over text, no shuffle, whole-stage
    codegen): at 100 TB this runs at scan speed and the pass_all column
    drives the downstream curation filter. Symbol counts use literal
    replace-difference on BOTH engines so non-overlapping-match
    semantics agree byte-for-byte."""
    from clinical_bi_spark.functions.text import word_tokens

    t = load_tables(tune(spark), sf_dir)
    toks = word_tokens(F.col("text"))
    n_words = F.size(toks)
    denom = F.greatest(n_words, F.lit(1))
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)),
        F.lit(0),
        lambda a, b: a + b,
    )
    n_hash = F.length("text") - F.length(F.expr("replace(text, '#', '')"))
    n_ellipsis = (
        F.length("text") - F.length(F.expr("replace(text, '...', '')"))
    ) / F.lit(3)
    n_ellipsis = n_ellipsis.cast("long")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    lower_toks = F.transform(toks, lambda x: F.lower(x))
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS])
    n_stop = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(lower_toks, s))
    )
    mean_word_len = F.round(sum_len.cast("double") / denom, 6)
    symbol_ratio = F.round((n_hash + n_ellipsis).cast("double") / denom, 6)
    alpha_frac = F.round(n_alpha.cast("double") / denom, 6)
    out = t.documents.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.cast("int").alias("n_stopwords_present"),
    )
    pass_wc = F.col("n_words").between(50, 100000)
    pass_mwl = F.col("mean_word_len").between(3, 10)
    pass_sym = F.col("symbol_ratio") <= 0.1
    pass_alpha = F.col("alpha_word_frac") >= 0.8
    pass_stop = F.col("n_stopwords_present") >= 2
    return out.select(
        "*",
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_sym.alias("pass_symbol_ratio"),
        pass_alpha.alias("pass_alpha_words"),
        pass_stop.alias("pass_stopwords"),
        (pass_wc & pass_mwl & pass_sym & pass_alpha & pass_stop).alias(
            "pass_all"
        ),
    )


# C4/Dolma-style boilerplate stripping: remove every occurrence of any
# word 3-gram whose DOCUMENT frequency crosses a threshold, then rewrite
# the text from the surviving words in order (Raffel et al. 2020's C4
# repeated-span policy and Dolma's paragraph dedup, at word-gram
# granularity because the fixture documents are single-line). Distinct
# from dedup_span_ngram, which REPORTS repeated spans per document pair —
# this op performs the corpus-level in-place rewrite a training pipeline
# actually ships.
_BOILERPLATE_DF = 4  # document-frequency threshold for a 3-gram

_BOILER_F1 = "CAST(CAST('0x' || substr(md5(gram), 1, 8) AS UBIGINT) AS BIGINT)"
_BOILER_F2 = "CAST(CAST('0x' || substr(md5(gram), 9, 8) AS UBIGINT) AS BIGINT)"

_BOILERPLATE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), words AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
), grams AS (
  SELECT doc_id, pos, gram FROM (
    SELECT doc_id, pos,
           word || ' ' || lead(word, 1) OVER win
                || ' ' || lead(word, 2) OVER win AS gram
    FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  ) g WHERE gram IS NOT NULL
), gh AS (
  SELECT doc_id, pos, {_BOILER_F1} AS f1, {_BOILER_F2} AS f2 FROM grams
), boil AS (
  SELECT f1, f2 FROM gh GROUP BY f1, f2
  HAVING COUNT(DISTINCT doc_id) >= {_BOILERPLATE_DF}
), covered AS (
  SELECT DISTINCT g.doc_id, g.pos + d AS pos
  FROM gh g JOIN boil USING (f1, f2), unnest([0, 1, 2]) AS t(d)
), kept AS (
  SELECT words.doc_id, words.pos, words.word
  FROM words ANTI JOIN covered USING (doc_id, pos)
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(word, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS INT) AS n_words,
       CAST(COALESCE(a.n_kept, 0) AS INT) AS n_kept,
       COALESCE(a.cleaned_text, '') AS cleaned_text
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("text_boilerplate_strip", oracle=_BOILERPLATE_ORACLE, bench=True)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal with in-place rewrite: any word
    3-gram appearing in >= _BOILERPLATE_DF (4) documents is stripped
    from every document (all covered word positions), and the text is
    rebuilt from the survivors in order — the C4 repeated-span / Dolma
    paragraph-dedup rewrite at word-gram granularity.

    Plan shape for 100 TB: grams are built PER ROW from
    the split array (transform over a position sequence — no posexplode +
    lead() window, so the old full-word-row exchange + sort is gone) and
    leave the row only as md5-u32 int pairs; the df count is the one
    fingerprint exchange; covered positions aggregate to a PER-DOC int
    set (groupBy doc_id), and the rebuild is a per-row array filter of
    the split words against that set — the old plan's (doc_id, pos,
    word) anti-join and the collect_list re-assembly exchange (both
    carrying every word of the corpus) no longer exist. The only join
    touching word arrays is the final doc_id join, whose text-bearing
    side is the output itself."""
    from clinical_bi_spark.operators.dedup import _md5_word

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n = F.size("ws")
    # gram start positions 0 .. n-3 (empty when n < 3; sequence() would
    # count DOWN for n < 3, hence the guard)
    idx = F.when(n >= 3, F.sequence(F.lit(0), n - 3)).otherwise(
        F.array().cast("array<int>")
    )
    gram_structs = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("bigint").alias("pos"),
            F.concat_ws(
                " ",
                F.element_at(F.col("ws"), i + 1),
                F.element_at(F.col("ws"), i + 2),
                F.element_at(F.col("ws"), i + 3),
            ).alias("gram"),
        ),
    )
    # persisted: gh feeds both the df count and the covered-position set;
    # without the cache the per-gram string build + md5 hashing re-runs
    # once per consumer (A/B'd: no-persist reads 1.43x the cached form).
    # Ints only (doc_id, pos, f1, f2), released at the query boundary.
    gh = persist_tracked(
        docs.select("doc_id", F.explode(gram_structs).alias("g")).select(
            "doc_id",
            F.col("g.pos").alias("pos"),
            _md5_word(F.col("g.gram"), 1).alias("f1"),
            _md5_word(F.col("g.gram"), 9).alias("f2"),
        )
    )
    boil = (
        gh.groupBy("f1", "f2")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BOILERPLATE_DF)
        .select("f1", "f2")
    )
    covered = (
        gh.join(boil, ["f1", "f2"])
        .select(
            "doc_id",
            F.explode(
                F.array(F.col("pos"), F.col("pos") + 1, F.col("pos") + 2)
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("cov"))
    )
    covc = F.coalesce(F.col("cov"), F.array().cast("array<bigint>"))
    kept = F.filter(
        F.col("ws"),
        lambda x, i: ~F.array_contains(covc, i.cast("bigint")),
    )
    return (
        docs.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("int").alias("n_words"),
            F.coalesce(F.size(kept), F.lit(0)).cast("int").alias("n_kept"),
            F.coalesce(F.concat_ws(" ", kept), F.lit("")).alias(
                "cleaned_text"
            ),
        )
    )


# Overlapping-stride chunking (window W=64 tokens, stride S=48 -> 16
# tokens of context overlap between consecutive chunks): the standard
# pretraining/RAG splitter when examples must not lose cross-boundary
# context. Chunk i covers tokens [i*S, i*S+W); the last chunk starts at
# the largest i*S < n (so a short tail still carries its overlap
# context), and single-chunk documents emit exactly one row.
_CHUNK_W, _CHUNK_S = 64, 48

_CHUNK_OVERLAP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS.format(col='text')} AS tk FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       CAST(len(tk[i * {_CHUNK_S} + 1 : i * {_CHUNK_S} + {_CHUNK_W}]) AS INT)
         AS n_tokens,
       array_to_string(tk[i * {_CHUNK_S} + 1 : i * {_CHUNK_S} + {_CHUNK_W}],
                       ' ') AS chunk_text
FROM t, unnest(range(0, CAST(ceil(greatest(len(tk) - {_CHUNK_W}, 0)
                                  / {_CHUNK_S}.0) AS BIGINT) + 1)) AS u(i)
WHERE len(tk) > 0
"""


@query("text_chunk_overlap_split", oracle=_CHUNK_OVERLAP_ORACLE)
def text_chunk_overlap_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-stride training chunks (W=64, S=48 — 16-token context
    overlap): chunk count = ceil(max(n-W, 0)/S) + 1 for non-empty
    documents, so boundaries never orphan context and short documents
    emit exactly one chunk. Same zero-shuffle narrow shape as
    text_chunk_split (tokenize once, transform over the chunk-start
    sequence, inline) — at 100 TB the overlap multiplies output bytes by
    ~W/S, a declared storage trade, not a shuffle."""
    t = load_tables(tune(spark), sf_dir)
    w, s = _CHUNK_W, _CHUNK_S
    tk = word_tokens(F.col("text"))
    chunks = F.expr(
        f"""
        CASE WHEN size(tk) = 0 THEN array()
             ELSE transform(
               sequence(0, CAST(ceil(greatest(size(tk) - {w}, 0)
                                     / {s}.0) AS INT)),
               i -> struct(
                 CAST(i AS INT) AS chunk_id,
                 CAST(size(slice(tk, i * {s} + 1, {w})) AS INT) AS n_tokens,
                 array_join(slice(tk, i * {s} + 1, {w}), ' ') AS chunk_text))
        END
        """
    )
    return (
        t.documents.select("doc_id", tk.alias("tk"))
        .select("doc_id", F.inline(chunks))
    )


# ---------------------------------------------------------------------------
# Keep-best dedup survivorship: exact dedup keeps min(doc_id); real
# curation pipelines keep the BEST representative per duplicate cluster
# and emit a survivorship map (dupe -> keeper) so downstream references
# re-point. Clusters here key on the WORD-SET fingerprint (md5 of the
# sorted distinct token set) — same-vocabulary rearrangements/repetitions
# that byte-exact fingerprints miss; the keep rule is (longest text,
# lowest doc_id), a deterministic quality proxy.
# ---------------------------------------------------------------------------

_WORDSET_FP_SQL = (
    "md5(array_to_string(list_sort("
    + _WORDSET.format(col="text")
    + "), ' '))"
)

_KEEP_BEST_ORACLE = f"""
WITH f AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
         {_WORDSET_FP_SQL} AS fp
  FROM documents
), c AS (
  SELECT fp, COUNT(*) AS n,
         FIRST(doc_id ORDER BY len DESC, doc_id) AS keeper
  FROM f GROUP BY fp
)
SELECT f.doc_id AS doc_id,
       c.keeper AS keeper_doc_id,
       f.doc_id = c.keeper AS is_keeper,
       CAST(c.n AS BIGINT) AS cluster_size
FROM f JOIN c USING (fp)
WHERE c.n >= 2
"""


@query("dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship map for word-set duplicate clusters: every document
    in a cluster of >= 2 maps to its keeper (longest text wins, doc_id
    breaks ties).

    Scale shape: only (doc_id, 16-byte fp, len) shuffles — text never
    leaves its scan partition; the keeper election is a min_by partial
    agg (map-side combine) and the map-back is an equi-join on fp. The
    cluster relation is duplicate-clusters-only, far smaller than the
    corpus."""
    t = load_tables(tune(spark), sf_dir)
    fp = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(word_tokens(F.lower(F.col("text"))))
            ),
            " ",
        )
    )
    d = t.documents.select(
        "doc_id", F.length("text").cast("bigint").alias("len"), fp.alias("fp")
    )
    clusters = (
        d.groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.expr("min_by(doc_id, struct(-len, doc_id))").alias(
                "keeper_doc_id"
            ),
        )
        .filter(F.col("cluster_size") >= 2)
    )
    return d.join(clusters, "fp").select(
        "doc_id",
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
        "cluster_size",
    )


# ---------------------------------------------------------------------------
# Bigram collocation mining via PMI: the corpus-analysis op that
# surfaces multi-word expressions ("new york") before tokenizer
# training. PMI = ln(p(xy) / (p(x) p(y))); the RANKING key is the raw
# probability ratio computed with one IEEE division (bit-identical
# across engines — unlike ln, whose libm may differ in the last ulp),
# so the top-K selection is deterministic; ln enters display only,
# rounded.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 50

_PMI_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_LTOKENS.format(col='text')} AS words FROM documents
), uni AS (
  SELECT UNNEST(words) AS tok FROM w
), uc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc
), big AS (
  SELECT words[CAST(i AS INT) + 1] AS w1, words[CAST(i AS INT) + 2] AS w2
  FROM w, UNNEST(range(0, len(words) - 1)) AS t(i)
), bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM big GROUP BY w1, w2
), m AS (
  SELECT CAST(SUM(c_xy) AS BIGINT) AS n_big FROM bc
), scored AS (
  SELECT bc.w1, bc.w2, bc.c_xy,
         CAST(bc.c_xy AS DOUBLE)
           / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS ratio,
         u1.c AS c_x, u2.c AS c_y
  FROM bc JOIN uc u1 ON u1.tok = bc.w1 JOIN uc u2 ON u2.tok = bc.w2
  WHERE bc.c_xy >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy,
       CAST(ROW_NUMBER() OVER (ORDER BY ratio DESC, w1, w2) AS BIGINT)
         AS pos,
       ROUND(ln(ratio * n.n_tok * n.n_tok / m.n_big), 6) AS pmi
FROM scored, n, m
ORDER BY pos
LIMIT {_PMI_TOPK}
"""


def _adjacent_bigrams(toks: DataFrame) -> DataFrame:
    """Explode each token array into its adjacent (w1, w2) bigrams with a
    zero-copy slice+zip (narrow, no shuffle). The slice length is clamped
    with ``greatest(size - 1, 0)``: a zero-token document (empty or
    whitespace-only text) would otherwise pass length -1 and throw
    SparkRuntimeException INVALID_PARAMETER_VALUE.LENGTH, where the DuckDB
    oracle's ``range(0, len - 1)`` yields an empty set — the clamp makes
    both engines agree on "no bigrams" (pinned by
    tests/test_textops.py::test_adjacent_bigrams_zero_token_doc)."""
    return toks.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(words, 1, greatest(size(words) - 1, 0))"),
                F.expr("slice(words, 2, greatest(size(words) - 1, 0))"),
            )
        ).alias("bg")
    ).select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))


@query("text_bigram_pmi_topk", oracle=_PMI_ORACLE)
def text_bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-bigram collocations by pointwise mutual
    information, min count 5. Spark derives bigrams with a zero-copy
    slice+zip over the token array (narrow), counts them with one
    partial-agg'd shuffle, joins the two unigram counts (the vocabulary
    relation — orders smaller than the corpus), and takes the top-K on
    the exact division ratio via TakeOrderedAndProject (per-partition
    top-K + K-row merge, never a global sort). The scalar totals
    (n_tok, n_big) enter the display expression as one-row literals
    read on the driver — the LPA literal-inlining pattern."""
    t = load_tables(tune(spark), sf_dir)
    toks = t.documents.select(
        word_tokens(F.lower(F.col("text"))).alias("words")
    )
    toks = persist_tracked(toks)
    uni = toks.select(F.explode("words").alias("tok"))
    uc = uni.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    uc = persist_tracked(uc)
    big = _adjacent_bigrams(toks)
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    # `or 0`: SUM over an empty vocabulary is NULL — a zero-token corpus
    # must yield the empty top-K, not a driver-side float(None) crash
    #
    n_tok = uc.agg(F.sum("c")).first()[0] or 0
    scored = (
        bc.join(uc.select(F.col("tok").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uc.select(F.col("tok").alias("w2"), F.col("c").alias("c_y")), "w2")
        .withColumn(
            "ratio",
            F.col("c_xy").cast("double")
            / (F.col("c_x").cast("double") * F.col("c_y").cast("double")),
        )
    )
    # n_big = total bigram occurrences BEFORE the min-count filter (the
    # PMI denominator is a corpus property, not a property of the
    # filtered set) — recompute from the unfiltered bigram relation.
    n_big = big.count()
    topk = scored.orderBy(F.col("ratio").desc(), "w1", "w2").limit(_PMI_TOPK)
    w = Window.orderBy(F.col("ratio").desc(), "w1", "w2")
    return topk.select(
        "w1",
        "w2",
        "c_xy",
        F.row_number().over(w).cast("bigint").alias("pos"),
        F.round(
            F.log(
                F.col("ratio")
                * F.lit(float(n_tok))
                * F.lit(float(n_tok))
                / F.lit(float(n_big))
            ),
            6,
        ).alias("pmi"),
    )


# ---------------------------------------------------------------------------
# Containment (asymmetric set-overlap) join: C(A, B) = |A∩B| / |A|
# >= 0.9 — the partial-copy/quotation detector the SYMMETRIC Jaccard
# join cannot express (a short document fully quoted inside a long one
# has high containment but low Jaccard). Prefix filtering adapts: if
# C(A,B) >= t then A's (|A| - ceil(t|A|) + 1)-prefix (df-ascending
# order) must intersect B SOMEWHERE — so A-side prefixes join against
# ALL tokens of B. The join keys are still only A-prefix tokens (each
# document's rarest), so the anti-skew property survives even though
# the B side is unfiltered.
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.9  # = 9/10: C >= t  <=>  10*n_inter >= 9*|A|, integer-exact

_CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_LTOKENS.format(col='text')} AS words FROM documents
), tok AS (
  SELECT DISTINCT doc_id, UNNEST(words) AS w FROM toks
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a AS doc_a, doc_b AS doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.sz AS BIGINT) AS sz_a,
       ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE), 6)
         AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE 10 * n_inter >= 9 * sa.sz
"""


@query("dedup_containment_prefix", oracle=_CONTAINMENT_ORACLE, bench=True)
def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment >= 0.9 self-join via prefix filtering: A's
    rarest-token prefix joins against the full inverted token list; the
    verify step is the vocab-gated dense-bitmask overlap
    (array_intersect is the any-vocabulary fallback — see
    _JACCARD_BITMASK_VOCAB_CAP). The oracle enumerates every
    token-sharing DIRECTED pair — a strict superset of the prefix
    candidates — so a green row proves the containment prefix filter
    lossless (the dedup-family contract). 100 TB shape: candidates via
    hash equi-join on rare tokens only; the B-side posting list is the
    full token relation but each candidate's key is an A-prefix token,
    keeping hot tokens out of join keys.

    Three levers (its first bench floor was 153 s):
    (1) tokens flow as xxhash64 longs (injectivity-audited, string
    fallback); (2) a LENGTH filter: |A∩B| <= |B|, so C(A,B) >= 9/10 needs 10*sb >= 9*sa,
    integer-exact; (3) the two-sided POSITIONAL bound: the B posting
    list now carries positions in B's own df-ordered list, and since
    both lists share one global order, every shared token beyond the
    LAST matched one sits after pa* in A and after pb* in B —
    overlap <= n_matched + min(sa - pa*, sb - pb*), so candidates with
    10*(n_matched + min(sa - pa*, sb - pb*)) < 9*sa are pruned before
    the verify join ships any array. (The A-side-only bound is provably
    VACUOUS here — pam <= prefix_len makes n_matched + sa - pam >=
    ceil(tau*sa) whenever n_matched >= 1, which is exactly how the
    prefix length is chosen — so the B side is load-bearing.) The
    all-pairs oracle stays the losslessness proof; A/B in PERF.md r9."""
    t = load_tables(tune(spark), sf_dir)
    tau = _CONTAIN_T
    toks = t.documents.select(
        "doc_id",
        F.array_distinct(word_tokens(F.lower(F.col("text")))).alias("words"),
    ).filter(F.size("words") >= 1)
    # tokens are hashed ONLY behind a clean per-run injectivity
    # certificate (audit inside the query; strings on a collision).
    # one persisted dfreq serves the audit AND the bitmask verify's
    # vocab TopK (see audited_token_relation). The df-ordering below
    # keeps its INLINE aggregate: the join must stay a runtime broadcast,
    # and AQE only converts when the build side sits above an observable
    # shuffle — a cache-backed dfreq planned as SortMergeJoin (measured).
    toks, dfreq = audited_token_relation(toks, return_dfreq=True)
    tok = toks.select("doc_id", F.explode("words").alias("w"))
    dfreq_o = tok.groupBy("w").agg(F.count("*").alias("df"))
    ordered = (
        tok.join(dfreq_o, "w")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(df, w))), x -> x.w)"
            ).alias("ow")
        )
        .select(
            "doc_id",
            "ow",
            F.size("ow").alias("sz"),
            F.expr(
                f"slice(ow, 1, size(ow) - CAST(ceil({tau} * size(ow)) AS INT)"
                " + 1)"
            ).alias("prefix"),
        )
    )
    ordered = persist_tracked(ordered)
    a = ordered.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sa"),
        F.posexplode("prefix").alias("pos0", "w"),
    ).withColumn("pa", F.col("pos0") + 1)
    b = ordered.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sb"),
        F.posexplode("ow").alias("pos0b", "w"),
    ).withColumn("pb", F.col("pos0b") + 1)
    cand = (
        a.join(b, "w")
        .filter(F.col("doc_a") != F.col("doc_b"))
        # length filter: overlap <= sb, so 10*sb >= 9*sa is necessary
        .filter(F.lit(10) * F.col("sb") >= F.lit(9) * F.col("sa"))
        .groupBy("doc_a", "doc_b", "sa", "sb")
        .agg(
            F.count("*").alias("n_matched"),
            F.max("pa").alias("pam"),
            F.max("pb").alias("pbm"),
        )
        .withColumn(
            "ub",
            F.col("n_matched")
            + F.least(F.col("sa") - F.col("pam"), F.col("sb") - F.col("pbm")),
        )
        .filter(F.lit(10) * F.col("ub") >= F.lit(9) * F.col("sa"))
        .select("doc_a", "doc_b")
    )
    # the directed verify projects containment over the Jaccard join's
    # bitmask overlap core; array_intersect past the vocab cap
    ov = _bitmask_pair_overlap(
        spark, toks, cand, _JACCARD_BITMASK_VOCAB_CAP, dfreq=dfreq
    )
    if ov is not None:
        inter_bm = F.col("n_inter")
        return ov.select(
            "doc_a",
            "doc_b",
            inter_bm.cast("bigint").alias("n_inter"),
            F.col("ca").cast("bigint").alias("sz_a"),
            F.round(
                inter_bm.cast("double") / F.col("ca").cast("double"), 6
            ).alias("containment"),
        ).filter(F.lit(10) * F.col("n_inter") >= F.lit(9) * F.col("sz_a"))
    wa = toks.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wsa"))
    wb = toks.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wsb"))
    inter = F.size(F.array_intersect(F.col("wsa"), F.col("wsb")))
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_inter"),
            F.size("wsa").cast("bigint").alias("sz_a"),
            F.round(
                inter.cast("double") / F.size("wsa").cast("double"), 6
            ).alias("containment"),
        )
        .filter(F.lit(10) * F.col("n_inter") >= F.lit(9) * F.col("sz_a"))
    )


# The SECOND containment
# direction — superset detection, rolled up per containing document.
# The raw C(B,A) pair list is the mirror of dedup_containment_prefix's
# output, so the operator-level value is the per-superset aggregation: a
# document that swallows many others is the survivorship keeper / the
# boilerplate hub the curation funnel wants flagged.
_CONTAINMENT_SUPERSET_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_LTOKENS.format(col='text')} AS words FROM documents
), tok AS (
  SELECT DISTINCT doc_id, UNNEST(words) AS w FROM toks
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_b AS doc_sup,
       CAST(COUNT(*) AS BIGINT) AS n_contained,
       ROUND(MAX(CAST(n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE)), 6)
         AS max_containment,
       CAST(MAX(sa.sz) AS BIGINT) AS max_sub_sz
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE 10 * n_inter >= 9 * sa.sz
GROUP BY doc_b
"""


@query("dedup_containment_superset", oracle=_CONTAINMENT_SUPERSET_ORACLE)
def dedup_containment_superset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Superset detection: per containing document, how many other
    documents it contains at C(sub, sup) >= 0.9, with the tightest
    containment and the largest swallowed size. Same inverted-list
    prefix machinery as dedup_containment_prefix (the candidate key is
    always the SUBSET side's rarest-token prefix — anti-skew preserved),
    plus one partial-agg'd rollup on the superset id; the all-pairs
    oracle again proves the prefix filter lossless through the rollup.
    Kept standalone (no shared helper with dedup_containment_prefix)."""
    t = load_tables(tune(spark), sf_dir)
    tau = _CONTAIN_T
    toks = t.documents.select(
        "doc_id",
        F.array_distinct(word_tokens(F.lower(F.col("text")))).alias("words"),
    ).filter(F.size("words") >= 1)
    # tokens are hashed ONLY behind a clean per-run injectivity
    # certificate (audit inside the query; strings on a collision).
    # The df-ordering keeps its inline aggregate (runtime-broadcast; see
    # dedup_containment_prefix) — this query has no bitmask TopK, so the
    # audit's persisted dfreq has no second consumer here.
    toks = audited_token_relation(toks)
    tok = toks.select("doc_id", F.explode("words").alias("w"))
    dfreq = tok.groupBy("w").agg(F.count("*").alias("df"))
    ordered = (
        tok.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(df, w))), x -> x.w)"
            ).alias("ow")
        )
        .select(
            "doc_id",
            "ow",
            F.size("ow").alias("sz"),
            F.expr(
                f"slice(ow, 1, size(ow) - CAST(ceil({tau} * size(ow)) AS INT)"
                " + 1)"
            ).alias("prefix"),
        )
    )
    ordered = persist_tracked(ordered)
    # same candidate machinery as dedup_containment_prefix:
    # u64 tokens, the 10*s_sup >= 9*s_sub length filter, and the
    # two-sided positional bound (see that query's docstring derivation)
    a = ordered.select(
        F.col("doc_id").alias("doc_sub"),
        F.col("sz").alias("s_sub"),
        F.posexplode("prefix").alias("pos0", "w"),
    ).withColumn("pa", F.col("pos0") + 1)
    b = ordered.select(
        F.col("doc_id").alias("doc_sup"),
        F.col("sz").alias("s_sup"),
        F.posexplode("ow").alias("pos0b", "w"),
    ).withColumn("pb", F.col("pos0b") + 1)
    cand = (
        a.join(b, "w")
        .filter(F.col("doc_sub") != F.col("doc_sup"))
        .filter(F.lit(10) * F.col("s_sup") >= F.lit(9) * F.col("s_sub"))
        .groupBy("doc_sub", "doc_sup", "s_sub", "s_sup")
        .agg(
            F.count("*").alias("n_matched"),
            F.max("pa").alias("pam"),
            F.max("pb").alias("pbm"),
        )
        .withColumn(
            "ub",
            F.col("n_matched")
            + F.least(
                F.col("s_sub") - F.col("pam"), F.col("s_sup") - F.col("pbm")
            ),
        )
        .filter(F.lit(10) * F.col("ub") >= F.lit(9) * F.col("s_sub"))
        .select("doc_sub", "doc_sup")
    )
    wa = toks.select(F.col("doc_id").alias("doc_sub"), F.col("words").alias("wsa"))
    wb = toks.select(F.col("doc_id").alias("doc_sup"), F.col("words").alias("wsb"))
    inter = F.size(F.array_intersect(F.col("wsa"), F.col("wsb")))
    pairs = (
        cand.join(wa, "doc_sub")
        .join(wb, "doc_sup")
        .select(
            "doc_sup",
            inter.cast("bigint").alias("n_inter"),
            F.size("wsa").cast("bigint").alias("sz_sub"),
            (inter.cast("double") / F.size("wsa").cast("double")).alias(
                "containment"
            ),
        )
        .filter(F.lit(10) * F.col("n_inter") >= F.lit(9) * F.col("sz_sub"))
    )
    return pairs.groupBy("doc_sup").agg(
        F.count("*").cast("bigint").alias("n_contained"),
        F.round(F.max("containment"), 6).alias("max_containment"),
        F.max("sz_sub").cast("bigint").alias("max_sub_sz"),
    )


# ---------------------------------------------------------------------------
# Character-entropy text quality: Shannon entropy of the per-doc
# character distribution — the gibberish screen (near-zero bits =
# repeated-character spam, ~4.2 bits = normal English, >5 bits = random
# bytes/encoded blobs). Exact across engines: both compute
# H = (ln n - (1/n) * SUM_c cnt_c * ln cnt_c) / ln 2 with the per-doc
# fold over the SORTED distinct character list (same float order), and
# cnt_c is an exact integer. Cost is O(len * distinct_chars) per doc —
# a deliberate all-expression form (zero shuffle, zero Python); a
# 100 TB deployment caps it by sampling a fixed prefix per doc, the
# same budget device text_stats documents.
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH c AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ''), x -> x <> '') AS chars
  FROM documents
), d AS (
  SELECT doc_id, chars, len(chars) AS n,
         list_sort(list_distinct(chars)) AS uniq
  FROM c WHERE len(chars) > 0
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_chars,
       CAST(len(uniq) AS BIGINT) AS n_distinct,
       ROUND(
         (ln(CAST(n AS DOUBLE))
          - list_reduce(
              list_prepend(0.0::DOUBLE,
                list_transform(uniq, ch ->
                  CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
                  * ln(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)))),
              (a, b) -> a + b) / CAST(n AS DOUBLE))
         / ln(2.0), 6) AS entropy_bits
FROM d
"""


@query("text_char_entropy", oracle=_ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy in bits —
    pure-Catalyst higher-order functions over the char array, sorted
    distinct fold so the float path matches DuckDB bit-for-bit (modulo
    display rounding)."""
    t = load_tables(tune(spark), sf_dir)
    chars = F.filter(
        F.split(F.lower(F.col("text")), ""), lambda x: x != F.lit("")
    )
    d = t.documents.select(
        "doc_id",
        chars.alias("chars"),
    ).withColumn("n", F.size("chars")).filter(F.col("n") > 0).withColumn(
        "uniq", F.array_sort(F.array_distinct("chars"))
    )
    term = F.expr(
        "aggregate("
        "  transform(uniq, ch -> CAST(size(filter(chars, x -> x = ch)) AS DOUBLE)"
        "            * ln(CAST(size(filter(chars, x -> x = ch)) AS DOUBLE))),"
        "  0.0D, (a, b) -> a + b)"
    )
    return d.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars"),
        F.size("uniq").cast("bigint").alias("n_distinct"),
        F.round(
            (F.log(F.col("n").cast("double")) - term / F.col("n").cast("double"))
            / F.log(F.lit(2.0)),
            6,
        ).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# Corpus-trained BPE tokenizer.
#
# THE canonical training-data prep step the text family still lacked:
# byte-pair encoding TRAINED ON THE CORPUS (Sennrich et al. 2016), not a
# BPE-ish regex. Training is the real iterative algorithm — K rounds of
# "count adjacent symbol pairs weighted by word frequency, merge the
# most frequent" — and it is exactly adjudicable because every step is
# engine-portable:
#   * the symbol sequence is a SELF-CONTAINED wrapper string
#     ('|l||o||w||_|'): pair patterns '|x||y|' share no characters with
#     adjacent matches, so the engines' left-to-right non-overlapping
#     replace() IS canonical greedy-leftmost BPE merge application —
#     pinned against a reference Python implementation on the shared-
#     delimiter cases ('a a a a') where the naive space-framed form
#     provably diverges, and '|' can never false-match inside a
#     multi-char symbol;
#   * the argmax merge is deterministic (count DESC, pair ASC) and a
#     pair-exhausted round degenerates to a no-op on both engines (the
#     '|~|' sentinel never matches);
#   * the oracle unrolls the K training rounds as chained CTEs (the
#     IVF/PCA training-oracle playbook) — pair counts via
#     list_zip(syms, syms[2:]), the same rewrite via replace().
# Scale shape: the ONLY fact-scale work is the word-count groupBy (one
# map-side-combined shuffle); all K training rounds iterate on the
# DISTINCT-WORD relation (vocabulary-sized — invariant to corpus growth
# once the vocabulary saturates), each round collecting exactly ONE
# argmax row (bounded driver pattern, cf. det_kmeans/PCA); encoding is
# a broadcast join of the exploded corpus against the vocabulary. The
# adjudicated output (per-doc subword token counts) binds every merge:
# one changed merge shifts counts corpus-wide. Contract: words are the
# maximal [a-z]+ runs of lower(text), length <= 20 (both engines' lower()
# agree on the basic-plane mappings that can land in [a-z]; anything
# else never enters the alphabet), '_' is the end-of-word symbol.
# ---------------------------------------------------------------------------

_BPE_MERGES = 12


def _bpe_oracle(k: int) -> str:
    head = """
WITH dw AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents) t
  WHERE word <> '' AND length(word) <= 20
), w0 AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq,
         '|' || regexp_replace(word, '(.)', '\\1||', 'g') || '_|' AS repr
  FROM dw GROUP BY word
)"""
    blocks = []
    for r in range(k):
        blocks.append(f""", p{r} AS MATERIALIZED (
  SELECT pr[1] AS px, pr[2] AS py, SUM(freq) AS cnt
  FROM (SELECT freq, unnest(list_zip(syms, syms[2:])) AS pr
        FROM (SELECT freq, string_split(trim(repr, '|'), '||') AS syms
              FROM w{r}) s) z
  WHERE pr[2] IS NOT NULL
  GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT px, py FROM p{r} ORDER BY cnt DESC, px, py LIMIT 1
), w{r + 1} AS MATERIALIZED (
  SELECT word, freq,
         replace(repr,
                 COALESCE('|' || (SELECT px FROM b{r}) || '||'
                          || (SELECT py FROM b{r}) || '|', '|~|'),
                 COALESCE('|' || (SELECT px FROM b{r})
                          || (SELECT py FROM b{r}) || '|', '|~|')) AS repr
  FROM w{r}
)""")
    tail = f"""
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM((length(e.repr) - length(replace(e.repr, '|', ''))) // 2)
            AS BIGINT) AS n_bpe_tokens
FROM dw JOIN w{k} e USING (word)
GROUP BY dw.doc_id"""
    return head + "".join(blocks) + tail


_BPE_ORACLE = _bpe_oracle(_BPE_MERGES)


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word) for every maximal [a-z]+ run of lower(text),
    length <= 20 — the BPE corpus contract shared with the oracle."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias(
                "word"
            ),
        )
        .filter((F.col("word") != "") & (F.length("word") <= 20))
    )


def bpe_train(vocab: DataFrame, n_merges: int) -> tuple[DataFrame, list]:
    """Run ``n_merges`` BPE rounds over a (word, freq, repr) vocabulary
    relation; returns (encoded vocabulary, learned merge list). Each
    round shuffles only the vocabulary-sized pair relation and collects
    exactly one argmax row (the bounded driver pattern)."""
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        syms = F.split(F.expr("trim(BOTH '|' FROM repr)"), r"\|\|")
        n = F.size(syms)
        pairs = vocab.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.greatest(n - 1, F.lit(0))),
                    F.slice(syms, 2, F.greatest(n - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("px"), b.alias("py")),
                )
            ).alias("pr"),
        )
        top = (
            pairs.select(F.col("pr.px"), F.col("pr.py"), "freq")
            .groupBy("px", "py")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "px", "py")
            .limit(1)
            .collect()
        )
        if not top:  # pair space exhausted: remaining rounds are no-ops
            break
        px, py = top[0].px, top[0].py
        merges.append((px, py))
        vocab = vocab.withColumn(
            "repr",
            F.expr(f"replace(repr, '|{px}||{py}|', '|{px}{py}|')"),
        )
    return vocab, merges


@query("text_bpe_train_encode", oracle=_BPE_ORACLE, bench=True)
def text_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train ``_BPE_MERGES`` byte-pair merges on the corpus and encode it:
    per-doc word and subword-token counts under the learned vocabulary —
    see the block comment above for the wrapper-string merge semantics
    and the unrolled-CTE oracle design."""
    words = _bpe_words(spark, sf_dir)
    # (reducing to per-(doc, word) counts first — one
    # tokenization pass + a cached distinct relation — was tried and
    # REGRESSED 1.33x: the (doc_id, word) exchange + cache it introduces
    # costs more than the second pipelined tokenization it saves)
    # coalesce(1): the cached relation the 12 serial merge rounds iterate
    # on is VOCABULARY-sized (distinct [a-z]{1,20} words — saturates, and
    # the same relation is broadcast whole into the encode join below), so
    # one cache partition makes each round's pair-count job a single task
    # instead of a fan-out over the word-count shuffle's partition layout;
    # the fact-scale map side of that shuffle stays parallel (coalesce
    # collapses only the post-exchange read). A/B: 0.539x
    # (9.039 -> 4.874 s in a degraded host window).
    vocab = persist_tracked(
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "repr",
            F.concat(
                F.lit("|"),
                F.regexp_replace("word", "(.)", "$1||"),
                F.lit("_|"),
            ),
        )
        .coalesce(1)
    )
    encoded, _merges = bpe_train(vocab, _BPE_MERGES)
    enc = encoded.select(
        "word",
        F.expr(
            "(length(repr) - length(replace(repr, '|', ''))) div 2"
        ).alias("n_sub"),
    )
    return (
        words.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )
