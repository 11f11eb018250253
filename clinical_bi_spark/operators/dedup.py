"""Deduplication operator family for document corpora.

Exact dedup is a hash-groupBy on a 16-byte fingerprint (queries/textops.py
``dedup_exact``). This module holds the near-duplicate detectors:

* MinHash + LSH banding — approximates word-set Jaccard; the scale path
  for the oracle-checked ``dedup_ngram_jaccard`` query. Pure DataFrame ops:
  shingle → per-permutation min-hash → band → bucket join. Cost is
  O(n·perms) narrow work + one shuffle on (band, bucket-signature);
  candidate verification touches only bucket-collision pairs. Every hash
  in the pipeline is engine-portable integer arithmetic over md5-prefix
  token hashes, so signatures AND candidate pairs are exactly
  reproducible in DuckDB — the query carries a full SQL oracle on top of
  the recall tests.
* SimHash — Hamming-proximity fingerprint (64-bit) assembled from two
  md5-prefix u32 words with bit arithmetic, no Python UDFs. Like MinHash,
  the hash family is engine-portable (md5 of UTF-8 bytes is identical in
  every engine), so fingerprints AND near-pairs are exactly reproducible
  in DuckDB — both simhash queries carry full SQL oracles, and tests also
  verify recall/precision against the exact Jaccard query
  (tests/test_dedup.py).

Oracle-portability contract: every hash used for signatures, bands,
buckets, or fingerprints in this module must be expressible as integer
arithmetic over md5 hex prefixes (see ``_md5_word``) so the DuckDB
oracles stay value-exact. Engine-specific hashes (xxhash64, murmur3)
are banned from any oracle-checked path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_bi_spark.caching import (
    local_checkpoint_tracked,
    persist_tracked,
    release_rdd_ids,
)

# Mersenne prime 2^31-1 for the universal-hash family h_i(x) = (a_i·x + b_i) mod p.
# Kept at 31 bits so a·x + b stays well inside int64 — Spark 4 runs in ANSI
# mode by default, where int64 overflow raises instead of wrapping.
_MERSENNE_P = (1 << 31) - 1

# Ceiling on the df-cap overflow list (distinct over-frequent fingerprints)
# eligible for a broadcast anti-join hint: 4M 8-byte fps ≈ 32 MB serialized,
# comfortably inside a default 1 GiB driver broadcast budget. Above it the
# anti-join falls back to a shuffle — slower but unconditionally safe.
_MAX_BROADCAST_OVERFLOW_FPS = 4_000_000

#: Seed of the MinHash permutation family (see :func:`_hash_params`).
MINHASH_SEED = 42


def _hash_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a simple LCG on the seed —
    no RNG state, reproducible everywhere."""
    params = []
    state = seed * 2654435761 % _MERSENNE_P
    for _ in range(num_perm):
        state = (state * 1103515245 + 12345) % _MERSENNE_P
        a = state | 1  # odd, non-zero
        state = (state * 1103515245 + 12345) % _MERSENNE_P
        b = state
        params.append((a, b))
    return params


def shingle_hashes(text_col: F.Column, n: int) -> F.Column:
    """Distinct numeric n-gram shingle hashes in [0, p) — the MinHash fast
    path. Tokens are hashed once; an n-gram's hash is the polynomial
    combination of its token hashes (no substring/concat materialization:
    O(n·len) arithmetic instead of O(len²) string building — measured ~2×
    on the bench corpus).

    The token hash is the engine-portable md5-prefix u32 (the same family
    pipelineops standardized: first 8 md5 hex digits as an integer), NOT
    Spark's xxhash64 — md5 of UTF-8 bytes is identical in every engine,
    so signatures, bands, and candidate pairs are exactly reproducible in
    DuckDB and the whole MinHash pipeline is oracle-checkable. The mod-p
    fold bias is ≤ 2^-31 per token — immaterial to a Jaccard estimator."""
    tokens = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != F.lit(""))
    return _poly_gram_fold(tokens, n, offset=1, base=31, distinct=True)


def _poly_gram_fold(
    tokens: F.Column, n: int, offset: int, base: int, distinct: bool
) -> F.Column:
    """Shared n-gram polynomial fold over md5-u32 token hashes: n aligned
    slices folded with zip_with — stays in codegen, no per-element
    indexing (try_element_at per gram measured ~2× slower). Serves both
    the distinct-shingle path (MinHash) and the positional-span path
    (``distinct=False`` keeps one fingerprint per token position)."""
    hashed = F.transform(
        tokens, lambda t: F.pmod(_md5_word(t, offset), F.lit(_MERSENNE_P))
    )
    if n == 1:
        grams = hashed
    else:
        length = F.greatest(F.size(hashed) - (n - 1), F.lit(0))
        grams = F.slice(hashed, 1, length)
        for j in range(1, n):
            grams = F.zip_with(
                grams,
                F.slice(hashed, j + 1, length),
                lambda acc, h: F.pmod(acc * F.lit(base) + h, F.lit(_MERSENNE_P)),
            )
    return F.array_distinct(grams) if distinct else grams


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig) signatures via the *relational* formulation: explode the
    shingle hashes and compute the num_perm minima as ordinary aggregate
    expressions.

    Why not an array fold (``aggregate`` over per-shingle permutation
    arrays)? Catalyst evaluates
    higher-order-function lambdas interpreted, per element — ~16M boxed
    lambda evaluations on the bench corpus (≈6 s). Exploding into rows
    hands the same arithmetic to whole-stage codegen with map-side partial
    min: measured ~6× faster, and the groupBy(id) shuffle carries only
    (id, 32 longs). Docs with fewer tokens than the shingle width have no
    shingles, hence no signature — they cannot near-dup-match anything.
    """
    params = _hash_params(num_perm, MINHASH_SEED)
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("h"),
    )
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig_wide = shingled.groupBy("id").agg(*mins)
    return sig_wide.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding.

    rows_per_band = num_perm / bands; two docs collide if any band of their
    signatures matches exactly. Returns (id_a, id_b, est_jaccard) where
    est_jaccard is the signature agreement fraction — an unbiased Jaccard
    estimate. The only shuffle is the groupBy on (band_id, band_signature):
    at 100 TB the band signatures are ~32 bytes, so the shuffle is tiny
    relative to the corpus.
    """
    rows = num_perm // bands
    assert rows * bands == num_perm, "bands must divide num_perm"

    # persist: the signature feeds 8 band slices and both self-join sides;
    # without a materialization barrier CollapseProject would inline (and
    # re-evaluate) the signature expression into every consumer. At real
    # scale, write signatures to parquet instead and reuse across runs.
    with_sig = persist_tracked(
        minhash_signatures_df(
            df, id_col=id_col, text_col=text_col,
            num_perm=num_perm, shingle_n=shingle_n,
        )
    )
    # explode into (band_id, band_slice) keys
    banded = with_sig.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.struct(
                    band.alias("band_id"),
                    F.slice(F.col("sig"), band * rows + 1, rows).alias("band_sig"),
                ),
            )
        ).alias("band"),
    ).select("id", "sig", F.col("band.band_id").alias("band_id"),
             F.concat_ws(",", F.transform(F.col("band.band_sig"), lambda x: x.cast("string"))).alias("band_key"))

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(agree.cast("double") / F.lit(num_perm), 6).alias("est_jaccard"),
    )


def _md5_word(col: F.Column, offset: int) -> F.Column:
    """One 32-bit word of md5(col) as a bigint — the engine-portable token
    hash family (md5 of UTF-8 bytes is identical in every engine; hex
    digits [offset, offset+8) read as an integer). offset=1 → high word,
    offset=9 → low word; together they give a portable 64-bit hash."""
    return F.conv(F.substring(F.md5(col), offset, 8), 16, 10).cast("long")


def span_fingerprint_arrays(
    text_col: F.Column, n: int
) -> tuple[F.Column, F.Column]:
    """Two parallel arrays of rolling token n-gram fingerprints — one
    entry per token POSITION (no dedup: span-level duplicate detection
    counts repeated positions, Lee et al. 2022's substring-dedup premise
    approximated at token n-gram granularity).

    Each fingerprint word is a base-31/base-37 polynomial fold of the
    engine-portable md5-u32 token hashes (independent md5 words, offsets
    1 and 9) mod 2^31-1 — the same arithmetic family as
    :func:`shingle_hashes`, so a DuckDB oracle reproduces every
    fingerprint exactly. The two-word pair makes the effective space
    ~2^62: corpus-scale false collisions are negligible, and a collision
    changes both engines identically (the oracle stays exact regardless).

    All O(n·len) arithmetic stays in whole-stage codegen via the aligned
    slice + zip_with fold (no per-gram string building, no element_at)."""
    tokens = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != F.lit(""))
    return (
        _poly_gram_fold(tokens, n, offset=1, base=31, distinct=False),
        _poly_gram_fold(tokens, n, offset=9, base=37, distinct=False),
    )


def _token_bit(hi: F.Column, lo: F.Column, i: int) -> F.Column:
    """Bit i (0..63) of the two-word portable token hash."""
    word, shift = (lo, i) if i < 32 else (hi, i - 32)
    return F.shiftrightunsigned(word, shift).bitwiseAND(F.lit(1))


def simhash64(text_col: F.Column) -> F.Column:
    """64-bit SimHash of the word set, entirely in Catalyst expressions.

    For each of the 64 bit positions, sum +1/-1 votes from every token's
    hash bit; the sign of the sum is the output bit. Near-identical texts
    differ in few bits (Hamming distance), enabling radius search via
    bit_count(a XOR b). Token hashes are the engine-portable md5 two-word
    family (see :func:`_md5_word`), so fingerprints — and therefore pair
    sets — are exactly reproducible in DuckDB.
    """
    tokens = F.array_distinct(
        F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != F.lit(""))
    )
    hashes = F.transform(
        tokens,
        lambda t: F.struct(
            _md5_word(t, 1).alias("hi"), _md5_word(t, 9).alias("lo")
        ),
    )

    def _vote(i: int) -> F.Column:
        # closure keeps the aggregate lambda two-arg (acc, h)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(_token_bit(h["hi"], h["lo"], i) == 1, 1).otherwise(-1),
        )

    bits = []
    for i in range(64):
        vote = _vote(i)
        bits.append(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for bit in bits[1:]:
        out = out.bitwiseOR(bit)
    return out


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int,
    block_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    With ``block_col`` the pair space is bounded by a caller-provided
    attribute block (e.g. source). Without one, this DELEGATES to
    :func:`simhash_blocked_pairs` — fingerprint-segment blocking with an
    exact pigeonhole guarantee — never to an all-pairs cross join.
    """
    if block_col is None:
        return simhash_blocked_pairs(
            df, id_col=id_col, text_col=text_col, max_hamming=max_hamming
        )
    sh = simhash64_df(df, id_col=id_col, text_col=text_col)
    sh = sh.join(
        df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk")), "id"
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & (F.col("a.blk") == F.col("b.blk"))
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_blocked_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int,
) -> DataFrame:
    """SimHash pair search via fingerprint-segment blocking — EXACT, not
    approximate: split the 64-bit fingerprint into ``max_hamming + 1``
    segments; two fingerprints within Hamming
    distance ``max_hamming`` differ in at most ``max_hamming`` segments,
    so by pigeonhole they agree exactly on at least one. Candidates come
    from an equi-join on (segment_index, segment_value); the Hamming
    radius is verified per candidate.

    Scale shape: the shuffle key is a compact (int, int) pair; candidate
    volume is ~n²·b/2^(64/b) per uniform corpus, so discrimination decays
    as the radius (and with it b) grows — radius ≤ 7 keeps ≥ 8-bit
    segments, the production setting (Manku et al.'s table scheme). A
    caller chasing larger radii should block on an attribute column
    instead (``simhash_neardup_pairs(block_col=...)``).
    """
    b = max_hamming + 1
    sh = simhash64_df(df, id_col=id_col, text_col=text_col)
    # persist: the fingerprint aggregate feeds both self-join sides — the
    # barrier stops Catalyst recomputing the 64 bit-vote sums twice
    sh = persist_tracked(sh)
    base, extra = divmod(64, b)
    segs, shift = [], 0
    for i in range(b):
        bits = base + (1 if i < extra else 0)
        segs.append(
            F.struct(
                F.lit(i).alias("si"),
                F.shiftrightunsigned(F.col("sh"), shift)
                .bitwiseAND(F.lit((1 << bits) - 1))
                .alias("sv"),
            )
        )
        shift += bits
    keyed = sh.select(
        "id", "sh", F.explode(F.array(*segs)).alias("seg")
    ).select("id", "sh", F.col("seg.si").alias("si"), F.col("seg.sv").alias("sv"))
    a, bb = keyed.alias("a"), keyed.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(bb, ["si", "sv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair agreeing on several segments appears once per segment
        .distinct()
    )


def simhash64_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh) SimHash via the relational formulation (same lesson as
    minhash_signatures_df: HOF lambdas are interpreted — explode tokens and
    let codegen'd conditional sums compute the 64 bit votes). Token hashes
    are the engine-portable md5 two-word family, so the fingerprints are
    exactly reproducible in DuckDB and the simhash queries carry full SQL
    oracles."""
    tokens = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    )
    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens).alias("tok"))
    hi, lo = _md5_word(F.col("tok"), 1), _md5_word(F.col("tok"), 9)
    votes = [
        F.sum(
            F.when(_token_bit(hi, lo, i) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    voted = toks.groupBy("id").agg(*votes)
    sh = F.lit(0).cast("long")
    for i in range(64):
        sh = sh.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return voted.select("id", sh.alias("sh"))


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (rolling k-gram hash + sliding window min)
# ---------------------------------------------------------------------------
#
# The MOSS winnowing scheme: hash every k-char-gram of the normalized text,
# then keep the minimum hash of each w-wide sliding window; the distinct
# minima are the document's fingerprints. Unlike whole-document md5
# (functions/text.doc_fingerprint), winnowed fingerprints survive local
# edits, so shared-fingerprint counts detect near-duplicates and contained
# excerpts. The gram hash is a base-31 polynomial over character codes —
# plain integer arithmetic, so DuckDB computes bit-identical values and the
# queries built on this operator are exactly oracle-checkable (unlike the
# Spark-hash-specific MinHash/SimHash paths above).
#
# Implementation note (the CollapseProject lesson, PERF.md): never
# index an array expression from inside a HOF lambda — Catalyst inlines the
# array into the lambda body and re-evaluates it per element, turning a
# linear scan quadratic. Both the gram hash and the window min are instead
# computed as zip_with over *shifted slices* (elementwise, single pass);
# zip_with pads the shorter array with nulls, which the final slice to the
# valid prefix (gram hash) / null-skipping least() (window min) absorb.

#: Characters kept by winnowing normalization — everything else is deleted,
#: which also guarantees pure-ASCII input, bounding the polynomial hash at
#: 122 * sum(31^j, j<k) << 2^63 for k <= 12 (ANSI mode: overflow raises).
_WINNOW_NORM_RE = "[^a-z0-9]"

#: Winnowing: char-gram length and sliding-window width (the MOSS scheme).
WINNOW_K, WINNOW_WINDOW = 8, 4


def kgram_hashes(text_col: F.Column) -> F.Column:
    """array<long> of base-31 polynomial hashes of every k-char-gram
    (k = ``WINNOW_K``) of the lowercased, alnum-only text. Exact integers,
    engine-invariant: h(i) = sum_j code(s[i+j]) * 31^(k-1-j)."""
    k = WINNOW_K
    s = F.regexp_replace(F.lower(text_col), _WINNOW_NORM_RE, "")
    n = F.length(s)
    m = n - (k - 1)  # number of grams
    ac = F.transform(F.split(s, ""), F.ascii)
    weights = [31 ** (k - 1 - j) for j in range(k)]
    def _weighted_add(w: int):
        # closure (not a default arg) — pyspark reads lambda arity from the
        # signature, and a default parameter would make this look ternary
        return lambda a, x: a + x.cast("long") * F.lit(w)

    acc = F.transform(ac, lambda x: x.cast("long") * F.lit(weights[0]))
    for j in range(1, k):
        shift = F.slice(ac, j + 1, F.greatest(n, F.lit(1)))
        acc = F.zip_with(acc, shift, _weighted_add(weights[j]))
    return F.when(m >= 1, F.slice(acc, 1, m)).otherwise(
        F.array().cast("array<long>")
    )


def winnow_select(gram_col: F.Column) -> F.Column:
    """Distinct sorted sliding-window minima of a gram-hash array — the
    winnowing fingerprint set. Windows (``WINNOW_WINDOW`` wide) run
    1..max(m-window+1, 1) (one clamped window when the document has fewer
    grams than the window)."""
    window = WINNOW_WINDOW
    m = F.size(gram_col)
    mins = gram_col
    for j in range(1, window):
        shift = F.slice(gram_col, j + 1, F.greatest(m, F.lit(1)))
        # least() skips the nulls zip_with pads the tail with, which makes
        # the final (shorter-than-window) positions suffix minima; slicing
        # to m-window+1 below drops them, matching canonical winnowing.
        mins = F.zip_with(mins, shift, lambda a, b: F.least(a, b))
    wins = F.when(
        m >= 1, F.slice(mins, 1, F.greatest(m - (window - 1), F.lit(1)))
    ).otherwise(F.array().cast("array<long>"))
    return F.array_sort(F.array_distinct(wins))


def winnow_fingerprints_expr(df: DataFrame) -> DataFrame:
    """(id, fps: array<long>) winnowed fingerprints — pure-Catalyst
    expression form (kgram_hashes + winnow_select).

    Two-stage select so the gram-hash array is a named column referenced
    ``WINNOW_WINDOW`` times by the shifted-slice zip_withs — multiple references
    stop CollapseProject inlining it back into one per-reference expression.
    Narrow transformation: no shuffle, each document fingerprints in place.

    Kept as the reference implementation and differential-test anchor:
    Catalyst evaluates higher-order-function lambdas INTERPRETED, one
    boxed call per array element, so this form costs ~3× the Arrow path
    on the bench corpus (PERF.md) — ``winnow_fingerprints_df``
    is the production entry point.
    """
    g = df.select(F.col("doc_id").alias("id"), kgram_hashes(F.col("text")).alias("gh"))
    return g.select("id", winnow_select(F.col("gh")).alias("fps"))


def winnow_fingerprints_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fps: array<long>) winnowed fingerprints per document —
    vectorized Arrow path (numpy sliding windows inside mapInPandas).

    Same exact integers as the expression form (hash < 2^45, no
    overflow; both sides strip everything outside [a-z0-9] after
    lower(), so unicode lowercasing differences cannot reach the hash —
    differential-tested including unicode edge cases). Measured 3×
    faster per-core than the interpreted HOF chain at sf0.1 and scales
    the same way (narrow, partition-preserving: each batch fingerprints
    in place, text never moves)."""

    def batches(it):
        fps_of = _winnow_fps_kernel()
        import pandas as _pd

        for pdf in it:
            ids, fps_list = [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                ids.append(i)
                fps_list.append(fps_of(txt))
            yield _pd.DataFrame({"id": ids, "fps": fps_list})

    return df.select(id_col, text_col).mapInPandas(
        batches, schema="id long, fps array<long>"
    )


def _winnow_fps_kernel():
    """Per-document winnow-fingerprint kernel (numpy sliding windows),
    shared by :func:`winnow_fingerprints_df` and the passthrough variant
    so every caller computes byte-identical fingerprint sets."""
    k, window = WINNOW_K, WINNOW_WINDOW
    import re as _re

    import numpy as _np
    from numpy.lib.stride_tricks import sliding_window_view as _swv

    norm = _re.compile("[^a-z0-9]")
    weights = _np.array([31 ** (k - 1 - j) for j in range(k)], dtype=_np.int64)

    def fps_of(txt) -> list:
        s = norm.sub("", (txt or "").lower())
        codes = _np.frombuffer(s.encode("ascii"), dtype=_np.uint8).astype(
            _np.int64
        )
        if codes.size < k:
            return []
        gh = _swv(codes, k) @ weights
        if gh.size < window:
            mins = gh.min(keepdims=True)
        else:
            mins = _swv(gh, window).min(axis=1)
        return _np.unique(mins).tolist()  # sorted distinct

    return fps_of


def winnow_fingerprints_passthrough(df: DataFrame) -> DataFrame:
    """Winnowed fingerprints computed IN PLACE of the ``text`` column: the
    output carries every input column except ``text``, plus
    ``fps: array<long>`` — same kernel (hence byte-identical fingerprint
    sets) as :func:`winnow_fingerprints_df`.

    Exists for pipelines that persist a curated slice AND near-dup-mine
    it (queries/textops.pipeline_corpus_curation):
    fusing the fingerprint pass into the slice's materialization means
    the raw text is consumed in the same pass that builds the cache, so
    the persisted relation holds fingerprints (ints) instead of the
    corpus text, and the miner's separate fingerprint pass + cache over
    a text-bearing relation disappear."""
    keep = [f.name for f in df.schema.fields if f.name != "text"]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"{c} {types[c]}" for c in keep) + ", fps array<long>"
    )

    def batches(it):
        fps_of = _winnow_fps_kernel()

        for pdf in it:
            out = pdf[keep].copy()
            out["fps"] = [fps_of(t) for t in pdf["text"]]
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def winnow_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 3,
    min_containment: float = 0.5,
    max_df: int = 50,
    fps_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowed fingerprints.

    ``fps_df`` (optional): a precomputed ``(id, fps: array<long>)``
    relation — the caller already ran the fingerprint kernel (e.g. fused
    into a persisted curation slice, see
    :func:`winnow_fingerprints_passthrough`). It must be backed by a
    cache or an otherwise cheap plan: the postings derived from it feed
    the df-cap count, both pair-join sides, and the size table, and this
    function does NOT add its own persist around a caller-provided
    relation. ``df``/``id_col``/``text_col`` are ignored when given.

    The production shape for corpus-scale near-dup mining (the CCNet/Gopher
    pipeline pattern): explode to (fingerprint, doc) postings, drop
    boilerplate fingerprints appearing in more than ``max_df`` documents
    (the df cap bounds every join bucket, so no hot key can go quadratic),
    generate same-fingerprint pairs within each bucket, and keep pairs
    sharing at least
    ``min_shared`` fingerprints with containment
    shared / min(|fps_a|, |fps_b|) >= ``min_containment`` — containment is
    measured against the *post-cap* fingerprint sets, so ubiquitous grams
    neither create nor dilute matches. Only (8-byte fp, id) postings ever
    shuffle; full text never leaves its input partition.

    Plan shape (chosen for 100 TB, measured 2.5× at sf0.1 vs the naive
    groupBy/join chain):

    * the df cap is applied as an ANTI-join against the OVERFLOW list
      (fps with dfreq > max_df), broadcast when the list is measured small
      (≤ ``_MAX_BROADCAST_OVERFLOW_FPS``; typical — boilerplate fps are
      usually rare) and shuffled otherwise (template-heavy corpora or tiny
      max_df can make the overflow set data-sized; forcing a broadcast
      there would OOM the driver). Either way every posting is capped
      *before* the expensive fp shuffle, the hot keys never travel, and
      the pair buckets are bounded at shuffle time (no AQE skew-split
      needed). The count itself is a map-side-combined groupBy, immune to
      fp skew.
    * per-doc fingerprint sizes join onto the SMALL aggregated pair set,
      not the wide posting stream — nfps never rides the candidate
      stream (the widest stage carries exactly (fp, id_a, id_b)).
    * candidates come from ONE exchange of the capped posting list
      (groupBy fp + in-bucket combination), not a posting self-join that
      ships the list once per side (see the inline comment).
    """
    # Materialization barrier (same as the MinHash signature path), placed
    # BEFORE the explode: Catalyst inlines a projected array expression into
    # Generate, where the deep zip_with tree leaves codegen and re-evaluates
    # interpreted per row (measured 27 s vs 0.9 s for the identical
    # computation at sf0.1) — and the postings then feed four DAG branches
    # (df-cap, sizes, both join sides), multiplying it. Cached (id, fps)
    # rows are a tiny fraction of corpus size even at 100 TB.
    if fps_df is not None:
        fp = fps_df
    else:
        fp = persist_tracked(
            winnow_fingerprints_df(df, id_col, text_col)
        )
    e = fp.select("id", F.explode("fps").alias("fp"))
    overflow = persist_tracked(
        e.groupBy("fp")
        .agg(F.count("*").alias("dfreq"))
        .filter(F.col("dfreq") > max_df)
        .select("fp")
    )
    # "Boilerplate fps are rare" is an expectation, not an invariant: a
    # template-heavy corpus or a tiny max_df can make the overflow set
    # data-sized, and a FORCED broadcast of an unbounded set is a driver
    # OOM. Count it (also materializes the persist so the anti-join reads
    # the cache instead of re-aggregating) and only hint broadcast when it
    # is provably small; otherwise fall back to a shuffled anti-join.
    n_overflow = overflow.count()
    if n_overflow <= _MAX_BROADCAST_OVERFLOW_FPS:
        e = e.join(F.broadcast(overflow), "fp", "left_anti")
    else:
        e = e.join(overflow, "fp", "left_anti")
    sz = e.groupBy("id").agg(F.count("*").alias("n_fps"))
    # Self-join via two ALIASES of the one posting plan, not two renamed
    # Projects: a shuffle census measured the old
    # e.select(id_a).join(e.select(id_b)) form shipping the full posting
    # list TWICE (2x10.2 MiB of the curation funnel's 24.4 MiB at sf0.1)
    # because the pre-exchange rename made the two sides canonically
    # different plans, so ReuseExchange could not fire. With both sides
    # the byte-identical (id, fp) projection, Catalyst plans ONE exchange
    # and a ReusedExchange for the other side — postings ship once.
    # (A collect_list bucket-combination form was A/B'd and REJECTED:
    # per-fp array state serialized ~1.5x LARGER than the duplicate
    # exchange it saved on this fp-cardinality profile — most buckets
    # hold 1-2 postings, so array headers dominate.)
    ea, eb = e.alias("wnp_a"), e.alias("wnp_b")
    pairs = (
        ea.join(
            eb,
            [
                F.col("wnp_a.fp") == F.col("wnp_b.fp"),
                F.col("wnp_a.id") < F.col("wnp_b.id"),
            ],
        )
        .select(
            F.col("wnp_a.id").alias("id_a"), F.col("wnp_b.id").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    containment = F.col("shared_fps").cast("double") / F.least(
        "nfps_a", "nfps_b"
    )
    return (
        pairs.join(
            sz.select(F.col("id").alias("id_a"), F.col("n_fps").alias("nfps_a")),
            "id_a",
        )
        .join(
            sz.select(F.col("id").alias("id_b"), F.col("n_fps").alias("nfps_b")),
            "id_b",
        )
        .filter(containment >= min_containment)  # pre-rounding, like the oracle
        .select(
            "id_a",
            "id_b",
            F.col("shared_fps").cast("int").alias("shared_fps"),
            F.round(containment, 6).alias("containment"),
        )
    )


def _cc_union_find_partition(edge_batches):
    """Single-partition union-find over an edge iterator (u, v columns).
    Union-by-minimum with path compression: the root of every set is its
    minimum member, so root IS the component label. Runs inside one task
    via mapInPandas; state accumulates across Arrow batches (the iterator
    is per-partition)."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for pdf in edge_batches:
        for u, v in zip(pdf["u"].values, pdf["v"].values):
            u, v = int(u), int(v)
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru  # min root wins → root is the component min
    ids = sorted(parent)
    yield pd.DataFrame(
        {"id": pd.Series(ids, dtype="int64"),
         "component": pd.Series([find(i) for i in ids], dtype="int64")}
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """(id, component) for every vertex appearing in ``edges``, where
    component = the minimum vertex id reachable from it — the clustering
    step that turns near-dup PAIRS into dedup GROUPS (keep one doc per
    component, drop the rest).

    Adaptive strategy (the AQE broadcast principle applied to graphs):
    the near-dup edge list is PAIRS, orders of magnitude smaller than the
    corpus that produced it, so it very often fits one task even when the
    corpus is 100 TB. When ``edges`` has at most ``small_graph_edges``
    rows (~32 MB at 16 bytes/edge), a single-task union-find solves the
    whole graph in one pass — exact, no iteration. Larger graphs take the
    distributed path: iterative min-label propagation — every vertex
    starts labeled with its own id; each round replaces a label with the
    minimum label in its closed neighborhood; convergence when a round
    changes nothing. Rounds are bounded by graph diameter (near-dup
    graphs are shallow — dup cliques and short chains), each round is one
    shuffle-by-vertex aggregation over the edge list, and the eager
    checkpoint keeps lineage flat (at cluster scale, checkpoint to HDFS
    every ~10 rounds instead). If ``max_iter + 1`` rounds pass with labels
    still moving, this RAISES rather than return unconverged (wrong)
    labels — a chain longer than max_iter hops needs a larger bound (the
    +1 round exists because a fixpoint reached exactly at round max_iter
    is only observable as a subsequent round that changes nothing).
    The min-reachable-label semantics are engine-checkable: DuckDB
    computes the same fixpoint with a recursive CTE
    (dedup_cluster_winnow oracle), and both paths are differential-tested
    against each other (tests/test_dedup.py).
    """
    # Both directions via ONE explode over the edge stream, not
    # union(edges, reversed(edges)): a union reads `edges` through two
    # plan branches, and when the caller hands a LAZY pair-mining plan
    # (every dedup query does) the whole miner executes twice — a
    # shuffle census caught the curation funnel paying its candidate
    # aggregate exchange 2x10.2 MiB because of exactly this (ReuseExchange
    # does not fire across the differently-projected union branches).
    both = persist_tracked(
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
                    ),
                    F.struct(
                        F.col(dst_col).alias("u"), F.col(src_col).alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )
    # the count also materializes the persist, so downstream consumers
    # (either path) read the edge cache instead of re-mining pairs.
    # `both` holds BOTH directions of every input pair, so compare against
    # 2× the threshold: small_graph_edges is denominated in input pairs
    # (~32 MB of directed edges at 16 bytes each for the default 2M).
    if both.count() <= 2 * small_graph_edges:
        return both.coalesce(1).mapInPandas(
            _cc_union_find_partition, schema="id bigint, component bigint"
        )
    # Eager localCheckpoint, not persist: each round references the
    # previous frontier in TWO branches, so with persist the LOGICAL plan
    # tree doubles per round — execution still hits the caches, but
    # analysis/canonicalization goes exponential in round count (measured:
    # 1.7 s → 2.9 s → 7.2 s → hang on the winnow pair graph at sf0.1).
    # Checkpointing truncates lineage to a leaf per round, keeping every
    # plan constant-size. On a cluster use checkpoint() to HDFS instead of
    # the executor-local variant for fault tolerance.
    # Checkpoint blocks are tracked (caching.local_checkpoint_tracked) and
    # the superseded round's leaf is released as soon as the next round's
    # checkpoint materializes, so in-flight state is bounded at TWO leaves
    # regardless of round count; the final leaf is released at the next
    # query boundary after the caller collects.
    spark = edges.sparkSession
    labels, live_ids = local_checkpoint_tracked(
        both.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    # max_iter + 1 rounds: convergence is only observable as a round that
    # changes nothing, so a graph whose labels settle exactly at round
    # max_iter needs one extra (no-op) round to prove it. The +1 round is
    # pure change detection when the fixpoint was already reached; we raise
    # only if labels are STILL moving after it.
    changed = True
    for _ in range(max_iter + 1):
        # label each vertex with min(own label, neighbors' labels)
        neigh = (
            both.join(labels, both.v == labels.id)
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        updated, new_ids = local_checkpoint_tracked(
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
                (F.coalesce("nlbl", "lbl") < F.col("lbl")).alias("chg"),
            )
        )
        # the eager checkpoint above materialized `updated`, so the
        # previous round's leaf has no remaining consumer — free it now
        release_rdd_ids(spark, live_ids)
        live_ids = new_ids
        changed = updated.agg(F.max(F.col("chg").cast("int"))).first()[0]
        labels = updated.select("id", "lbl")
        if not changed:
            break
    # the final labels are backed by their own localCheckpoint leaf, so the
    # edge cache has no remaining consumer — release it here (on the error
    # path too: a caller that catches and retries with a larger max_iter
    # would otherwise pin a second edge cache next to the first) rather
    # than leaving it to accumulate across a multi-query session (the
    # small-graph path above returns a plan that still reads `both`
    # lazily, so it relies on the caller-side release at the next query
    # boundary instead)
    both.unpersist()
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "the graph has a path longer than max_iter hops — raise "
            "max_iter (rounds are bounded by graph diameter)"
        )
    return labels.select("id", F.col("lbl").alias("component"))
