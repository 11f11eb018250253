"""Text-analysis expressions for the training-data-pipeline extensions.

The reference's only text ops are substring classifiers and ``lower()``
(SURVEY.md §2.6 F2-F4); these extend that surface with the text-quality
operators a large-scale LLM-data pipeline needs (north star in
BASELINE.json). Everything is a pure Catalyst expression — array/lambda
higher-order functions, no Python UDFs — so the hot path stays JVM-side
and 100 TB of documents shard trivially (no shuffle for any per-document
column; these are all narrow transformations).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small, fixed stopword lists (per-language) for the heuristic language
#: guesser and quality scorer. Deliberately tiny and deterministic.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "im"),
}


def word_tokens(col: Column) -> Column:
    """Whitespace tokenization with empty tokens dropped.

    ``split`` on ``\\s+`` leaves a leading empty string when the input
    starts with whitespace — filter it so token counts are stable.
    """
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    """Whitespace token count (BPE-ish proxy: see ``subword_count``).

    ``regexp_count(\\S+)`` ≡ count of non-empty whitespace-split tokens
    (each maximal non-space run is exactly one match) but stays a native
    codegen'd expression — no array materialization, no interpreted
    lambda per token (the HOF lesson, measured ~3× on the
    text_stats headline once the bench stopped pruning projections)."""
    return F.regexp_count(col, F.lit(r"\S+")).cast("int")


def subword_count(col: Column) -> Column:
    """BPE-ish token estimate: alphanumeric runs + standalone punctuation.

    A cheap deterministic stand-in for a real tokenizer: counts maximal
    ``[A-Za-z0-9]+`` runs plus each non-space non-alnum character, which
    tracks byte-pair-encoding counts within ~15% on English text.
    """
    words = F.regexp_count(col, F.lit(r"[A-Za-z0-9]+"))
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return (words + punct).cast("int")


#: one millionth — the engine-exact fixed-point grain of every text ratio
_MICRO = 1_000_000


def _exact_div(a: Column, b: Column) -> Column:
    """Exact integer ``a DIV b`` for non-negative bigints: strip the
    remainder first, so the double division is of an exact multiple and
    is correctly rounded to the (representable) integer quotient. Exact
    for operands below 2^53 — the callers' micro-scaled counts top out
    around 4e15 only past ~2e9-character documents."""
    a = a.cast("bigint")
    b = b.cast("bigint")
    return ((a - a % b) / b).cast("bigint")


def _half_up_micro(numer: Column, denom: Column) -> Column:
    """ROUND-half-up of ``numer/denom`` at 6 decimals as an exact bigint
    micro count — the integer twin of ``ROUND(x, 6)``. A unicode
    differential sweep caught Spark's BigDecimal HALF_UP and DuckDB's
    ``std::round(x*1e6)`` disagreeing by one micro on exact .5e-6
    boundaries (latent on the ASCII fixture, where punctuation counts
    are zero); integers cannot disagree."""
    two = F.lit(2).cast("bigint")
    n = numer.cast("bigint") * F.lit(_MICRO).cast("bigint")
    return _exact_div(two * n + denom.cast("bigint"), two * denom.cast("bigint"))


def _micro_to_double(micro: Column) -> Column:
    """micro/1e6 as double — both engines divide the same exact integer
    by the same constant, so the IEEE quotients are identical."""
    return (micro.cast("double") / F.lit(1_000_000.0)).cast("double")


def _bind(cols: dict[str, Column], body) -> Column:
    """Let-binding for scalar expressions: evaluate each of ``cols`` ONCE
    per row, then apply ``body`` to the bound values.

    Why it exists (a stream_corpus_curation regression): the exact
    micro-unit arithmetic duplicates its operands structurally —
    ``_exact_div(a, b)`` mentions ``a`` twice and ``b`` twice, and
    ``_half_up_micro`` nests it, so a ratio whose numerator is a
    regexp_count re-scans the document 2–4× per reference. Projections
    get common-subexpression elimination in whole-stage codegen, but
    FILTER conditions do not — the streaming curation gate (which cannot
    hide behind a persist barrier the way the batch funnel does) was
    paying ~25 full-text regex scans per row. Binding the counts through
    ``transform(array(struct(...)), r -> body)`` evaluates each scan
    exactly once; everything duplicated afterwards is bigint arithmetic
    on the bound fields. Stays Catalyst-native (no Python UDF), and the
    optimizer has no rule that re-inlines a lambda application, so the
    sharing survives every rewrite including predicate pushdown.

    Use it in FILTER context only. In a projection the lambda is a
    codegen boundary that BLOCKS the cross-column subexpression
    elimination projections already get, measured ~1.1x slower on
    text_stats — so the projection-only ratio helpers below
    stay unbound on purpose.
    """
    names = list(cols)
    packed = F.struct(*[cols[n].alias(n) for n in names])
    return F.element_at(
        F.transform(F.array(packed), lambda r: body(**{n: r[n] for n in names})),
        1,
    )


def _punct_chars(col: Column) -> Column:
    # count of code points outside [A-Za-z0-9\s] — value-identical to the
    # old length(regexp_replace(col, '[A-Za-z0-9\s]', '')) (Java regex
    # classes match one code point; length() counts code points) but a
    # single non-allocating scan instead of building a stripped copy.
    return F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]"))


def _nonws_chars(col: Column) -> Column:
    # count of non-whitespace code points — value-identical to the old
    # length(regexp_replace(col, '\s+', '')) (each removed char is one
    # \s match) without building the stripped copy.
    return F.length(col) - F.regexp_count(col, F.lit(r"\s"))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are neither alphanumeric nor
    whitespace, at exact micro grain (see ``_half_up_micro``).

    Deliberately UNBOUND (no ``_bind``): every caller is a projection,
    where whole-stage codegen's subexpression elimination already shares
    the duplicated count subtrees — both within this expression and
    ACROSS sibling output columns (e.g. a projected ``token_count``
    next to it). A lambda boundary would block that cross-column
    sharing; an A/B measured the bound form ~1.1x slower on
    text_stats. Filter-context callers go through the bound
    ``quality_score_micro`` / ``curation_keep`` instead."""
    micro = _half_up_micro(_punct_chars(col), F.greatest(F.length(col), F.lit(1)))
    return _micro_to_double(micro)


def _stopword_hits(lowered: Column, stopwords: tuple[str, ...]) -> Column:
    """Count of whitespace-delimited tokens equal to a stopword, as one
    native regexp_count: the lookarounds pin both token boundaries, so a
    match is exactly a full-token equality (identical to filtering the
    split array, without building it)."""
    pat = r"(?<![^\s])(?:" + "|".join(stopwords) + r")(?![^\s])"
    return F.regexp_count(lowered, F.lit(pat))


def _stopword_micro(col: Column) -> Column:
    # UNBOUND on purpose — projection-only callers, see punct_ratio.
    # Denominator: token_count(col), not token_count(lower(col)) — the
    # values are identical (no lowercase mapping turns whitespace into
    # non-whitespace or vice versa, so the \S+ run count is unchanged by
    # lower()), and the unlowered tree is shareable (codegen CSE) with
    # sibling projected columns; the hit count still scans lowered text.
    hits = _stopword_hits(F.lower(col), STOPWORDS["en"])
    return _half_up_micro(hits, F.greatest(token_count(col), F.lit(1)))


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are English stopwords (lowercased match),
    at exact micro grain (see ``_half_up_micro``)."""
    return _micro_to_double(_stopword_micro(col))


def _mean_token_length_micro(col: Column) -> Column:
    # sum of token lengths == count of non-whitespace characters.
    # UNBOUND on purpose — projection-only callers, see punct_ratio.
    return _half_up_micro(_nonws_chars(col), F.greatest(token_count(col), F.lit(1)))


def mean_token_length(col: Column) -> Column:
    """Mean whitespace-token length, at exact micro grain."""
    return _micro_to_double(_mean_token_length_micro(col))


def quality_score(col: Column) -> Column:
    """Deterministic document-quality heuristic in [0, 1].

    Combines length adequacy, stopword presence, punctuation sanity, and
    mean token length — the standard cheap pre-filters an LLM data
    pipeline applies before expensive dedup/scoring stages.

    All arithmetic is exact bigint micro-units end to end (the
    unicode sweep's lesson: the old double form hit .5e-6 rounding
    boundaries where the engines' round() implementations disagree —
    only observable once punctuation counts were nonzero). Each term is
    an exact micro int; the final average rounds half-up in integer
    space ((sum + 2) DIV 4), so the score is the same micro integer in
    any engine.
    """
    return _micro_to_double(quality_score_micro(col))


def _quality_micro_body(
    toks: Column, hits: Column, punct: Column, nonws: Column, chars: Column
) -> Column:
    """The quality arithmetic over already-bound per-document counts
    (whitespace tokens, en-stopword hits, punctuation chars, non-ws
    chars, total chars). Pure bigint ops — the structural duplication
    inside ``_exact_div``/``_half_up_micro`` is free here because every
    operand is a bound field, not a regex scan."""
    micro = F.lit(_MICRO).cast("bigint")
    n_tokens = toks.cast("bigint")
    # n/64 saturating at 1: 1e6/64 = 15625 exactly
    length_ok = F.least(n_tokens * F.lit(15625).cast("bigint"), micro)
    # stopword ratio / 0.05 = micro * 20, saturating
    sw_micro = _half_up_micro(hits, F.greatest(n_tokens, F.lit(1).cast("bigint")))
    sw_ok = F.least(sw_micro * F.lit(20).cast("bigint"), micro)
    # punct ratio / 0.3 = micro * 10/3, half-up, saturating; then 1 - x
    p = _exact_div(
        F.lit(20).cast("bigint")
        * _half_up_micro(punct, F.greatest(chars, F.lit(1)))
        + F.lit(3).cast("bigint"),
        F.lit(6).cast("bigint"),
    )
    punct_ok = micro - F.least(p, micro)
    mtl = _half_up_micro(nonws, F.greatest(n_tokens, F.lit(1).cast("bigint")))
    mtl_ok = F.when(
        (mtl >= F.lit(2 * _MICRO)) & (mtl <= F.lit(12 * _MICRO)), micro
    ).otherwise(F.lit(0).cast("bigint"))
    total = length_ok + sw_ok + punct_ok + mtl_ok
    return _exact_div(total + F.lit(2).cast("bigint"), F.lit(4).cast("bigint"))


def _quality_counts(col: Column) -> dict[str, Column]:
    """The five text scans quality needs — each appears exactly once."""
    return {
        "toks": token_count(col),
        "hits": _stopword_hits(F.lower(col), STOPWORDS["en"]),
        "punct": _punct_chars(col),
        "nonws": _nonws_chars(col),
        "chars": F.length(col),
    }


def quality_score_micro(col: Column) -> Column:
    """``quality_score`` as its exact bigint micro count (quality × 1e6)
    — for callers that aggregate or threshold the score and need integer
    arithmetic all the way (the curation funnel's average; a >= 0.85
    gate is exactly ``micro >= 850000``). The five text scans are
    let-bound (``_bind``) so each runs once per row even in a filter."""
    return _bind(_quality_counts(col), _quality_micro_body)


def language_guess(col: Column) -> Column:
    """Stopword-vote language ID (n-gram-free heuristic).

    Scores each candidate language by its stopword hit-count over the
    lowercased tokens; the winner needs at least 2 hits, else 'unknown'.
    Ties break by the fixed language order en > es > fr > de
    (deterministic; mirrors a first-wins CASE chain). The four hit
    counts are let-bound so each scans the text once — the CASE chain's
    repeated ``greatest``/equality references cost integer ops only.
    """
    def body(h_en: Column, h_es: Column, h_fr: Column, h_de: Column) -> Column:
        hits = {"en": h_en, "es": h_es, "fr": h_fr, "de": h_de}
        best = F.greatest(*hits.values())
        chain = F.when(best < F.lit(2), F.lit("unknown"))
        for lang in ("en", "es", "fr", "de"):
            chain = chain.when(hits[lang] == best, F.lit(lang))
        return chain.otherwise(F.lit("unknown"))

    # nested bind: the lowercased copy is materialized once, then the
    # four hit counts each scan that one copy once
    return _bind(
        {"low": F.lower(col)},
        lambda low: _bind(
            {f"h_{lang}": _stopword_hits(low, sw) for lang, sw in STOPWORDS.items()},
            body,
        ),
    )


def curation_keep(col: Column) -> Column:
    """The corpus-curation ingest gate as ONE fused boolean:
    ``quality_score_micro(col) >= 850000 AND language_guess(col) = 'en'``
    with all eight text scans (five quality counts, of which the en-hit
    and the token/punct/char counts are shared with the language vote,
    plus the es/fr/de hit counts) let-bound in a single ``_bind``.

    Exists for the STREAMING funnel: the batch funnel computes qmicro and
    glang once behind a DISK_ONLY persist, but a streaming plan cannot
    persist, and a filter gets no codegen subexpression elimination — the
    unfused gate re-ran ~25 regex scans per document (a
    ``stream_corpus_curation`` 2.4 s → 6.4 s bench regression, bisected
    to the exact-micro rework).

    Equivalence to the unfused gate: ``language_guess = 'en'`` iff the
    vote is decisive (``best >= 2``) and en holds the max (ties break
    toward en, first in the CASE chain) — i.e. ``h_en == best``.
    NULL text yields NULL, which a filter drops, exactly as before.
    """
    def body(
        toks: Column,
        hits: Column,
        punct: Column,
        nonws: Column,
        chars: Column,
        h_es: Column,
        h_fr: Column,
        h_de: Column,
    ) -> Column:
        qm = _quality_micro_body(toks, hits, punct, nonws, chars)
        best = F.greatest(hits, h_es, h_fr, h_de)
        is_en = (best >= F.lit(2)) & (hits == best)
        return (qm >= F.lit(850_000).cast("bigint")) & is_en

    def with_lowered(low: Column) -> Column:
        binds = {
            "toks": token_count(col),
            "hits": _stopword_hits(low, STOPWORDS["en"]),
            "punct": _punct_chars(col),
            "nonws": _nonws_chars(col),
            "chars": F.length(col),
        }
        binds.update(
            {
                f"h_{lang}": _stopword_hits(low, sw)
                for lang, sw in STOPWORDS.items()
                if lang != "en"
            }
        )
        return _bind(binds, body)

    # nested bind: one lowercase pass shared by all four hit counts
    return _bind({"low": F.lower(col)}, with_lowered)


def normalized_text(col: Column) -> Column:
    """Canonical form used for fingerprinting: lowercase, collapsed spaces."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def doc_fingerprint(col: Column) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text.

    md5 is available in both Spark and DuckDB, making this oracle-checkable;
    at scale it doubles as the exact-dedup grouping key (hash-groupBy
    shuffles 16-byte keys instead of full documents).
    """
    return F.md5(normalized_text(col))
