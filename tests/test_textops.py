"""Unit pins for textops helpers that the sf fixtures cannot exercise."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from clinical_bi_spark.queries.textops import _adjacent_bigrams

_WORDS_SCHEMA = T.StructType(
    [T.StructField("words", T.ArrayType(T.StringType()), False)]
)


def test_adjacent_bigrams_zero_token_doc(spark):
    """ADVICE r8 (medium): slice(words, 1, size-1) threw
    INVALID_PARAMETER_VALUE.LENGTH for a zero-token document (length -1),
    crashing the whole query while the DuckDB oracle returned empty. The
    greatest(size-1, 0) clamp must make empty/one-token docs contribute
    zero bigrams and leave multi-token docs untouched."""
    df = spark.createDataFrame(
        [([],), (["solo"],), (["a", "b", "c"],)], _WORDS_SCHEMA
    )
    rows = sorted(
        (r.w1, r.w2) for r in _adjacent_bigrams(df).collect()
    )
    assert rows == [("a", "b"), ("b", "c")]


def test_ngram_jaccard_zero_token_docs(spark, tmp_path):
    """r9 family-wide sweep of the PMI zero-token lesson: two empty
    documents in one source block would give Jaccard 0/0 — ANSI Spark
    crashed where DuckDB's double division would not. Both zero-token
    docs must now be excluded from the pair space, and real pairs must
    still emerge."""
    from clinical_bi_spark.queries import load_all

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "s1", 16),
            (2, "alpha beta gamma", "en", "s1", 16),
            (3, "", "en", "s1", 0),
            (4, "   ", "en", "s1", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = load_all()["dedup_ngram_jaccard"].fn(spark, str(tmp_path)).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_curation_avg_div_exact_past_2_53(spark):
    """r11 verdict Next #5: the curation rollup's average switched from
    the ``_exact_div`` double trick to true bigint ``div`` in r10's
    advice fix because an AGGREGATE numerator (2*SUM(qmicro)+n) can pass
    2^53, where (a - a%b)/b silently loses exactness on the Spark side
    while the DuckDB HUGEINT twin stays exact. Pin that bound with a
    synthetic group ABOVE 2^53: the registered ``div`` form must equal
    Python integer arithmetic, and the retired double-trick form must
    demonstrably diverge on the same input (the test has teeth)."""
    from pyspark.sql import functions as F

    # Adversarial construction (generic >2^53 operands often round back
    # to the exact quotient; the guarantee is what ends at 2^53, so pin
    # a case that provably breaks): quotient q = 2^53 + 1 sits OFF the
    # double grid (spacing 2 past 2^53), and the numerator's low bits
    # (12 mod 16 at ulp 16) force the m -> fl(m) rounding upward, so the
    # double path must land on 2^53 + 2 while bigint div returns q.
    n_docs = 6
    qsum = 6 * ((1 << 53) + 1) - 3
    numer = 2 * qsum + n_docs
    denom = 2 * n_docs
    expected = numer // denom  # exactly 2^53 + 1
    assert expected == (1 << 53) + 1 and numer % denom == 0

    df = spark.createDataFrame(
        [(qsum, n_docs)], "`__qsum` bigint, n_docs bigint"
    )
    got = df.select(
        F.expr(
            "(2 * `__qsum` + cast(n_docs as bigint)) div "
            "(2 * cast(n_docs as bigint))"
        ).alias("q")
    ).collect()[0].q
    assert got == expected

    # the retired form: remainder-strip then double division — m = 12q
    # ~ 2^56.6 rounds UP by 4 when represented (12 mod 16 residue), and
    # q + 1/3 then correctly-rounds to the next grid point 2^53 + 2
    a, b = F.lit(numer).cast("bigint"), F.lit(denom).cast("bigint")
    old = df.select(
        ((a - a % b) / b).cast("bigint").alias("q")
    ).collect()[0].q
    assert old == (1 << 53) + 2, (
        "double-trick divergence shape changed; re-derive the pin "
        f"(got {old}, expected off-grid rounding to 2^53+2)"
    )


# ---------------------------------------------------------------------------
# text_bpe_train_encode — registered r15 (corpus-trained BPE; see the
# parking comment in queries/textops.py). The reference implementation here
# is canonical Sennrich-style BPE: count adjacent symbol pairs weighted by
# word frequency, merge the (count DESC, pair ASC) argmax greedily leftmost.
# ---------------------------------------------------------------------------

import re as _re


def _ref_bpe_counts(texts, n_merges):
    """Pure-Python canonical BPE train+encode → {doc_id: (n_words, n_bpe)}."""
    docs = {
        i: [w for w in _re.split(r"[^a-z]+", t.lower()) if w and len(w) <= 20]
        for i, t in enumerate(texts)
    }
    freq: dict = {}
    for ws in docs.values():
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
    reprs = {w: tuple(w) + ("_",) for w in freq}
    for _ in range(n_merges):
        counts: dict = {}
        for w, syms in reprs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq[w]
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        px, py = best
        out = {}
        for w, syms in reprs.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == px and syms[i + 1] == py:
                    merged.append(px + py)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            out[w] = tuple(merged)
        reprs = out
    return {
        i: (len(ws), sum(len(reprs[w]) for w in ws))
        for i, ws in docs.items()
        if ws
    }


def _run_bpe(spark, tmp_path, texts):
    from clinical_bi_spark.queries.textops import text_bpe_train_encode

    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in text_bpe_train_encode(spark, str(tmp_path)).collect()
    }


def test_bpe_matches_oracle(spark, oracle_con):
    from clinical_bi_spark.queries.textops import (
        _BPE_ORACLE,
        text_bpe_train_encode,
    )
    from tests.conftest import SF_ORACLE, assert_matches_oracle

    df = text_bpe_train_encode(spark, SF_ORACLE)
    assert_matches_oracle(df, oracle_con, _BPE_ORACLE, name="text_bpe_train_encode")
    # training must actually compress: the corpus encodes to fewer
    # subwords than its unmerged symbol count (chars + end markers)
    rows = df.collect()
    unmerged = {
        d: s
        for d, s in oracle_con.execute(
            """SELECT doc_id, SUM(length(word) + 1) FROM (
                 SELECT doc_id, unnest(string_split_regex(lower(text),
                        '[^a-z]+')) AS word FROM documents) t
               WHERE word <> '' AND length(word) <= 20 GROUP BY 1"""
        ).fetchall()
    }
    assert sum(r.n_bpe_tokens for r in rows) < sum(unmerged.values())
    assert all(r.n_bpe_tokens < unmerged[r.doc_id] for r in rows if r.n_words > 3)


def test_bpe_matches_reference_implementation(spark, tmp_path):
    """Engine output == canonical Python BPE on a corpus built to hit the
    sharp edges: the shared-delimiter run ('aaaa', where a naive
    space-framed replace provably diverges from greedy-leftmost), a
    multi-char-symbol false-match bait, tie-broken pairs, punctuation
    splits, and an over-length word that must be excluded."""
    from clinical_bi_spark.queries.textops import _BPE_MERGES

    texts = [
        "aaaa aaaa aa baab",            # overlapping runs + 'ba a b' shapes
        "low lower lowest low low",     # classic BPE fixture
        "the the the of of to x",       # high-freq short words, tie bait
        "Zebra-Quokka!! mixed CASE??",  # punctuation + case folding
        "supercalifragilisticexpialidocious tiny",  # >20 chars: excluded
        "q",                            # single-char word
    ]
    got = _run_bpe(spark, tmp_path, texts)
    ref = _ref_bpe_counts(texts, _BPE_MERGES)
    assert got == ref


def test_bpe_pair_exhaustion_is_noop(spark, tmp_path):
    """A corpus whose pair space exhausts before the merge budget: both
    the Spark early-break and the oracle's '|~|' sentinel rounds must
    degenerate to no-ops and still agree with the reference."""
    import duckdb

    from clinical_bi_spark.queries.textops import _BPE_MERGES, _BPE_ORACLE

    texts = ["a a a", "a"]
    got = _run_bpe(spark, tmp_path, texts)
    ref = _ref_bpe_counts(texts, _BPE_MERGES)
    assert got == ref
    # "a_" fully merges to ONE symbol after 1 round; rounds 2..K no-op
    assert got[0] == (3, 3) and got[1] == (1, 1)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    duck = {
        d: (w, n) for d, w, n in con.execute(_BPE_ORACLE).fetchall()
    }
    assert duck == ref
    con.close()


def test_bpe_unicode_corpus_cross_engine(spark, tmp_path):
    """The r15 unicode-probe contract, pinned early: on a corpus drawn
    from the unicode probe's word pool (casing traps ΣΙΓΜΑ/STRASSE,
    combining marks, CJK, RTL, full-width forms) the [a-z]+ alphabet
    filter must leave both engines with the SAME word multiset, so the
    whole BPE pipeline stays hash-identical — the specific risk is
    lower() mappings that land INSIDE [a-z] on one engine only."""
    import duckdb

    from clinical_bi_spark.queries.textops import (
        _BPE_MERGES,
        _BPE_ORACLE,
        text_bpe_train_encode,
    )

    pool = [
        "café", "naïve", "Müller", "STRASSE", "straße", "Привет", "мир",
        "数据", "分析", "東京", "🚀", "héllo🌍", "a b", "éclair",
        "שלום", "مرحبا", "１２３", "Ｓｐａｒｋ", "ΣΙΓΜΑ", "σίγμα",
        "KKelvin",  # KELVIN SIGN: lower() -> 'k' on BOTH engines
        "İstanbul",      # dotted capital I: full lowering engages
    ]
    texts = [
        " ".join(pool[i % len(pool)] for i in range(j, j + 9))
        for j in range(8)
    ]
    got = _run_bpe(spark, tmp_path, texts)
    ref = _ref_bpe_counts(texts, _BPE_MERGES)
    # the Python reference uses str.lower(); assert Spark agrees with it
    assert got == ref
    # and DuckDB's lower()/regex path lands on the identical output
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    duck = {d: (w, n) for d, w, n in con.execute(_BPE_ORACLE).fetchall()}
    con.close()
    assert duck == got


def test_bpe_random_small_alphabet_property(spark, tmp_path_factory):
    """Hypothesis form of the hand corpora: random texts over a 3-letter
    alphabet maximize merge collisions, tie-breaks, pair-exhausted
    rounds, and the shared-delimiter runs ('a a a a') where naive
    space-framed BPE provably diverges — the query must match the
    canonical Python reference on every draw."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abc", min_size=1, max_size=5)
    text = st.lists(word, min_size=1, max_size=12).map(" ".join)

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(text, min_size=1, max_size=6))
    def run(texts):
        from clinical_bi_spark.queries.textops import _BPE_MERGES

        tmp_path = tmp_path_factory.mktemp("bpe_prop")
        got = _run_bpe(spark, tmp_path, texts)
        assert got == _ref_bpe_counts(texts, _BPE_MERGES)

    run()
