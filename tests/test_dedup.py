"""Quality checks for the approximate dedup family (no SQL oracle by
construction — verified against planted duplicates and the exact Jaccard
baseline instead)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_bi_spark.operators.dedup import (
    minhash_lsh_candidates,
    simhash_neardup_pairs,
)

BASE_DOCS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark executes declarative plans with catalyst and tungsten at scale",
    "large corpora require deduplication before language model training runs",
    "completely unrelated text about cooking pasta with garlic and olive oil",
    "stream processing with watermarks handles late arriving events correctly",
]


@pytest.fixture(scope="module")
def planted(spark):
    """Docs with planted near-duplicates: each base doc gets a twin with one
    word changed (high Jaccard) and the corpus has unrelated docs too."""
    rows = []
    doc_id = 0
    for text in BASE_DOCS:
        rows.append((doc_id, text)); doc_id += 1
        words = text.split()
        words[3] = "MUTATED"
        rows.append((doc_id, " ".join(words))); doc_id += 1  # near-dup of prev
    rows.append((doc_id, BASE_DOCS[0])); doc_id += 1  # exact dup of doc 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_pairs(planted):
    cand = minhash_lsh_candidates(
        planted, num_perm=64, bands=16, shingle_n=1
    ).collect()
    found = {(r.id_a, r.id_b) for r in cand}
    planted_pairs = {(2 * i, 2 * i + 1) for i in range(len(BASE_DOCS))}
    recall = len(found & planted_pairs) / len(planted_pairs)
    assert recall >= 0.8, f"minhash recall {recall} over planted near-dups; found={found}"
    assert (0, 10) in found, "exact dup must always collide"
    # est_jaccard of the exact dup pair is 1.0 by construction
    exact = [r for r in cand if (r.id_a, r.id_b) == (0, 10)]
    assert exact and exact[0].est_jaccard == 1.0


def test_minhash_no_false_positives_across_unrelated(planted):
    cand = minhash_lsh_candidates(planted, num_perm=64, bands=8, shingle_n=1)
    # unrelated base docs (even ids from different bases) shouldn't pair up
    bad = cand.filter(
        (F.col("id_a") % 2 == 0) & (F.col("id_b") % 2 == 0) & (F.col("id_b") != 10)
    ).count()
    assert bad == 0


def test_simhash_hamming_separates(planted):
    pairs = simhash_neardup_pairs(planted, max_hamming=16).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found.get((0, 10)) == 0, "exact dup ⇒ identical simhash"
    planted_pairs = {(2 * i, 2 * i + 1) for i in range(len(BASE_DOCS))}
    hits = sum(1 for p in planted_pairs if p in found)
    assert hits >= 4, f"simhash should catch most one-word mutations: {found}"


def test_minhash_estimate_tracks_exact_jaccard(planted):
    """The signature agreement is an unbiased Jaccard estimate: for the
    planted twins (true J ≈ 0.85-0.95 on word sets) the estimate must land
    in a loose band around truth."""
    cand = minhash_lsh_candidates(planted, num_perm=64, bands=16, shingle_n=1)
    ests = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in cand.collect()
        if (r.id_a, r.id_b) != (0, 10)
    }
    for pair, est in ests.items():
        if pair[1] - pair[0] == 1 and pair[0] % 2 == 0:
            assert 0.5 <= est <= 1.0, f"{pair}: est {est} out of band"


def test_simhash_relational_equals_column_form(spark, planted):
    from clinical_bi_spark.operators.dedup import simhash64, simhash64_df

    col_form = {
        r.doc_id: r.sh
        for r in planted.select(
            "doc_id", simhash64(F.col("text")).alias("sh")
        ).collect()
    }
    rel_form = {r.id: r.sh for r in simhash64_df(planted).collect()}
    assert col_form == rel_form


def test_simhash_blocked_equals_allpairs(planted):
    """Fingerprint-segment blocking is pigeonhole-EXACT: on an unblocked
    corpus it must return precisely the all-pairs result, not a subset."""
    from clinical_bi_spark.operators.dedup import (
        simhash64_df,
        simhash_blocked_pairs,
    )

    blocked = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_blocked_pairs(planted, max_hamming=6).collect()
    }
    sh = simhash64_df(planted).collect()
    allpairs = {}
    for a in sh:
        for b in sh:
            if a.id < b.id:
                h = bin(a.sh ^ b.sh).count("1")
                if h <= 6:
                    allpairs[(a.id, b.id)] = h
    assert blocked == allpairs


def test_simhash_blocked_finds_planted_dups(planted):
    """The default (unblocked) path must surface planted duplicates
    without any attribute block column."""
    from clinical_bi_spark.operators.dedup import simhash_blocked_pairs

    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_blocked_pairs(planted, max_hamming=16).collect()
    }
    assert (0, 10) in pairs, "exact dup must collide"
    planted_pairs = {(2 * i, 2 * i + 1) for i in range(len(BASE_DOCS))}
    hits = len(pairs & planted_pairs)
    assert hits >= 4, f"blocked path should catch one-word mutations: {pairs}"


def test_winnow_finds_planted_neardups(planted):
    from clinical_bi_spark.operators.dedup import winnow_neardup_pairs

    pairs = winnow_neardup_pairs(
        planted, min_shared=3, min_containment=0.5, max_df=50
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every planted twin (2i, 2i+1) differs by one word — winnowed
    # fingerprints away from the edit survive, so the pair must be found
    for i in range(len(BASE_DOCS)):
        assert (2 * i, 2 * i + 1) in got
    # the exact dup of doc 0 shares every fingerprint
    exact = [r for r in pairs.collect() if (r.id_a, r.id_b) == (0, 10)]
    assert exact and exact[0].containment == 1.0


def test_winnow_edge_cases(spark):
    from clinical_bi_spark.operators.dedup import winnow_fingerprints_df

    df = spark.createDataFrame(
        [(0, ""), (1, "ab"), (2, "!!! ???"), (3, "abcdefgh"), (4, "abcdefghij")],
        "doc_id long, text string",
    )
    rows = {r.id: r.fps for r in winnow_fingerprints_df(df).collect()}
    assert rows[0] == []          # empty text
    assert rows[1] == []          # shorter than k after normalization
    assert rows[2] == []          # all chars normalized away
    assert len(rows[3]) == 1      # exactly one gram -> one clamped window
    # 10 chars -> 3 grams < window=4 -> single clamped window, min of all
    assert len(rows[4]) == 1 and rows[4][0] == min(rows[4])


def test_winnow_robust_to_whitespace_and_case(spark):
    from clinical_bi_spark.operators.dedup import winnow_fingerprints_df

    df = spark.createDataFrame(
        [(0, "Hello, World! This is Fine."), (1, "hello   world this IS fine")],
        "doc_id long, text string",
    )
    rows = {r.id: r.fps for r in winnow_fingerprints_df(df).collect()}
    # normalization deletes case/punct/whitespace -> identical fingerprints
    assert rows[0] == rows[1] and rows[0]


def test_connected_components_known_graphs(spark):
    from clinical_bi_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, pair 10-11, triangle 20-21-22 (+redundant edge)
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_paths_agree(spark):
    """The single-task union-find fast path and the iterative min-label
    path must produce identical labels (differential test on a graph with
    chains, cliques, and singleton-free structure)."""
    import random

    from clinical_bi_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = []
    # 10 chains of length 6 (diameter stress), 5 cliques of size 4
    for c in range(10):
        base = c * 100
        edges += [(base + i, base + i + 1) for i in range(6)]
    for c in range(5):
        base = 10_000 + c * 100
        members = [base + i for i in range(4)]
        edges += [(a, b) for a in members for b in members if a < b]
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        r.id: r.component
        for r in connected_components(df, small_graph_edges=10**9).collect()
    }
    iterative = {
        r.id: r.component
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert fast == iterative and len(fast) == 10 * 7 + 5 * 4


def test_connected_components_nonconvergence_raises(spark):
    """The iterative path must refuse to return unconverged labels when a
    chain is longer than max_iter hops."""
    import pytest as _pytest

    from clinical_bi_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, small_graph_edges=0)


def test_connected_components_fixpoint_at_exactly_max_iter(spark):
    """A graph whose labels settle exactly at round max_iter must NOT
    raise: the +1 change-detection round proves the fixpoint (min-label
    propagation walks one hop per round, so a 3-edge chain needs 3
    label-moving rounds from the far end)."""
    from clinical_bi_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        r.id: r.component
        for r in connected_components(
            chain, max_iter=3, small_graph_edges=0
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}


def test_winnow_overflow_broadcast_guard_fallback(planted, monkeypatch):
    """Template-heavy corpora can make the df-cap overflow list data-sized;
    forcing the broadcast threshold to 0 must flip the anti-join to the
    shuffled fallback and leave results IDENTICAL (the guard is a plan
    choice, not a semantics choice)."""
    from clinical_bi_spark.operators import dedup as dedup_mod

    baseline = {
        (r.id_a, r.id_b)
        for r in dedup_mod.winnow_neardup_pairs(
            planted, min_shared=3, min_containment=0.5, max_df=50
        ).collect()
    }
    monkeypatch.setattr(dedup_mod, "_MAX_BROADCAST_OVERFLOW_FPS", 0)
    fallback = {
        (r.id_a, r.id_b)
        for r in dedup_mod.winnow_neardup_pairs(
            planted, min_shared=3, min_containment=0.5, max_df=50
        ).collect()
    }
    assert fallback == baseline and baseline


def test_winnow_arrow_path_equals_expression_path(spark):
    """The vectorized Arrow fingerprint path must be bit-identical to the
    pure-Catalyst expression form — including unicode edge cases where
    JVM and Python lowercasing could diverge (both sides strip everything
    outside [a-z0-9] afterwards, so divergence cannot reach the hash)."""
    from clinical_bi_spark.operators.dedup import (
        winnow_fingerprints_df,
        winnow_fingerprints_expr,
    )

    rows = [
        (1, "The quick brown fox jumps over the lazy dog. " * 20),
        (2, "İstanbul ÄÖÜ ß KK 123 ﬁne ＡＢＣ ǅungla Ⅷ"),
        (3, "ΣΊΣΥΦΟΣ Straße ÅNGSTRÖM"),
        (4, None),
        (5, ""),
        (6, "short"),
        (7, "exactly8c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = {r.id: r.fps for r in winnow_fingerprints_df(df).collect()}
    expr = {r.id: r.fps for r in winnow_fingerprints_expr(df).collect()}
    assert arrow == expr
    assert arrow[1], "long doc must fingerprint"


# ---------------------------------------------------------------------------
# Hashed tokens for the exact Jaccard prefix join — hash-exact with a
# per-corpus injectivity certificate — and the vocab-gated bitmask
# verify (see _JACCARD_BITMASK_VOCAB_CAP in queries/textops.py).
# ---------------------------------------------------------------------------


def test_jaccard_bitmask_verify_equals_array_verify(spark, monkeypatch):
    """The vocab-gated dense-bitmask verify must reproduce the
    array_intersect fallback's output exactly — same pairs, same
    n_inter/n_union/jaccard — on the oracle corpus, over hashed and
    (after a failed audit) string tokens."""
    from clinical_bi_spark.queries import load_all
    from clinical_bi_spark.queries import textops
    from tests.conftest import SF_ORACLE

    reg = load_all()

    def rows(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.n_union, round(r.jaccard, 9))
            for r in df.collect()
        )

    bitmask_out = rows(reg["dedup_jaccard_prefix"].fn(spark, SF_ORACLE))
    # a zero cap sends the query down the array fallback through its gate
    with monkeypatch.context() as m:
        m.setattr(textops, "_JACCARD_BITMASK_VOCAB_CAP", 0)
        array_out = rows(reg["dedup_jaccard_prefix"].fn(spark, SF_ORACLE))
    assert bitmask_out == array_out
    assert len(bitmask_out) > 0
    # a colliding hash fails the audit, so the bitmask runs on strings
    monkeypatch.setattr(textops, "_TOKEN_HASH_OVERRIDE", F.length)
    with pytest.warns(RuntimeWarning, match="injectivity audit FAILED"):
        bitmask_str = rows(reg["dedup_jaccard_prefix"].fn(spark, SF_ORACLE))
    assert bitmask_str == array_out


def test_jaccard_bitmask_multiword_masks_and_vocab_gate(spark):
    """A corpus with > 64 distinct tokens exercises the multi-long mask
    branch (masks of ceil(V/64) longs, zip_with+bit_count intersect);
    the vocab gate must return None (-> array fallback) when the
    vocabulary exceeds the cap."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.queries.textops import (
        _JACCARD_TAU,
        _jaccard_prefix_candidates,
        _jaccard_verify_bitmask,
    )

    # 40 docs over a 70-token vocabulary (> 64 -> 2-long masks), with
    # heavy overlap so true pairs exist at tau = 0.8
    docs = []
    for d in range(40):
        base = d % 4  # four near-dup families
        words = [f"tok{(base * 17 + j) % 70}" for j in range(20)]
        if d % 2:
            words[-1] = f"tok{(base * 17 + 25) % 70}"  # 1-token variant
        docs.append((d, list(dict.fromkeys(words))))
    toks = spark.createDataFrame(docs, "doc_id long, words array<string>")
    assert (
        toks.select(F.explode("words")).distinct().count() > 64
    ), "fixture must exceed one mask word"
    cand = _jaccard_prefix_candidates(toks, _JACCARD_TAU)
    ver = _jaccard_verify_bitmask(spark, toks, cand, _JACCARD_TAU)
    assert ver is not None

    # reference: per-pair exact intersect over the same candidates
    wa = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("words").alias("wsa")
    )
    wb = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("words").alias("wsb")
    )
    inter = F.size(F.array_intersect(F.col("wsa"), F.col("wsb")))
    union = F.size("wsa") + F.size("wsb") - inter
    ref = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_inter"),
            union.cast("bigint").alias("n_union"),
        )
        .filter(
            (inter.cast("double") / union.cast("double")) >= _JACCARD_TAU
        )
    )

    def rows(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.n_union) for r in df.collect()
        )

    got = rows(ver.select("doc_a", "doc_b", "n_inter", "n_union"))
    want = rows(ref)
    assert got == want
    assert len(got) > 0

    # gate: cap below the vocabulary -> None, caller falls back
    assert (
        _jaccard_verify_bitmask(spark, toks, cand, _JACCARD_TAU, vocab_cap=64)
        is None
    )


@pytest.mark.parametrize("vocab_size", [64, 65, 130])
def test_jaccard_bitmask_word_boundaries(spark, vocab_size):
    """Mask-width boundaries: V=64 is the single-long branch's edge
    (id 63 -> shiftleft(1L, 63) sets the SIGN bit — two's-complement
    AND/bit_count must still count it), V=65 the smallest two-long mask,
    V=130 a three-long mask. Seeded corpora with heavy overlap; outputs
    must equal the array_intersect reference exactly."""
    import random

    from pyspark.sql import functions as F

    from clinical_bi_spark.queries.textops import (
        _JACCARD_TAU,
        _jaccard_prefix_candidates,
        _jaccard_verify_bitmask,
    )

    rng = random.Random(vocab_size)
    vocab = [f"w{i:03d}" for i in range(vocab_size)]
    docs = []
    for d in range(30):
        fam = d % 3
        base = vocab[fam * 20 : fam * 20 + 15] + vocab[-5:]  # top ids shared
        words = list(base)
        for _ in range(rng.randrange(3)):
            words[rng.randrange(len(words))] = vocab[rng.randrange(vocab_size)]
        docs.append((d, list(dict.fromkeys(words))))
    # a catalog doc holding EVERY vocab token guarantees the top dense id
    # (V-1 — the sign bit when V=64) is actually set in some mask
    docs.append((len(docs), list(vocab)))
    toks = spark.createDataFrame(docs, "doc_id long, words array<string>")
    assert toks.select(F.explode("words")).distinct().count() == vocab_size
    cand = _jaccard_prefix_candidates(toks, _JACCARD_TAU)
    ver = _jaccard_verify_bitmask(spark, toks, cand, _JACCARD_TAU)
    assert ver is not None
    wa = toks.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wsa"))
    wb = toks.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wsb"))
    inter = F.size(F.array_intersect(F.col("wsa"), F.col("wsb")))
    union = F.size("wsa") + F.size("wsb") - inter
    ref = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_inter"),
            union.cast("bigint").alias("n_union"),
        )
        .filter((inter.cast("double") / union.cast("double")) >= _JACCARD_TAU)
    )

    def rows(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.n_union) for r in df.collect()
        )

    got = rows(ver.select("doc_a", "doc_b", "n_inter", "n_union"))
    assert got == rows(ref)
    assert len(got) > 0


def test_containment_bitmask_verify_equals_array_verify(spark, monkeypatch):
    """The directed containment join shares _bitmask_pair_overlap: the
    bitmask projection must reproduce the array_intersect form's output
    exactly — same pairs, same n_inter/sz_a/containment."""
    from clinical_bi_spark.queries import load_all
    from clinical_bi_spark.queries import textops
    from tests.conftest import SF_ORACLE

    reg = load_all()

    def rows(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.sz_a, round(r.containment, 9))
            for r in df.collect()
        )

    bitmask_out = rows(reg["dedup_containment_prefix"].fn(spark, SF_ORACLE))
    # a zero cap sends the query down the array fallback through its gate
    monkeypatch.setattr(textops, "_JACCARD_BITMASK_VOCAB_CAP", 0)
    array_out = rows(reg["dedup_containment_prefix"].fn(spark, SF_ORACLE))
    assert bitmask_out == array_out
    assert len(bitmask_out) > 0


def test_jaccard_bitmask_empty_corpus(spark):
    """Zero documents: the bitmask verify must return an empty frame
    (vocab=[], one-word masks degenerate cleanly), not None and not an
    error — the degenerate-probe contract for the r14 default flip."""
    from clinical_bi_spark.queries.textops import (
        _JACCARD_TAU,
        _jaccard_prefix_candidates,
        _jaccard_verify_bitmask,
    )

    toks = spark.createDataFrame([], "doc_id long, words array<string>")
    cand = _jaccard_prefix_candidates(toks, _JACCARD_TAU)
    ver = _jaccard_verify_bitmask(spark, toks, cand, _JACCARD_TAU)
    assert ver is not None
    assert ver.count() == 0


def test_jaccard_token_audit_certifies_bench_corpus(spark):
    """The injectivity certificate must hold on the bench corpus (and at
    the adjudication SF): the audit inside ``audited_token_relation``
    passes without a fallback warning and hands back hashed tokens, so
    the u64 output is PROVABLY the string output there."""
    import warnings

    from clinical_bi_spark.functions.text import word_tokens
    from clinical_bi_spark.queries.textops import audited_token_relation
    from clinical_bi_spark.session import tune
    from clinical_bi_spark.sources import load_tables
    from tests.conftest import SF_ORACLE

    t = load_tables(tune(spark), SF_ORACLE)
    toks = t.documents.select(
        "doc_id",
        F.array_distinct(word_tokens(F.lower(F.col("text")))).alias("words"),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        toks_h = audited_token_relation(toks)
    assert toks_h.schema["words"].dataType.simpleString() == "array<bigint>"
    assert toks_h.filter(F.size("words") > 0).count() > 0


def test_forged_audit_failure_engages_string_fallback(spark, tmp_path, monkeypatch):
    """r9 verdict Next #7: prove the AUTO-FALLBACK path actually engages.
    Override the token hash (test seam _TOKEN_HASH_OVERRIDE) with a
    deliberately colliding function so the in-query audit fails on a
    corpus with same-length distinct tokens, then assert (a) a
    RuntimeWarning fires and (b) the query still returns the exact
    string-mode answer — the documented contract of the fallback."""
    import warnings

    from clinical_bi_spark.queries import load_all
    from clinical_bi_spark.queries import textops as to

    # every token is length 4, so a length hash collides everything;
    # J(1,2) = 5/6 >= 0.8 qualifies, doc 3 shares nothing
    docs = [
        (1, "aaaa bbbb cccc dddd eeee"),
        (2, "aaaa bbbb cccc dddd eeee ffff"),
        (3, "zzzz yyyy xxxx wwww vvvv"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'s1' AS source",
        "CAST(length(text) AS LONG) AS n_chars"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    d = str(tmp_path)
    reg = load_all()

    def rows(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.n_union, round(r.jaccard, 9))
            for r in df.collect()
        )

    want = [(1, 2, 5, 6, round(5 / 6, 9))]
    colliding = lambda c: F.length(c).cast("long")  # noqa: E731
    monkeypatch.setattr(to, "_TOKEN_HASH_OVERRIDE", colliding)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = rows(reg["dedup_jaccard_prefix"].fn(spark, d))
    assert got == want, "fallback must return the string-exact answer"
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "injectivity audit FAILED" in str(w.message)
        for w in caught
    ), "the audit failure must warn loudly"

    # and with the override removed, the clean certificate hashes as usual
    monkeypatch.setattr(to, "_TOKEN_HASH_OVERRIDE", None)
    assert rows(reg["dedup_jaccard_prefix"].fn(spark, d)) == want
