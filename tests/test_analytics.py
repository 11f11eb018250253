"""Property tests for the round-6 analytics additions (SCD2, stats
battery, PageRank, Markov transitions, array battery, chunk split) —
invariants beyond the DuckDB differential in test_queries_oracle.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from clinical_bi_spark.queries import load_all
from tests.conftest import SF_ORACLE, SF_SMALL

REGISTRY = load_all()


# ---------------------------------------------------------------------------
# SCD2 history invariants
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def scd2_rows(spark):
    return (
        REGISTRY["etl_scd2_history"].fn(spark, SF_ORACLE).collect()
    )


def test_scd2_versions_dense_and_single_current(scd2_rows):
    by_cust: dict = {}
    for r in scd2_rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    assert by_cust
    for rows in by_cust.values():
        rows.sort(key=lambda r: r.version)
        # versions are 1..k dense
        assert [r.version for r in rows] == list(range(1, len(rows) + 1))
        # exactly one open interval, and it is the last version
        currents = [r for r in rows if r.is_current]
        assert len(currents) == 1 and currents[0].version == len(rows)


def test_scd2_intervals_contiguous_and_segments_change(scd2_rows):
    by_cust: dict = {}
    for r in scd2_rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for rows in by_cust.values():
        rows.sort(key=lambda r: r.version)
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from  # half-open chain, no gaps
            assert a.segment != b.segment  # consecutive repeats collapsed
        assert rows[-1].valid_to is None


# ---------------------------------------------------------------------------
# Stats battery vs numpy (independent second opinion on the formulas)
# ---------------------------------------------------------------------------


def test_stats_battery_matches_numpy(spark, oracle_con):
    got = {
        r.l_returnflag: r
        for r in REGISTRY["agg_stats_battery"].fn(spark, SF_ORACLE).collect()
    }
    pdf = oracle_con.execute(
        "SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x, "
        "CAST(ROUND(l_extendedprice) AS BIGINT) AS y FROM lineitem"
    ).df()
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["x"].to_numpy(dtype=np.float64)
        y = grp["y"].to_numpy(dtype=np.float64)
        r = got[flag]
        assert r.n == len(x)
        assert r.mean_qty == pytest.approx(x.mean(), rel=1e-12)
        assert r.stddev_qty == pytest.approx(x.std(ddof=1), rel=1e-9)
        assert r.covar_qty_price == pytest.approx(
            np.cov(x, y, ddof=1)[0, 1], rel=1e-9
        )
        assert r.corr_qty_price == pytest.approx(
            np.corrcoef(x, y)[0, 1], rel=1e-9
        )
        slope = np.cov(x, y, ddof=1)[0, 1] / np.var(x, ddof=1)
        assert r.regr_slope_price_on_qty == pytest.approx(slope, rel=1e-9)


# ---------------------------------------------------------------------------
# PageRank invariants
# ---------------------------------------------------------------------------


def test_pagerank_invariants(spark):
    rows = REGISTRY["graph_pagerank"].fn(spark, SF_SMALL).collect()
    assert rows
    scale = 10**12
    n = len(rows)
    base = (15 * (scale // n)) // 100
    for r in rows:
        assert r.rank_micro >= base  # base floor: every node keeps (1-d)/N
        assert r.rank == pytest.approx(r.rank_micro / 1e12, rel=0, abs=0)
    # mass conservation up to the documented dangling leak + truncation:
    # total never exceeds the initial SCALE
    assert sum(r.rank_micro for r in rows) <= scale


def test_pagerank_sink_dominates_source(spark):
    # a node with in-edges must outrank the base-floor value whenever any
    # in-neighbor has positive out-degree rank share
    rows = REGISTRY["graph_pagerank"].fn(spark, SF_SMALL).collect()
    ranked = sorted(rows, key=lambda r: r.rank_micro)
    assert ranked[-1].rank_micro > ranked[0].rank_micro  # non-degenerate


# ---------------------------------------------------------------------------
# Markov transition invariants
# ---------------------------------------------------------------------------


def test_markov_rows_normalize_per_src(spark):
    rows = REGISTRY["evt_markov_transitions"].fn(spark, SF_ORACLE).collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    for src, grp in by_src.items():
        total = sum(r.n_transitions for r in grp)
        assert sum(r.prob for r in grp) == pytest.approx(1.0, abs=1e-9)
        for r in grp:
            assert r.prob == pytest.approx(r.n_transitions / total, rel=1e-12)


# ---------------------------------------------------------------------------
# Array battery vs numpy
# ---------------------------------------------------------------------------


def test_array_battery_matches_numpy(spark, oracle_con):
    got = {
        r.vec_id: r
        for r in REGISTRY["f_array_battery"].fn(spark, SF_ORACLE).collect()
    }
    pdf = oracle_con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 200"
    ).df()
    for _, row in pdf.iterrows():
        v = np.asarray(row["embedding"], dtype=np.float64)
        r = got[row["vec_id"]]
        assert r.n_pos == int((v > 0).sum())
        assert r.sum_emb == pytest.approx(v.sum(), rel=1e-9)
        assert r.l2_norm == pytest.approx(np.sqrt((v * v).sum()), rel=1e-9)
        assert r.max_abs == pytest.approx(np.abs(v).max(), rel=0)
        assert r.med_lo == pytest.approx(np.sort(v)[31], rel=0)
        assert r.dot_rev == pytest.approx(v @ v[::-1], rel=1e-9)
        assert r.has_big == bool((np.abs(v) > 2.0).any())


# ---------------------------------------------------------------------------
# Chunk split reconstruction property
# ---------------------------------------------------------------------------


def test_chunk_split_reconstructs_token_stream(spark, oracle_con):
    rows = REGISTRY["text_chunk_split"].fn(spark, SF_ORACLE).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    tok = {
        doc_id: text.split()
        for doc_id, text in oracle_con.execute(
            "SELECT doc_id, text FROM documents"
        ).fetchall()
    }
    # every doc with >=1 token appears; empty docs yield no rows
    assert set(by_doc) == {d for d, tk in tok.items() if tk}
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        # all but the last chunk are exactly full
        for c in chunks[:-1]:
            assert c.n_tokens == 64
        assert 1 <= chunks[-1].n_tokens <= 64
        rebuilt = " ".join(c.chunk_text for c in chunks).split()
        assert rebuilt == tok[doc_id]


# ---------------------------------------------------------------------------
# PassJoin fuzzy self-join: randomized losslessness vs brute force
# ---------------------------------------------------------------------------


def test_fuzzy_join_lossless_random_strings(spark):
    """Segment blocking must find EVERY pair within distance K on adversarial
    short strings with edits at segment boundaries (python brute force is
    the independent referee; the registry oracle proves the same on part
    names)."""
    import itertools
    import random

    from clinical_bi_spark.operators.fuzzy import editdist_self_join

    rng = random.Random(607)
    alphabet = "abc"
    base = ["".join(rng.choice(alphabet) for _ in range(rng.randint(3, 9)))
            for _ in range(40)]
    # mutate copies: substitutions, insertions, deletions near boundaries
    variants = []
    for s in base:
        variants.append(s)
        for _ in range(2):
            t = list(s)
            op = rng.choice("sid")
            pos = rng.randrange(len(t))
            if op == "s":
                t[pos] = rng.choice(alphabet)
            elif op == "i":
                t.insert(pos, rng.choice(alphabet))
            elif len(t) > 3:
                del t[pos]
            variants.append("".join(t))
    rows = [(i, s) for i, s in enumerate(variants)]

    def ed(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if ed(a, b) <= 2
    }
    df = spark.createDataFrame(rows, "sid bigint, name string")
    got = {
        (r.a_id, r.b_id)
        for r in editdist_self_join(df, "sid", "name", k=2).collect()
    }
    assert got == expected and expected, (
        f"missing={sorted(expected - got)[:5]} extra={sorted(got - expected)[:5]}"
    )


# ---------------------------------------------------------------------------
# Graph family: BFS + triangles vs python brute force on collected edges
# ---------------------------------------------------------------------------


def test_bfs_and_triangles_match_python_graph(spark):
    from clinical_bi_spark.queries.graph import _BFS_SOURCE, _trade_edges
    from clinical_bi_spark.sources import load_tables
    from clinical_bi_spark.session import tune

    t = load_tables(tune(spark), SF_ORACLE)
    edges = [(r.src, r.dst) for r in _trade_edges(t).collect()]

    # BFS reference (unbounded — the query's 4 rounds must cover it)
    from collections import deque

    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    dist = {_BFS_SOURCE: 0}
    q = deque([_BFS_SOURCE])
    while q:
        u = q.popleft()
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {
        r.node: r.dist
        for r in REGISTRY["graph_bfs_distance"].fn(spark, SF_ORACLE).collect()
    }
    assert got == dist  # 4 rounds really cover the diameter at this SF

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    tri = 0
    nbr: dict = {}
    for u, v in und:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    for u, v in und:
        tri += len(
            {w for w in nbr[u] & nbr[v] if (min(u, w), max(u, w)) in und
             and (min(v, w), max(v, w)) in und and w != u and w != v}
        )
    tri //= 3  # each triangle counted once per edge
    got_tri = (
        REGISTRY["graph_triangles"].fn(spark, SF_ORACLE).collect()[0].n_triangles
    )
    assert got_tri == tri and tri > 0


# ---------------------------------------------------------------------------
# Point-in-time SCD2 lookup: self-consistency invariant
# ---------------------------------------------------------------------------


def test_point_in_time_segment_is_day_end_state(spark, oracle_con):
    """The SCD2 history derives from the orders themselves at DATE
    granularity (valid_from is a date), so the version valid at an
    order's date is the state after the LAST same-day change: every
    order must see the priority of the last order (by (date, orderkey))
    on-or-before its own date for its customer. A future-leak or
    stale-read bug breaks this for some row; so would collapsing to the
    wrong tie-survivor at a shared change date."""
    rows = REGISTRY["j_point_in_time_scd2"].fn(spark, SF_ORACLE).collect()
    orders = oracle_con.execute(
        "SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority "
        "FROM orders"
    ).fetchall()
    by_cust: dict = {}
    for ck, ok, dt, prio in orders:
        by_cust.setdefault(ck, []).append((dt, ok, prio))
    for seq in by_cust.values():
        seq.sort()
    assert rows and len(rows) == len(orders)
    for r in rows:
        seq = by_cust[r.o_custkey]
        # last order (date, key) with date <= this order's date
        expected = max(
            (e for e in seq if e[0] <= r.o_orderdate), key=lambda e: e[:2]
        )[2]
        assert r.segment_asof == expected, r


@pytest.mark.parametrize("k", [1, 3])
def test_fuzzy_join_lossless_other_radii(spark, k):
    """PassJoin's pigeonhole must hold for K=1 (2 segments) and K=3
    (4 segments), not just the registry's K=2 — the segment-count and
    shift-window arithmetic generalizes or it's wrong."""
    import itertools
    import random

    from clinical_bi_spark.operators.fuzzy import editdist_self_join

    rng = random.Random(1000 + k)
    alphabet = "ab"
    base = ["".join(rng.choice(alphabet) for _ in range(rng.randint(4, 8)))
            for _ in range(25)]
    variants = []
    for s in base:
        variants.append(s)
        t = list(s)
        for _ in range(k):
            op = rng.choice("sid")
            pos = rng.randrange(len(t))
            if op == "s":
                t[pos] = rng.choice(alphabet)
            elif op == "i":
                t.insert(pos, rng.choice(alphabet))
            elif len(t) > 4:
                del t[pos]
        variants.append("".join(t))
    rows = [(i, s) for i, s in enumerate(variants)]

    def ed(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if ed(a, b) <= k
    }
    df = spark.createDataFrame(rows, "sid bigint, name string")
    got = {
        (r.a_id, r.b_id)
        for r in editdist_self_join(df, "sid", "name", k=k).collect()
    }
    assert got == expected and expected


@pytest.mark.parametrize("k", [1, 2])
def test_fuzzy_join_short_string_residue(spark, k):
    """r7 ADVICE fix: strings shorter than K+1 were unreachable through
    the probe-side length clamp; the internal residue path must recover
    every pair involving them — including the empty string, short-short
    pairs, and short-long pairs in both id orderings — against a full
    brute-force reference."""
    import itertools

    from clinical_bi_spark.operators.fuzzy import editdist_self_join

    # ids deliberately ordered so some short strings have LARGER ids
    # than their long partners (the pre-fix code also dropped the
    # orientation where only probe=short is discovered and sid > rid)
    rows = [
        (10, ""), (1, "a"), (7, "b"), (2, "ab"), (9, "ba"),
        (3, "abc"), (8, "abcd"), (4, "xy"), (5, "xyz"), (6, "abcde"),
        (11, "a"),  # duplicate short text
    ]

    def ed(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {
        (min(i, j), max(i, j), ed(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if ed(a, b) <= k
    }
    df = spark.createDataFrame(rows, "sid bigint, name string")
    got = {
        (r.a_id, r.b_id, r.dist)
        for r in editdist_self_join(df, "sid", "name", k=k).collect()
    }
    assert got == expected and expected


def test_chi_square_matches_numpy(spark, oracle_con):
    rows = REGISTRY["agg_chi_square"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 1
    r = rows[0]
    pdf = oracle_con.execute(
        "SELECT dayofweek(ts) AS dow, event_type, COUNT(*) AS o "
        "FROM events GROUP BY 1, 2"
    ).df()
    tbl = pdf.pivot_table(
        index="dow", columns="event_type", values="o", fill_value=0
    ).to_numpy(dtype=np.float64)
    n = tbl.sum()
    # full cross product: every cell of the pivot (fill_value=0) counts;
    # marginals are strictly positive by construction so e > 0 everywhere
    e = np.outer(tbl.sum(1), tbl.sum(0)) / n
    chi2 = (((tbl - e) ** 2) / e).sum()
    assert r.chi2 == pytest.approx(chi2, rel=1e-9)
    assert r.dof == (tbl.shape[0] - 1) * (tbl.shape[1] - 1)
    assert r.n_cells == tbl.size


def test_chi_square_empty_cells_counted(spark, tmp_path):
    """r7 ADVICE fix: an EMPTY contingency cell must still contribute
    (0 - E)^2 / E = r*c/n. Sparse fixture: 2 weekdays x 2 event types
    with one (dow, type) combination absent — the observed-cells-only
    form would understate chi2 by exactly that cell's expected count."""
    import datetime as dt

    # Mon 2024-01-01 / Tue 2024-01-02; (Tue, 'b') cell left empty
    rows = (
        [(dt.datetime(2024, 1, 1, 10, 0, i), "a") for i in range(6)]
        + [(dt.datetime(2024, 1, 1, 11, 0, i), "b") for i in range(4)]
        + [(dt.datetime(2024, 1, 2, 10, 0, i), "a") for i in range(5)]
    )
    spark.createDataFrame(rows, "ts timestamp, event_type string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    r = REGISTRY["agg_chi_square"].fn(spark, str(tmp_path)).collect()[0]
    tbl = np.array([[6.0, 4.0], [5.0, 0.0]])
    e = np.outer(tbl.sum(1), tbl.sum(0)) / tbl.sum()
    assert r.n_cells == 4
    assert r.dof == 1
    assert r.chi2 == pytest.approx((((tbl - e) ** 2) / e).sum(), rel=1e-9)


def test_anomaly_mad_matches_numpy(spark, oracle_con):
    got = {
        r.event_type: r
        for r in REGISTRY["evt_anomaly_mad"].fn(spark, SF_ORACLE).collect()
    }
    pdf = oracle_con.execute(
        "SELECT event_type, value FROM events"
    ).df()
    for et, grp in pdf.groupby("event_type"):
        v = grp["value"].to_numpy(dtype=np.float64)
        r = got[et]
        med = np.median(v)
        mad = np.median(np.abs(v - med))
        assert r.median_value == pytest.approx(med, rel=1e-9)
        assert r.mad == pytest.approx(mad, rel=1e-9)
        n_out = int((np.round(np.abs(v - med), 6) > np.round(3 * mad, 6)).sum())
        assert r.n_outliers == n_out
        assert r.n_events == len(v)


def test_ntile_from_rank_matches_sql_ntile_on_grid(spark):
    """Exhaustive pin of the exact NTILE bucket arithmetic: for every
    (N, k) on a grid spanning N < k, N = k, N % k == 0 and ragged
    cases, ntile_from_rank over ranks 1..N must reproduce SQL NTILE(k)
    bucket-for-bucket (first N mod k buckets one row larger)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from clinical_bi_spark.operators.ranking import ntile_from_rank

    cases = [(n, k) for n in (1, 2, 3, 4, 5, 7, 8, 40, 41, 103) for k in (1, 2, 5, 8)]
    for n, k in cases:
        df = spark.range(1, n + 1).select(F.col("id").alias("rnk"))
        got = {
            r.rnk: r.nt
            for r in df.select(
                "rnk", ntile_from_rank(F.col("rnk"), F.lit(n), k).alias("nt")
            ).collect()
        }
        exp = {
            r.rnk: r.nt
            for r in df.select(
                "rnk", F.ntile(k).over(Window.orderBy("rnk")).alias("nt")
            ).collect()
        }
        assert got == exp, (n, k)


def test_global_row_number_total_tie_stress(spark):
    """Adversarial tie case: the primary order column is CONSTANT, so the
    range partitioner and the rank both ride entirely on the tie-break
    column — ranks must still be the unique 1..N permutation the window
    form produces, across multiple partitions."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.operators.ranking import global_row_number

    df = spark.range(0, 500).select(
        F.lit(7).alias("metric"), F.col("id").alias("key")
    )
    got = {
        r.key: r.rnk
        for r in global_row_number(
            df,
            [F.col("metric").desc(), F.col("key")],
            n_partitions=7,
        ).collect()
    }
    assert got == {k: k + 1 for k in range(500)}


def test_degenerate_inputs_yield_null_not_ansi_crash(spark, tmp_path):
    """r9 family-wide sweep of the PMI zero-token lesson: zero-variance
    columns, single-class labels, and sub-k corpora made five queries
    throw ANSI DIVIDE_BY_ZERO / INVALID_ARRAY_INDEX where DuckDB's
    division yields NULL. try_divide / LEAST-clamped indexing must make
    every one return a row with NULL (or clamped) statistics instead of
    crashing — matching the oracle engine's semantics."""
    import datetime

    orders = [
        (i, 1, "O", 100.0, datetime.date(2024, 1, 1), "1-URGENT")
        for i in range(8)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    li = [
        (i, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", datetime.date(2024, 1, 2))
        for i in range(8)
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate date",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    d = str(tmp_path)

    stats = REGISTRY["agg_stats_battery"].fn(spark, d).collect()
    assert len(stats) == 1 and stats[0].corr_qty_price is None

    rho = REGISTRY["agg_spearman_corr"].fn(spark, d).collect()
    assert len(rho) == 1 and rho[0].spearman_rho is None

    lin = REGISTRY["m18_linreg_exact"].fn(spark, d).collect()
    assert len(lin) == 1 and lin[0].slope_cents_per_unit is None

    auc = REGISTRY["m13_auc_rank"].fn(spark, d).collect()
    assert len(auc) == 1 and auc[0].auc is None  # no 'F' orders: one class

    hist = REGISTRY["agg_histogram_quantiles"].fn(spark, d).collect()
    assert len(hist) >= 1  # constant column: one NULL-bin row, no crash

    bkq = REGISTRY["sketch_bottomk_quantiles"].fn(spark, d).first()
    assert bkq.n_rows == 8
    # sample smaller than k: every quantile clamps onto real elements
    assert bkq.p25 == bkq.p95 == 100.0


def test_degenerate_vectors_yield_null_or_clear_error(spark, tmp_path):
    """r9 sweep, vector family: an all-zero training sample drives the
    PCA iterate to the zero vector — components must be NULL on both
    engines, not an ANSI crash; and a PQ dim mismatch must raise a clear
    ValueError instead of an opaque numpy broadcast error."""
    import pytest as _pytest
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    rows = [(i, [0.0] * 8, i % 2) for i in range(20)]
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = REGISTRY["vec_pca_power_top1"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 64 and all(r.component is None for r in out)
    with _pytest.raises(ValueError, match="dim=8"):
        REGISTRY["sim_ann_pq"].fn(spark, str(tmp_path)).collect()


def test_degenerate_eval_and_sampling(spark, tmp_path):
    """r9 sweep, third batch: single-class corpora zero the confusion-
    metric denominators (NULL, not crash); zero-weight documents are
    excluded from the weighted sample by definition; a single-category
    one-hot fit yields 0 indicators for unseen slots instead of an OOB
    crash."""
    import datetime

    orders = [
        (i, 1, "O", 100.0, datetime.date(2024, 1, 1), "1-URGENT")
        for i in range(8)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    docs = [
        (1, "hello world", "en", "s1", 11),
        (2, "", "en", "s1", 0),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    d = str(tmp_path)

    m15 = REGISTRY["m15_confusion_metrics"].fn(spark, d).first()
    # all-positive labels, no positive predictions: precision = 0/0 is
    # undefined (NULL); recall = 0/8 is a defined 0.0
    assert m15.tp == 0 and m15.precision is None and m15.recall == 0.0

    wrs = REGISTRY["data_weighted_sample"].fn(spark, d).collect()
    assert [r.doc_id for r in wrs] == [1]  # empty doc never sampled

    oh = REGISTRY["m6_one_hot"].fn(spark, d).collect()
    assert len(oh) == 8
    assert all(r.prio_4 == 1 and r.prio_0 == 0 for r in oh)


def test_global_row_number_empty_and_single_row(spark):
    """Boundary pins for the sharded rank: an empty relation yields an
    empty (schema-stable) result, a single row ranks 1 — no NPE from the
    empty offsets frame, no clamp failure."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.operators.ranking import global_row_number

    empty = spark.range(0).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    out = global_row_number(empty, [F.col("v"), F.col("k")])
    assert out.count() == 0 and "rnk" in out.columns

    one = spark.range(1).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    assert [r.rnk for r in global_row_number(one, [F.col("v"), F.col("k")]).collect()] == [1]


def test_global_prefix_sums_matches_window_and_boundaries(spark):
    """The sharded running total (global_prefix_sums) is value-identical
    to SUM() OVER (ORDER BY ...) — including NULL values (count as 0) —
    and survives the empty and single-row relations."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from clinical_bi_spark.operators.ranking import global_prefix_sums

    df = spark.range(500).select(
        (F.col("id") * 53 % 997).alias("o"),
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") % 7).alias("a"),
        (F.col("id") % 5 - 2).alias("b"),  # negative values too
    )
    got = {
        r.o: (r.ka, r.kb)
        for r in global_prefix_sums(
            df, [F.col("o")], ["a", "b"], ["ka", "kb"], n_partitions=7
        ).collect()
    }
    w = Window.orderBy("o").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.o: (r.ka, r.kb)
        for r in df.select(
            "o",
            F.sum(F.coalesce("a", F.lit(0))).over(w).alias("ka"),
            F.sum(F.coalesce("b", F.lit(0))).over(w).alias("kb"),
        ).collect()
    }
    assert got == want

    empty = spark.range(0).select(F.col("id").alias("o"), F.lit(1).alias("a"))
    out = global_prefix_sums(empty, [F.col("o")], ["a"], ["ka"])
    assert out.count() == 0 and "ka" in out.columns

    one = spark.range(1).select(F.col("id").alias("o"), F.lit(5).alias("a"))
    assert [r.ka for r in global_prefix_sums(one, [F.col("o")], ["a"], ["ka"]).collect()] == [5]


def test_degenerate_gini_and_ks(spark, tmp_path):
    """r10 additions inherit the degenerate-corpus contract at birth:
    all-zero prices NULL the Gini (not an ANSI crash); a single-status
    corpus (no 'F' rows) NULLs the KS distance on both engines."""
    import datetime

    li = [
        (i, 1, 1, 1, 1.0, 0.0, 0.0, 0.0, "N", "O", datetime.date(2024, 1, 2))
        for i in range(8)
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate date",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    d = str(tmp_path)

    gini = REGISTRY["agg_gini_coefficient"].fn(spark, d).collect()
    assert len(gini) == 1 and gini[0].n == 8 and gini[0].gini is None

    ks = REGISTRY["agg_ks_two_sample"].fn(spark, d).first()
    assert ks.n1 == 8 and ks.n2 == 0 and ks.ks_d is None


def test_global_prefix_sums_grouped_matches_window(spark):
    """The r10 grouped extension (partition_by): sharded running totals
    must match SUM() OVER (PARTITION BY g ORDER BY o) — including NULL
    group keys (their own partition, null-safe offsets) and groups that
    span shard boundaries."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from clinical_bi_spark.operators.ranking import global_prefix_sums

    df = spark.range(600).select(
        F.when(F.col("id") % 4 == 0, None)
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("g"),
        (F.col("id") * 41 % 601).alias("o"),
        (F.col("id") % 9 - 3).alias("a"),
    )
    got = {
        (r.g, r.o): r.ka
        for r in global_prefix_sums(
            df, [F.col("o")], ["a"], ["ka"],
            partition_by=["g"], n_partitions=7,
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r.g, r.o): r.ka
        for r in df.select(
            "g", "o", F.sum(F.coalesce("a", F.lit(0))).over(w).alias("ka")
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# r10 additions: engine-independent numpy twins. The DuckDB oracles share
# the rank-sum / windowed-cumsum FORMULATION with the Spark plans; these
# recompute both statistics from the raw parquet through independently
# coded numpy paths (Lorenz trapezoid; searchsorted ECDFs), so a
# translation bug common to both SQL engines would still be caught.
# ---------------------------------------------------------------------------


def test_gini_matches_numpy_lorenz(spark):
    """Per-group Gini recomputed via the Lorenz-curve trapezoid
    G = 1 - sum(cum_{i-1} + cum_i) / (n * S) over ascending cents —
    algebraically equal to the query's rank-sum identity but a different
    code path (numpy int64 cumsum; tie order is irrelevant because equal
    values contribute identically). Matches to well inside the query's
    9-dp rounding."""
    import pandas as pd

    got = {
        r.l_returnflag: (r.n, r.gini)
        for r in REGISTRY["agg_gini_coefficient"].fn(spark, SF_ORACLE).collect()
    }
    li = pd.read_parquet(
        f"{SF_ORACLE}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice"],
    )
    assert set(got) == set(li["l_returnflag"].unique())
    for flag, grp in li.groupby("l_returnflag"):
        x = np.sort(
            np.round(grp["l_extendedprice"].to_numpy() * 100).astype(np.int64)
        )
        n, s = len(x), int(x.sum())
        cum = np.cumsum(x)
        trap = int((np.concatenate(([0], cum[:-1])) + cum).sum())
        want = 1.0 - trap / (n * float(s))
        assert got[flag][0] == n
        assert got[flag][1] == pytest.approx(want, abs=1e-8)


def test_ks_matches_numpy_ecdf(spark):
    """Two-sample KS distance recomputed with searchsorted ECDFs over the
    union of observed values — the textbook D = sup|F1 - F2| evaluated
    pointwise, no running-total machinery shared with the query plan."""
    import pandas as pd

    row = REGISTRY["agg_ks_two_sample"].fn(spark, SF_ORACLE).first()
    li = pd.read_parquet(
        f"{SF_ORACLE}/lineitem.parquet",
        columns=["l_linestatus", "l_extendedprice"],
    )
    cents = np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64)
    status = li["l_linestatus"].to_numpy()
    x1 = np.sort(cents[status == "O"])
    x2 = np.sort(cents[status == "F"])
    grid = np.union1d(x1, x2)
    e1 = np.searchsorted(x1, grid, side="right") / len(x1)
    e2 = np.searchsorted(x2, grid, side="right") / len(x2)
    want = float(np.abs(e1 - e2).max())
    assert row.n1 == len(x1) and row.n2 == len(x2)
    assert row.ks_d == pytest.approx(want, abs=1e-8)


def test_mannwhitney_matches_oracle(spark, oracle_con):
    """The r12 registration candidate's exact-oracle contract, pinned
    the round it LANDS (r11) so registration is a decorator flip: the
    value-level midrank identity vs DuckDB's window-cumsum HUGEINT
    twin, typed and value-exact."""
    from clinical_bi_spark.queries.extended import (
        _MWU_ORACLE,
        agg_mannwhitney_u,
    )
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(
        agg_mannwhitney_u(spark, SF_ORACLE),
        oracle_con,
        _MWU_ORACLE,
        name="agg_mannwhitney_u",
    )


def test_mannwhitney_matches_numpy_midranks(spark):
    """U and tie-corrected z recomputed from explicit per-row MIDRANKS
    (mergesort + tie-run averaging) — the textbook definition, no
    value-level identity or prefix-sum machinery shared with the query
    plan."""
    import pandas as pd

    from clinical_bi_spark.queries.extended import agg_mannwhitney_u

    row = agg_mannwhitney_u(spark, SF_ORACLE).first()
    li = pd.read_parquet(
        f"{SF_ORACLE}/lineitem.parquet",
        columns=["l_linestatus", "l_extendedprice"],
    )
    cents = np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64)
    status = li["l_linestatus"].to_numpy()
    x1, x2 = cents[status == "O"], cents[status == "F"]
    allv = np.concatenate([x1, x2])
    order = np.argsort(allv, kind="mergesort")
    ranks = np.empty(len(allv), dtype=np.float64)
    sv = allv[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    n1, n2 = len(x1), len(x2)
    n = n1 + n2
    u1 = ranks[:n1].sum() - n1 * (n1 + 1) / 2.0
    _, cnt = np.unique(allv, return_counts=True)
    s3 = float((cnt.astype(np.float64) ** 3 - cnt).sum())
    var = n1 * n2 / 12.0 * ((n + 1) - s3 / (n * (n - 1)))
    want_z = (u1 - n1 * n2 / 2.0) / np.sqrt(var)
    assert row.n1 == n1 and row.n2 == n2
    assert row.u1 == pytest.approx(u1, rel=1e-12)
    assert row.z == pytest.approx(want_z, abs=1e-8)


def test_degenerate_mannwhitney(spark, tmp_path):
    """Degenerate contract at birth: a single-cohort corpus NULLs u1 and
    z; an all-tied corpus (every value equal) keeps u1 defined but NULLs
    z (tie-corrected variance is exactly zero)."""
    import datetime

    from clinical_bi_spark.queries.extended import agg_mannwhitney_u

    def _write(rows, d):
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate date",
        ).write.parquet(f"{d}/lineitem.parquet")

    one_cohort = str(tmp_path / "one")
    _write(
        [
            (i, 1, 1, 1, 1.0, float(i), 0.0, 0.0, "N", "O",
             datetime.date(2024, 1, 2))
            for i in range(6)
        ],
        one_cohort,
    )
    r = agg_mannwhitney_u(spark, one_cohort).first()
    assert r.n1 == 6 and r.n2 == 0 and r.u1 is None and r.z is None

    all_tied = str(tmp_path / "tied")
    _write(
        [
            (i, 1, 1, 1, 1.0, 7.0, 0.0, 0.0, "N", "O" if i % 2 else "F",
             datetime.date(2024, 1, 2))
            for i in range(6)
        ],
        all_tied,
    )
    r = agg_mannwhitney_u(spark, all_tied).first()
    # one tie run: U1 = n1*n2/2 exactly, z undefined (variance 0)
    assert r.n1 == 3 and r.n2 == 3 and r.u1 == 4.5 and r.z is None


def test_psi_matches_oracle(spark, oracle_con):
    """The second r12 registration candidate's exact-oracle contract,
    pinned the round it LANDS: fixed-width bucket counts, Laplace +1
    smoothing over observed buckets, nano-nat integer terms (the
    text_lm_score ln playbook), one double division at the end."""
    from clinical_bi_spark.queries.pipelineops import (
        _PSI_ORACLE,
        data_psi_drift,
    )
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(
        data_psi_drift(spark, SF_ORACLE),
        oracle_con,
        _PSI_ORACLE,
        name="data_psi_drift",
    )


def test_psi_matches_numpy(spark):
    """PSI recomputed with numpy bincounts over the same buckets and
    conventions — independent of the query plan and of DuckDB."""
    import pandas as pd

    from clinical_bi_spark.queries.pipelineops import (
        _PSI_BUCKET_CENTS,
        _PSI_SPLIT,
        data_psi_drift,
    )

    row = data_psi_drift(spark, SF_ORACLE).first()
    od = pd.read_parquet(
        f"{SF_ORACLE}/orders.parquet", columns=["o_orderdate", "o_totalprice"]
    )
    cents = np.round(od["o_totalprice"].to_numpy() * 100).astype(np.int64)
    bucket = cents // _PSI_BUCKET_CENTS
    ref = od["o_orderdate"].to_numpy() < np.datetime64(_PSI_SPLIT)
    buckets = np.unique(bucket)
    nb = len(buckets)
    c_ref = np.array([(bucket[ref] == b).sum() for b in buckets], dtype=float)
    c_cur = np.array([(bucket[~ref] == b).sum() for b in buckets], dtype=float)
    p = (c_ref + 1) / (ref.sum() + nb)
    q = (c_cur + 1) / ((~ref).sum() + nb)
    want = float(((p - q) * np.log(p / q)).sum())
    assert row.n_ref == ref.sum() and row.n_cur == (~ref).sum()
    assert row.n_buckets == nb
    assert row.psi == pytest.approx(want, abs=1e-7)


def test_degenerate_psi(spark, tmp_path):
    """Degenerate contract at birth: a single-era corpus NULLs psi (no
    reference distribution to compare against); counts stay reported."""
    import datetime

    from clinical_bi_spark.queries.pipelineops import data_psi_drift

    spark.createDataFrame(
        [
            (i, 1, "O", float(100 * i), datetime.datetime(2000, 1, 2),
             "1-URGENT", "c", 0, "x")
            for i in range(5)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    r = data_psi_drift(spark, str(tmp_path)).first()
    assert r.n_ref == 0 and r.n_cur == 5 and r.psi is None


# ---------------------------------------------------------------------------
# evt_gapfill_interpolate — registered r14 (time-bucket gapfill +
# exact linear interpolation; see the parking comment in queries/events.py)
# ---------------------------------------------------------------------------


def test_gapfill_matches_oracle(spark, oracle_con):
    """Driver-shape adjudication of the parked candidate, plus proof the
    densification actually engaged (rows exist for buckets with no input)."""
    from clinical_bi_spark.queries.events import (
        _GAPFILL_ORACLE,
        evt_gapfill_interpolate,
    )
    from tests.conftest import assert_matches_oracle

    df = evt_gapfill_interpolate(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _GAPFILL_ORACLE, name="evt_gapfill_interpolate"
    )
    assert df.filter("src = 'interpolated'").count() > 0


def test_gapfill_interpolation_arithmetic(spark, tmp_path):
    """Hand-checkable synthetic: a 4-day gap between avg 1.00 and avg 5.00
    interpolates to exactly 2/3/4 in micro-units; a single-bucket user
    emits only its observed row; adjacent days synthesize nothing."""
    import datetime

    from clinical_bi_spark.queries.events import evt_gapfill_interpolate

    rows = [
        (1, datetime.datetime(2024, 1, 1, 5), 1, "view", 1.00, "{}"),
        (2, datetime.datetime(2024, 1, 5, 7), 1, "view", 4.00, "{}"),
        (3, datetime.datetime(2024, 1, 5, 9), 1, "view", 6.00, "{}"),
        (4, datetime.datetime(2024, 1, 1, 1), 2, "view", 9.99, "{}"),
        (5, datetime.datetime(2024, 1, 1, 1), 3, "view", 1.00, "{}"),
        (6, datetime.datetime(2024, 1, 2, 1), 3, "view", 2.00, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = evt_gapfill_interpolate(spark, str(tmp_path)).collect()

    interp = {
        (r.user_id, str(r.bucket_date), r.value_micro)
        for r in out
        if r.src == "interpolated"
    }
    assert interp == {
        (1, "2024-01-02", 2_000_000),
        (1, "2024-01-03", 3_000_000),
        (1, "2024-01-04", 4_000_000),
    }
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].src == "observed"
    assert u2[0].value_micro == 9_990_000
    u3 = sorted((r for r in out if r.user_id == 3), key=lambda r: r.bucket_date)
    assert [r.src for r in u3] == ["observed", "observed"]


def test_gapfill_near_bound_exactness(spark, tmp_path):
    """The stated 10^4·S·C·Δ < 2^62 bound, exercised NEAR the edge:
    S = 2^31−1 cents in one bucket, C = 128 in the other, Δ = 1025 days
    (largest intermediate ≈ 2.8e18 < 2^63) — every interpolated value
    must equal Python big-int floor division exactly."""
    import datetime

    from clinical_bi_spark.queries.events import evt_gapfill_interpolate

    base = datetime.datetime(2020, 1, 1)
    rows = [(0, base, 9, "view", 21474836.47, "{}")]  # s = 2^31 − 1, c = 1
    far = base + datetime.timedelta(days=1025)
    rows += [
        (i + 1, far, 9, "view", 1000.00, "{}") for i in range(128)
    ]  # ns = 128·100000, nc = 128
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        str(r.bucket_date): r.value_micro
        for r in evt_gapfill_interpolate(spark, str(tmp_path)).collect()
        if r.src == "interpolated"
    }
    assert len(out) == 1024
    s, c, ns, nc, gap = 2147483647, 1, 128 * 100000, 128, 1025
    d0 = (base.date() - datetime.date(1970, 1, 1)).days
    for t_off in (1, 2, 512, 1023, 1024):
        day = str(base.date() + datetime.timedelta(days=t_off))
        expected = (
            10000 * (s * nc * (gap - t_off) + ns * c * t_off)
        ) // (c * nc * gap)
        assert out[day] == expected, (day, out[day], expected)


# ---------------------------------------------------------------------------
# evt_time_weighted_avg — registered r14 (LOCF-integral time-weighted
# mean; see the parking comment in queries/events.py)
# ---------------------------------------------------------------------------


def test_twa_matches_oracle(spark, oracle_con):
    from clinical_bi_spark.queries.events import (
        _TWA_ORACLE,
        evt_time_weighted_avg,
    )
    from tests.conftest import assert_matches_oracle

    df = evt_time_weighted_avg(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _TWA_ORACLE, name="evt_time_weighted_avg"
    )


def test_twa_locf_integral_arithmetic(spark, tmp_path):
    """Hand-checkable: value 1.00 held 10 s then 3.00 held 30 s →
    TWA = (1·10 + 3·30)/40 = 2.5 exactly — while the plain average of the
    three observations is 2.333…, the burst-insensitivity the operator
    exists for. A single-event user emits NULL (no elapsed span)."""
    import datetime

    from clinical_bi_spark.queries.events import evt_time_weighted_avg

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 1.00, "{}"),
        (2, t0 + datetime.timedelta(seconds=10), 1, "view", 3.00, "{}"),
        (3, t0 + datetime.timedelta(seconds=40), 1, "view", 9.00, "{}"),
        (4, t0, 2, "view", 7.77, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.user_id: r for r in evt_time_weighted_avg(spark, str(tmp_path)).collect()
    }
    assert out[1].twa_micro == 2_500_000 and out[1].n_events == 3
    assert out[2].twa_micro is None and out[2].n_events == 1


def test_twa_remainder_split_exactness(spark, tmp_path):
    """The remainder-split identity near the stated bounds: a 30-day span
    in microseconds (~2.6e12) with max-scale cents — the split pieces stay
    under 2^63 while the naive 10^4·num would not; every value must equal
    Python big-int floor division of the UNSPLIT expression."""
    import datetime

    from clinical_bi_spark.queries.events import evt_time_weighted_avg

    t0 = datetime.datetime(2024, 1, 1)
    # irregular spacing with a prime-ish microsecond tail so num % span != 0
    offsets_us = [0, 7_000_003, 86_400_000_001, 2_592_000_000_017]
    values = [21474836.47, 999999.99, 0.01, 5.00]
    rows = [
        (i, t0 + datetime.timedelta(microseconds=o), 3, "view", v, "{}")
        for i, (o, v) in enumerate(zip(offsets_us, values))
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = evt_time_weighted_avg(spark, str(tmp_path)).first()
    cents = [round(v * 100) for v in values]
    num = sum(
        c * (offsets_us[i + 1] - offsets_us[i])
        for i, c in enumerate(cents[:-1])
    )
    span = offsets_us[-1] - offsets_us[0]
    assert num % span != 0  # the identity is actually exercised
    assert r.twa_micro == (10000 * num) // span


# ---------------------------------------------------------------------------
# graph_adamic_adar — parked r17 candidate (link prediction over the part
# co-purchase graph; see the parking comment in queries/graph.py)
# ---------------------------------------------------------------------------


def test_adamic_adar_matches_oracle(spark, oracle_con):
    from clinical_bi_spark.queries.graph import (
        _ADAMIC_ADAR_ORACLE,
        graph_adamic_adar,
    )
    from tests.conftest import assert_matches_oracle

    df = graph_adamic_adar(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _ADAMIC_ADAR_ORACLE, name="graph_adamic_adar"
    )


def test_adamic_adar_nano_term_engine_agreement(spark, oracle_con):
    """The one float in the pipeline, pinned per input: for every basket
    size the cap admits, round(1e9 / ln(deg)) must agree bit-for-bit
    across Spark, DuckDB, and Python (the nano-int is frozen BEFORE
    aggregation, so per-deg agreement proves score exactness)."""
    import math

    from clinical_bi_spark.queries.graph import _AA_BASKET_CAP

    degs = list(range(2, _AA_BASKET_CAP + 1))
    spark_terms = {
        r.deg: r.term
        for r in spark.sql(
            "SELECT deg, CAST(ROUND(1e9 / ln(CAST(deg AS DOUBLE))) AS BIGINT)"
            " AS term FROM VALUES "
            + ",".join(f"({d})" for d in degs)
            + " AS t(deg)"
        ).collect()
    }
    duck_terms = dict(
        oracle_con.execute(
            "SELECT deg, CAST(ROUND(1000000000.0 / ln(CAST(deg AS DOUBLE)))"
            " AS BIGINT) FROM (SELECT UNNEST(range(2, "
            f"{_AA_BASKET_CAP + 1})) AS deg)"
        ).fetchall()
    )
    for d in degs:
        py = round(1e9 / math.log(d))
        assert spark_terms[d] == duck_terms[d] == py, (
            d, spark_terms[d], duck_terms[d], py,
        )


def test_adamic_adar_closed_form_fixture(spark, tmp_path):
    """Hand graph: p1-p2 share customers {c1(deg 2), c2(deg 3), c3(deg 2)}
    → n_common 3, score term(2)+term(3)+term(2); every other pair has
    < 3 common customers and is absent. A hub customer whose basket
    exceeds the cap carries all three parts and must change nothing."""
    import math

    from clinical_bi_spark.queries.graph import (
        _AA_BASKET_CAP,
        graph_adamic_adar,
    )

    baskets = {1: [1, 2], 2: [1, 2, 3], 3: [1, 2], 4: [2, 3],
               5: list(range(1, _AA_BASKET_CAP + 2))}  # c5: over-cap hub
    orders, lineitem = [], []
    for cust, parts in baskets.items():
        orders.append((cust * 10, cust))
        lineitem.extend((cust * 10, p) for p in parts)
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lineitem, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    rows = graph_adamic_adar(spark, str(tmp_path)).collect()
    term = lambda d: round(1e9 / math.log(d))  # noqa: E731
    assert {(r.part_a, r.part_b): (r.n_common, r.aa_nano) for r in rows} == {
        (1, 2): (3, term(2) + term(3) + term(2))
    }
