"""DSIR importance-resampling selection: oracle parity and behavior.
Also runs the degenerate-corpus probe over DSIR and SemDeDup, so their
crash-free contract holds between scripts/degenerate_probe.py runs."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE, assert_matches_oracle


@pytest.fixture(scope="module")
def dsir_rows(spark):
    from clinical_bi_spark.queries.pipelineops import data_dsir_select

    return data_dsir_select(spark, SF_ORACLE).collect()


def test_dsir_matches_oracle(spark, oracle_con):
    from clinical_bi_spark.queries.pipelineops import (
        _DSIR_ORACLE,
        data_dsir_select,
    )

    df = data_dsir_select(spark, SF_ORACLE)
    assert_matches_oracle(df, oracle_con, _DSIR_ORACLE, name="data_dsir_select")


def test_dsir_selects_k_unique_ranked(dsir_rows):
    from clinical_bi_spark.queries.pipelineops import _DSIR_K

    assert len(dsir_rows) == _DSIR_K
    assert len({r.doc_id for r in dsir_rows}) == _DSIR_K
    assert sorted(r.pos for r in dsir_rows) == list(range(1, _DSIR_K + 1))
    # pos order is (key desc, doc_id asc)
    by_pos = sorted(dsir_rows, key=lambda r: r.pos)
    keys = [(-r.key_micro, r.doc_id) for r in by_pos]
    assert keys == sorted(keys)


def test_dsir_favors_target_language(spark, dsir_rows):
    """The method's point: importance weights pull the selection toward
    the target (English) distribution, well above the corpus base rate."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "lang"
    ).collect()
    lang = {r.doc_id: r.lang for r in docs}
    frac_corpus = sum(1 for v in lang.values() if v == "en") / len(lang)
    frac_sel = sum(1 for r in dsir_rows if lang[r.doc_id] == "en") / len(
        dsir_rows
    )
    assert frac_sel > frac_corpus + 0.2, (frac_sel, frac_corpus)


def test_dsir_scored_covers_corpus(spark):
    from clinical_bi_spark.queries.pipelineops import _dsir_scored

    n = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").count()
    rows = _dsir_scored(spark, SF_ORACLE).collect()
    assert len(rows) == n
    assert len({r.vec_id if hasattr(r, "vec_id") else r.doc_id for r in rows}) == n
    # en docs carry higher importance weight on average — the signal the
    # Gumbel-top-k then samples from
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "lang"
    ).collect()
    lang = {r.doc_id: r.lang for r in docs}
    en = [r.logw_micro for r in rows if lang[r.doc_id] == "en"]
    other = [r.logw_micro for r in rows if lang[r.doc_id] != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)


@pytest.fixture(scope="module")
def degenerate_dirs(spark, tmp_path_factory):
    from scripts.degenerate_probe import build_corpus

    dirs = {}
    for probe, mono in (("zeros", False), ("monokey", True)):
        d = str(tmp_path_factory.mktemp(probe))
        build_corpus(spark, d, mono)
        dirs[probe] = d
    return dirs


def test_r11_candidates_survive_degenerate_corpora(spark, degenerate_dirs):
    """Crash-free on zero-token docs / empty embeddings / single-entity
    corpora — the contract scripts/degenerate_probe.py will enforce once
    these register in r11."""
    from clinical_bi_spark.queries.pipelineops import data_dsir_select
    from clinical_bi_spark.queries.vectorops import dedup_semantic_cluster

    for d in degenerate_dirs.values():
        assert data_dsir_select(spark, d).count() == 64
        assert dedup_semantic_cluster(spark, d).count() == 64


# ---------------------------------------------------------------------------
# data_zorder_layout — registered r15 (Morton-curve layout map; see
# the parking comment in queries/pipelineops.py)
# ---------------------------------------------------------------------------


def test_zorder_matches_oracle(spark, oracle_con):
    from clinical_bi_spark.queries.pipelineops import (
        _ZORDER_ORACLE,
        data_zorder_layout,
    )

    df = data_zorder_layout(spark, SF_ORACLE)
    assert_matches_oracle(df, oracle_con, _ZORDER_ORACLE, name="data_zorder_layout")


def test_zorder_interleave_bit_exact(spark, oracle_con):
    """The Morton interleave itself, pinned value-for-value against a
    Python bit-twiddling reference on the full 8+8-bit corner set."""
    import duckdb  # noqa: F401 - oracle_con is the DuckDB handle

    def ref_z(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    corners = [(0, 0), (255, 255), (255, 0), (0, 255), (1, 2), (170, 85),
               (85, 170), (128, 64), (3, 252)]
    for x, y in corners:
        duck = oracle_con.execute(
            f"""SELECT CAST(list_sum(list_transform(range(0, 8), i ->
                  (({x} >> CAST(i AS INT)) & 1) * (1 << CAST(2 * i AS INT))
                + (({y} >> CAST(i AS INT)) & 1) * (1 << CAST(2 * i + 1 AS INT))))
                AS BIGINT)"""
        ).fetchone()[0]
        sp = spark.sql(
            "SELECT CAST(aggregate(sequence(0, 7), 0L, (acc, i) -> acc"
            f" + shiftleft(shiftright({x}L, i) & 1, 2 * i)"
            f" + shiftleft(shiftright({y}L, i) & 1, 2 * i + 1)) AS BIGINT)"
        ).first()[0]
        assert duck == sp == ref_z(x, y), (x, y, duck, sp, ref_z(x, y))


def test_zorder_prunes_both_dimensions(spark, oracle_con):
    """The layout claim itself, adjudicated: on a y-selective box (16 of
    256 y values, all x) the z-order bucket map must touch at most HALF
    the buckets a linear (x, y) sort layout touches — the linear layout's
    buckets each span all of y, so min/max pruning on y is useless."""
    from clinical_bi_spark.queries.pipelineops import data_zorder_layout

    zmap = data_zorder_layout(spark, SF_ORACLE).collect()
    assert len(zmap) == 64
    linear = oracle_con.execute(
        """WITH pts AS (
             SELECT o_orderkey, o_custkey % 256 AS x,
                    date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) % 256 AS y
             FROM orders
           ), b AS (
             SELECT x, y, NTILE(64) OVER (ORDER BY x, y, o_orderkey) AS bucket
             FROM pts)
           SELECT bucket, MIN(y), MAX(y) FROM b GROUP BY bucket"""
    ).fetchall()
    lo, hi = 40, 55
    touched_z = sum(1 for r in zmap if r.y_lo <= hi and r.y_hi >= lo)
    touched_linear = sum(1 for _, ylo, yhi in linear if ylo <= hi and yhi >= lo)
    assert touched_z * 2 <= touched_linear, (touched_z, touched_linear)
    # and the z layout still bounds x (prunes the other axis too)
    xlo, xhi = 40, 55
    touched_zx = sum(1 for r in zmap if r.x_lo <= xhi and r.x_hi >= xlo)
    assert touched_zx < 64


# ---------------------------------------------------------------------------
# data_compaction_plan — parked r17 candidate (ordered small-file bin
# packing; see the parking comment in queries/pipelineops.py)
# ---------------------------------------------------------------------------


def test_compaction_matches_oracle(spark, oracle_con):
    from clinical_bi_spark.queries.pipelineops import (
        _COMPACTION_ORACLE,
        data_compaction_plan,
    )

    df = data_compaction_plan(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _COMPACTION_ORACLE, name="data_compaction_plan"
    )


def test_compaction_bins_are_contiguous_date_runs(spark):
    """The layout claim: every bin is a contiguous, non-overlapping run
    of dates in bin order (the property that keeps min/max pruning
    intact after the rewrite), and the plan conserves the corpus."""
    import pyspark.sql.functions as F

    from clinical_bi_spark.queries.pipelineops import data_compaction_plan

    rows = sorted(
        data_compaction_plan(spark, SF_ORACLE).collect(), key=lambda r: r.bin
    )
    assert len(rows) > 1
    for a, b in zip(rows, rows[1:]):
        assert a.date_lo <= a.date_hi < b.date_lo, (a, b)
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    totals = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.lit(64)
            + F.length("o_orderpriority")
            + F.length("o_orderstatus")
        ).alias("b"),
    ).collect()[0]
    assert sum(r.n_rows for r in rows) == totals.n
    assert sum(r.total_bytes for r in rows) == totals.b


def test_compaction_closed_form_fixture(spark, tmp_path, monkeypatch):
    """Hand-computed packing: files of 120/90/100/250/70 bytes at a
    200-byte target must bin as {0: [d1, d2], 1: [d3, d4], 2: [d5]}
    (exclusive prefixes 0/120/210/310/560 → floor-div bins 0/0/1/1/2;
    d4 overflows bin 1 past the target — only its own tail may)."""
    from clinical_bi_spark.queries import pipelineops

    sizes = [120, 90, 100, 250, 70]  # row size = 64 + len(prio) + len("F")
    rows = [
        (i + 1, f"1995-01-0{i + 1}", "x" * (s - 65), "F")
        for i, s in enumerate(sizes)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, d string, o_orderpriority string, o_orderstatus string"
    ).selectExpr(
        "o_orderkey", "CAST(d AS DATE) AS o_orderdate",
        "o_orderpriority", "o_orderstatus",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    monkeypatch.setattr(pipelineops, "_COMPACTION_TARGET", 200)
    got = {
        r.bin: (r.n_files, r.total_bytes, str(r.date_lo), str(r.date_hi))
        for r in pipelineops.data_compaction_plan(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: (2, 210, "1995-01-01", "1995-01-02"),
        1: (2, 350, "1995-01-03", "1995-01-04"),
        2: (1, 70, "1995-01-05", "1995-01-05"),
    }
