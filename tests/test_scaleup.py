"""Smoke test for scripts/scaleup.py: replication sizes, the same-stride
join rule and the ``load_tables`` patch, at x1 and x2 on sf0.001."""

from __future__ import annotations

import sys

from clinical_bi_spark.queries import load_all
from clinical_bi_spark.sources import load_tables
from scripts import scaleup
from tests.conftest import SF_SMALL

JOIN_QUERY = "j2_selfjoin_fanout"  # orders ⋈ lineitem, one row per order
QUERIES = [JOIN_QUERY, "multimodal_audio_resample"]


def test_scale_up_replicates_and_restores_the_hook(spark):
    results = dict(scaleup.scale_up(spark, QUERIES, [1, 2], SF_SMALL))

    assert sorted(results) == [1, 2]
    base = {
        t: spark.read.parquet(f"{SF_SMALL}/{t}.parquet").count()
        for t in results[1]["rows"]
    }
    assert {"orders", "lineitem", "documents"} <= set(base)
    for mult, row in results.items():
        assert row["rows"] == {t: mult * n for t, n in base.items()}
        assert all(row[q] > 0 for q in QUERIES)
    for mod in ("relational", "multimodalops"):
        module = sys.modules[f"clinical_bi_spark.queries.{mod}"]
        assert module.load_tables is load_tables


def test_copies_are_new_entities(spark):
    """Orders and lineitem shift their order keys by the same stride, so
    the join output at x2 is exactly twice that at x1; each document
    copy has its own text, so exact dedup keeps every copy."""
    fn = load_all()[JOIN_QUERY].fn
    rows, texts = {}, {}
    for mult in (1, 2):
        tables = scaleup.ReplicatedTables(spark=spark, base_path=SF_SMALL, mult=mult)
        try:
            with scaleup.patched(fn.__module__, tables):
                rows[mult] = fn(spark, SF_SMALL).count()
            texts[mult] = tables.documents.select("text").distinct().count()
        finally:
            tables.release()
    assert rows[1] > 0
    assert rows[2] == 2 * rows[1]
    assert texts[2] == 2 * texts[1]
