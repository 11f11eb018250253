"""Unicode oracle contract, pinned in pytest (r10).

The fixtures are pure ASCII, so the differential suite never exercises
cross-engine unicode semantics. The r10 sweep
(scripts/unicode_probe.py) found four real divergences on a non-ASCII
corpus — rounding-boundary micro disagreements in the quality family
and character-vs-byte slicing in the frame oracle. This module pins
those fixes every session: the representative queries must oracle-match
on the probe's unicode corpus, not just on ASCII.

(The full 178-query unicode sweep stays in the probe script — it takes
minutes; these five queries cover every surface the sweep found
divergent plus the tokenization-heavy text_stats.)
"""

from __future__ import annotations

import duckdb
import pytest

from clinical_bi_spark.queries import load_all
from tests.conftest import SF_SMALL, assert_matches_oracle

REGISTRY = load_all()

_QUERIES = (
    "text_quality_score",
    "data_quality_select",
    "text_stats",
    "multimodal_frame_sample",
    "pipeline_corpus_curation",
)

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory):
    from scripts.unicode_probe import build_corpus

    dest = str(tmp_path_factory.mktemp("unicode_sf"))
    build_corpus(SF_SMALL, dest)
    return dest


@pytest.fixture(scope="module")
def unicode_oracle_con(unicode_sf):
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{unicode_sf}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _QUERIES)
def test_unicode_corpus_oracle_match(spark, unicode_sf, unicode_oracle_con, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, unicode_sf)
    assert_matches_oracle(df, unicode_oracle_con, spec.oracle, name=f"unicode:{name}")
