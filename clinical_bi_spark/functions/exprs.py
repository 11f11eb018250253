"""Scalar expression builders covering SURVEY.md §2.6 (F1–F10) and the
pandas encoder patterns (§2.2 P9/P10, §2.7 M2).

All builders return Catalyst Column expressions (no UDFs) so they stay
inside whole-stage codegen — the reference's equivalents ran inside
PostgreSQL's evaluator, and these run inside Spark's.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def contains_any(col: Column, patterns: Iterable[str], *, strict_nulls: bool = False) -> Column:
    """OR of substring tests — the reference's multi-pattern classifier (F3).

    Reference: the oncology classifier ORs 8–15 ``position(p in col) > 0``
    tests (db2wh-etl.sh:90-97, init-user-db.sh:63-77, :145-158). Patterns
    are matched case-sensitively, exactly as the reference applies them
    (lowercase-tuned patterns are applied raw to mixed-case columns at
    init-user-db.sh:145-158 — replicated, not "fixed"; SURVEY.md §7.4.5).

    NULL semantics: with ``strict_nulls=False`` (default) a NULL input
    yields ``false`` — matching what a WHERE clause or a CASE branch does
    with SQL NULL. With ``strict_nulls=True`` the NULL propagates.
    """
    expr: Column | None = None
    for pattern in patterns:
        test = col.contains(pattern)
        expr = test if expr is None else (expr | test)
    if expr is None:
        return F.lit(False)
    return expr if strict_nulls else F.coalesce(expr, F.lit(False))


#: The three distinct pattern sets the reference uses (they differ — keep
#: per-site lists; SURVEY.md F3).
ONCOLOGY_PATTERNS_CONDITIONS = (
    "ancer", "cinoma", "eukem", "phoma", "umor", "umour", "eoplasm",
    "lanoma", "yeloma", "lioma", "toma", "myelodysplas",
    "estrogen receptor", "sterone receptor", "neu negative",
)  # init-user-db.sh:63-77
ONCOLOGY_PATTERNS_TITLES = ONCOLOGY_PATTERNS_CONDITIONS  # init-user-db.sh:145-158
ONCOLOGY_PATTERNS_DASHBOARD = (
    "ancer", "cinoma", "eukem", "phoma", "umor", "umour", "eoplasm", "anoma",
)  # db2wh-etl.sh:90-97 — note 'anoma' (not 'lanoma') and no 'toma'


def stage_from_title(title: Column) -> Column:
    """Stage extraction CASE (F1/F2): ``LIKE '%age III%' → 1, '%age IV%' → 2,
    else 0`` — reference ct_data.py:75-76 (mixed-type CASE resolved to int,
    SURVEY.md §7.4.4).
    """
    return (
        F.when(title.like("%age III%"), F.lit(1))
        .when(title.like("%age IV%"), F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
    )


def null_to_zero(col: Column) -> Column:
    """F8: ``CASE WHEN x IS NULL THEN 0 ELSE x END`` (ct_data.py:76)."""
    return F.coalesce(col, F.lit(0))


def cleanse_text(col: Column) -> Column:
    """F10/S5: the sed cleanse done in-engine instead of as a file post-pass.

    Reference: ``sed "s/\\"/'/g"`` and ``'s/ | / - /g'`` over the exported
    dump (db2wh-etl.sh:158-159). Here it is a Catalyst expression applied
    before the sink, so the delimited export needs no second pass. Both
    patterns are literals, so literal string functions do the work:
    ``RegExpReplace`` would round-trip every value through
    ``java.lang.String``.
    """
    no_quotes = F.translate(col, '"', "'")
    return F.replace(no_quotes, F.lit(" | "), F.lit(" - "))


def encode_last_writer_wins(
    rules: Sequence[tuple[Column, Column | int | str | float]],
    default: Column | int | str | float,
) -> Column:
    """Compile a sequence of pandas ``df.loc[mask, col] = value`` statements
    into one when-chain with *last-writer-wins* semantics (M2/P9).

    Reference: ct_data.py:107-146 applies up to 4 overlapping masks in
    sequence; a later statement overwrites earlier ones (e.g. the
    allocation encoder: value-lookup rules, then a ``description contains
    'randomized'`` override — which also matches 'non-randomized' — then a
    ``number_of_arms==1`` override; ct_data.py:127-131). Evaluating the
    rules in *reverse* order in a when-chain reproduces the overwrite
    ordering exactly (SURVEY.md §7.4.2).
    """
    chain: Column | None = None
    for cond, value in reversed(list(rules)):
        chain = F.when(cond, value) if chain is None else chain.when(cond, value)
    if chain is None:
        return F.lit(default)
    return chain.otherwise(default)


def encode_categories(col: Column, mapping: dict[str, int]) -> Column:
    """Integer categorical encoding by value lookup (M2, ct_data.py:107-146).

    NULL input → 0, matching pandas where NaN never matches any mask.
    """
    rules: list[tuple[Column, int]] = [
        (col == F.lit(value), code) for value, code in mapping.items()
    ]
    return encode_last_writer_wins(rules, 0).cast("int")
