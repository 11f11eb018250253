"""The init-time ETL DAG: four derived analytics tables
(reference: docker/aact/docker-entrypoint-initdb.d/init-user-db.sh:38-274).

The reference runs ordered psql statement batches; dependencies are implicit
in statement order (SURVEY.md §3.2). Here the DAG is explicit function
composition over immutable DataFrames — the UPDATE…FROM / ALTER ADD COLUMN
steps (init-user-db.sh:181-194) become a rebuild join, and the b-tree
indexes (S12) are unnecessary for Parquet (partition pruning + min/max
stats replace them).

Scale notes: `studies` is the hub and is unique on nct_id, so every
studies-side join is at most 1:1 per satellite row; the satellite tables
(conditions/interventions) carry the fan-out. Each aggregate costs one
shuffle on short keys (`downcase_name`, `nct_id`, the lowered
intervention name, the (intervention, condition) pair). Where an
aggregate has two levels — a count(distinct …) or an explicit
pre-aggregation — a ``repartition`` on the outer key clusters both, so
Catalyst plans no second exchange and no Expand. AQE handles the skew of popular condition names ('healthy',
'breast cancer') at real scale.

Where multiplicity is load-bearing: `conditions` holds duplicate
(study, condition) pairs, and the reference's plain aggregates see every
duplicate — enrollment_avg in :func:`conditions_calculated_values`
(carried as the pair count ``m``), average_condition_completion_ratio in
:func:`enrich_calculated_values` and the (intervention, condition) study
counts of :func:`interventions_conditions` (summed over the raw rows).
Only the count(distinct …) outputs are free of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_bi_spark.functions.exprs import (
    ONCOLOGY_PATTERNS_CONDITIONS,
    ONCOLOGY_PATTERNS_TITLES,
    contains_any,
)
from clinical_bi_spark.sources import ParquetTables

BASE_TABLES = (
    "studies",
    "calculated_values",
    "conditions",
    "interventions",
    "sponsors",
    "eligibilities",
    "designs",
    "brief_summaries",
    "design_group_interventions",
)


class AACTTables(ParquetTables):
    """Handle bundle for an AACT parquet snapshot (the S3 bulk-restore
    source re-expressed as columnar files)."""

    names = BASE_TABLES

    def set(self, name: str, df: DataFrame) -> None:
        self._cache[name] = df


def conditions_calculated_values(
    conditions: DataFrame, studies: DataFrame
) -> DataFrame:
    """Per-condition cohort statistics (init-user-db.sh:38-117).

    Reference form: conditions ⨝ studies plus five conditional LEFT OUTER
    self-joins of studies (s_total/s_completed/s_terminated/s_withdrawn/
    s_done), each branch filtered in the join predicate, aggregated with
    count(distinct alias.nct_id) per branch. Because ``studies`` is unique
    on nct_id, each alias matches at most one row per condition row, so
    the five left joins are one join plus conditional aggregation.

    Plan: two aggregation levels over one exchange. ``conditions`` holds
    duplicate (study, condition) pairs, so the first level groups it to
    one row per (downcase_name, nct_id) and keeps the pair's multiplicity
    ``m``; the broadcast studies join follows; the second level groups to
    downcase_name, where each branch's count(distinct nct_id) is a plain
    conditional count and enrollment_avg = sum(m·enrollment) / sum(m)
    over the s_done rows (the reference's avg sees every duplicate). Both
    levels are clustered by the one ``repartition("downcase_name")``, so
    Catalyst adds no second shuffle and no Expand, and the studies
    broadcast runs beside the shuffle instead of before it. The literal
    five-join plan survives on TPC-H data as a registered cohort query
    (queries/relational.py).
    """
    interventional = F.col("study_type") == "Interventional"
    branch = {
        "total": interventional,
        "completed": interventional & (F.col("overall_status") == "Completed"),
        "terminated": interventional & (F.col("overall_status") == "Terminated"),
        "withdrawn": interventional & (F.col("overall_status") == "Withdrawn"),
    }
    # NB: != is null-rejecting, exactly like the reference's
    # s_done.enrollment_type != 'Anticipated' (init-user-db.sh:113)
    done = (
        interventional
        & F.col("overall_status").isin("Completed", "Terminated", "Withdrawn")
        & (F.col("enrollment_type") != "Anticipated")
        & F.col("enrollment").isNotNull()
    )
    pairs = (
        conditions.repartition("downcase_name")
        .groupBy("downcase_name", "nct_id")
        .agg(F.count(F.lit(1)).alias("m"))
        .join(F.broadcast(studies), "nct_id")  # inner, like c ⨝ s (:92-93)
    )
    count_if = lambda cond: F.count(F.when(cond, F.lit(1))).cast("int")  # noqa: E731
    agg = pairs.groupBy("downcase_name").agg(
        count_if(branch["total"]).alias("total_interventional_studies"),
        count_if(branch["completed"]).alias("completed_interventional_studies"),
        count_if(branch["terminated"]).alias("terminated_interventional_studies"),
        count_if(branch["withdrawn"]).alias("withdrawn_interventional_studies"),
        (
            F.sum(F.when(done, F.col("m") * F.col("enrollment")))
            / F.sum(F.when(done, F.col("m")))
        ).cast("float").alias("enrollment_avg"),
        F.min("study_first_submitted_date").alias("first_seen_date"),
    )
    return agg.select(
        "downcase_name",
        contains_any(F.col("downcase_name"), ONCOLOGY_PATTERNS_CONDITIONS).alias("is_oncology"),
        "total_interventional_studies",
        "completed_interventional_studies",
        "terminated_interventional_studies",
        "withdrawn_interventional_studies",
        _completion_ratio().alias("intervention_completion_ratio"),
        "enrollment_avg",
        "first_seen_date",
    )


def _completion_ratio() -> F.Column:
    """Guarded ratio with the reference's explicit real cast
    (init-user-db.sh:85-89)."""
    done = (
        F.col("completed_interventional_studies")
        + F.col("terminated_interventional_studies")
        + F.col("withdrawn_interventional_studies")
    )
    return (
        F.when(
            done > 0,
            F.col("completed_interventional_studies").cast("double") / done,
        )
        .otherwise(F.lit(0.0))
        .cast("float")
    )


def enrich_calculated_values(
    calculated_values: DataFrame,
    studies: DataFrame,
    designs: DataFrame,
    conditions: DataFrame,
    ccv: DataFrame,
) -> DataFrame:
    """Widen calculated_values with is_oncology / number_of_conditions /
    average_condition_completion_ratio / primary_purpose
    (init-user-db.sh:126-196: temp table + ALTER ADD COLUMN + UPDATE…FROM,
    re-expressed as an immutable rebuild join — SURVEY.md S10/S11).

    per-study aggregate: studies ⟕ designs ⟕ conditions ⟕ ccv (name-keyed),
    is_oncology = bool_or(condition-level flag) OR title classifier; NULL
    propagates exactly like Postgres three-valued OR (a study with no
    conditions and a non-matching title gets NULL, not false). studies is
    repartitioned on nct_id before the joins (ccv, one row per condition
    name, is broadcast), so that one exchange clusters both levels of
    count(distinct downcase_name) and brief_title stays out of the key.
    """
    title_onco = (
        F.when(
            contains_any(F.col("brief_title"), ONCOLOGY_PATTERNS_TITLES, strict_nulls=True),
            F.lit(True),
        ).otherwise(F.lit(False))
    )
    per_study = (
        studies.select("nct_id", "brief_title")
        .repartition("nct_id")
        .join(designs.select("nct_id", "primary_purpose"), "nct_id", "left")
        .join(conditions.select("nct_id", "downcase_name"), "nct_id", "left")
        .join(
            F.broadcast(
                ccv.select(
                    F.col("downcase_name").alias("ccv_name"),
                    F.col("is_oncology").alias("cond_is_oncology"),
                    F.col("intervention_completion_ratio"),
                )
            ),
            F.col("downcase_name") == F.col("ccv_name"),
            "left",
        )
        .groupBy("nct_id", "brief_title", "primary_purpose")
        .agg(
            (F.bool_or("cond_is_oncology") | title_onco).alias("is_oncology"),
            F.countDistinct("downcase_name").cast("int").alias("number_of_conditions"),
            F.avg("intervention_completion_ratio")
            .cast("float")
            .alias("average_condition_completion_ratio"),
        )
        .select(
            "nct_id",
            "is_oncology",
            "number_of_conditions",
            "average_condition_completion_ratio",
            "primary_purpose",
        )
    )
    return calculated_values.join(per_study, "nct_id", "left")


def interventions_with_downcase_name(interventions: DataFrame) -> DataFrame:
    """UPDATE interventions SET downcase_name = lower(name)
    (init-user-db.sh:202-204) as an immutable rebuild."""
    return interventions.withColumn("downcase_name", F.lower(F.col("name")))


def interventions_calculated_values(
    interventions: DataFrame, studies: DataFrame
) -> DataFrame:
    """Per-intervention rollup (init-user-db.sh:206-232): GROUP BY
    lower(name), distinct study count, first/last submission dates. The
    one exchange, on the lowered name, clusters both levels of
    count(distinct nct_id); the broadcast studies join follows it."""
    return (
        interventions.filter(F.col("name").isNotNull())
        .select(F.lower(F.col("name")).alias("intervention_name"), "nct_id")
        .repartition("intervention_name")
        .join(
            F.broadcast(studies.select("nct_id", "study_first_submitted_date")),
            "nct_id",
        )
        .groupBy("intervention_name")
        .agg(
            F.countDistinct("nct_id").cast("int").alias("studies"),
            F.min("study_first_submitted_date").alias("first_seen_date"),
            F.max("study_first_submitted_date").alias("last_seen_date"),
        )
    )


def interventions_conditions(
    interventions: DataFrame, conditions: DataFrame, studies: DataFrame
) -> DataFrame:
    """Intervention × condition co-occurrence (init-user-db.sh:237-269).
    count(s.nct_id) is NON-distinct on purpose: the i × c cross product per
    study is the reference's weighting (fan-out is load-bearing,
    SURVEY.md §7.4.1)."""
    i = interventions.filter(F.col("downcase_name").isNotNull()).select(
        "nct_id", F.col("downcase_name").alias("intervention_name")
    )
    c = conditions.select("nct_id", F.col("downcase_name").alias("condition_name"))
    return (
        i.join(studies.select("nct_id", "study_first_submitted_date"), "nct_id")
        .join(c, "nct_id")
        .groupBy("intervention_name", "condition_name")
        .agg(
            F.count("nct_id").cast("int").alias("studies"),
            F.min("study_first_submitted_date").alias("first_seen_date"),
            F.max("study_first_submitted_date").alias("last_seen_date"),
        )
    )


def run_etl(t: AACTTables) -> dict[str, DataFrame]:
    """The full init DAG with explicit dependencies (init-user-db.sh order:
    ccv → temp/rebuild of calculated_values → interventions downcase →
    interventions rollups). Returns the derived tables; callers persist
    with sinks.write_parquet / save_as_table."""
    ccv = conditions_calculated_values(t.conditions, t.studies)
    enriched_cv = enrich_calculated_values(
        t.calculated_values, t.studies, t.designs, t.conditions, ccv
    )
    interventions = interventions_with_downcase_name(t.interventions)
    t.set("calculated_values", enriched_cv)
    t.set("interventions", interventions)
    return {
        "conditions_calculated_values": ccv,
        "calculated_values": enriched_cv,
        "interventions": interventions,
        "interventions_calculated_values": interventions_calculated_values(
            interventions, t.studies
        ),
        "interventions_conditions": interventions_conditions(
            interventions, t.conditions, t.studies
        ),
    }
