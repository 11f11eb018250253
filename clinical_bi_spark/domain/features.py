"""Flagship feature pipeline and dashboard extract.

* :func:`flagship_features` — the SQL the reference assembles at
  ct_data.py:72-91 (9-table join, wide GROUP BY, two count-distincts),
  with its aggregates computed per study before the join.
* :func:`feature_table` — the eager pandas feature engineering
  (ct_data.py:106-151) as lazy DataFrame expressions.
* :func:`load_data` — the end-to-end parity entry point including the
  exact-size seeded split (ct_data.py:152).
* :func:`dashboard_extract` — the warehouse extract (db2wh-etl.sh:73-107)
  with the sed cleanse in-plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_bi_spark.functions.exprs import (
    ONCOLOGY_PATTERNS_DASHBOARD,
    contains_any,
    encode_categories,
    encode_last_writer_wins,
    null_to_zero,
    stage_from_title,
)

#: ct_data.py:21-26 — the s.* prefix of the select list.
SQL_COLUMN_NAMES = (
    "nct_id", "start_date", "study_type", "enrollment_type", "phase",
    "overall_status",
)
#: ct_data.py:28-29
STATUS = ("Completed", "Terminated")


def flagship_features(t) -> DataFrame:
    """The flagship feature query (ct_data.py:72-91), eagerly aggregated.

    Reference SQL (FLAGSHIP_SQL in tests/test_domain.py): an implicit
    9-way inner join on nct_id — including the sponsors self-join (sp
    filtered to 'lead' supplies agency_class; sp2 unfiltered feeds
    count(distinct name)) — grouped by nct_id and 17 study-level columns,
    with count(dgi.id), count(distinct i.intervention_type) and
    count(distinct sp2.name).

    nct_id is a group key, so the fan-out sides interventions, sp2 and
    design_group_interventions can be aggregated per study before the
    join (eager aggregation, Yan & Larson, VLDB 1995). A group joins
    ``mult`` rows of the other six sides (studies, cv, e, sp, d, bs —
    duplicated eligibilities or two lead sponsors of one agency_class
    make mult > 1) to each of the n_i × n_sp2 × n_dgi fan-out rows, so

    * count(dgi.id) = mult · n_i · n_sp2 · n_ids, with n_ids the study's
      non-null dgi ids;
    * count(distinct i.intervention_type) and count(distinct sp2.name)
      are the study's distinct non-null values — every group of a study
      sees all of its fan-out rows;
    * a study with no row on any fan-out side drops out (inner join).

    The per-study sides come from one union of the three tables,
    aggregated in two levels (per value, then per study) over one
    exchange on nct_id. The filtered one-row-per-key sides are broadcast
    onto it, and the final GROUP BY inherits the nct_id partitioning, so
    no long-text key (brief_title, criteria, description) is ever hashed
    into a shuffle. The broadcast hints keep the per-study side streamed;
    they assume each of the six sides, long texts included, fits in
    executor memory.
    """

    def tagged(df: DataFrame, side: str, value: F.Column, id_: F.Column) -> DataFrame:
        return df.select(
            "nct_id",
            F.lit(side).alias("side"),
            value.cast("string").alias("value"),
            id_.cast("long").alias("id"),
        )

    none = F.lit(None)
    fanout = (
        tagged(t.interventions, "i", F.col("intervention_type"), none)
        .unionByName(tagged(t.sponsors, "sp2", F.col("name"), none))
        .unionByName(tagged(t.design_group_interventions, "dgi", none, F.col("id")))
        .repartition("nct_id")
        .groupBy("nct_id", "side", "value")
        .agg(F.count(F.lit(1)).alias("rows"), F.count("id").alias("ids"))
    )
    on = lambda side: F.col("side") == side  # noqa: E731
    per_study = (
        fanout.groupBy("nct_id")
        .agg(
            F.sum(F.when(on("i"), F.col("rows"))).alias("n_i"),
            F.sum(F.when(on("sp2"), F.col("rows"))).alias("n_sp2"),
            F.sum(F.when(on("dgi"), F.col("rows"))).alias("n_dgi"),
            F.sum("ids").alias("n_ids"),
            F.count(F.when(on("i"), F.col("value"))).alias("intervention_type_count"),
            F.count(F.when(on("sp2"), F.col("value"))).alias("sponsor_count"),
        )
        .filter((F.col("n_i") > 0) & (F.col("n_sp2") > 0) & (F.col("n_dgi") > 0))
    )
    studies = t.studies.filter(
        (F.col("start_date") > F.lit("2019-01-01").cast("date"))
        & F.col("overall_status").isin(*STATUS)
        & F.col("enrollment").isNotNull()
    ).select(*SQL_COLUMN_NAMES, "brief_title", "number_of_arms")
    cv = t.calculated_values.filter(
        (F.col("is_oncology") == True)  # noqa: E712
        & (F.col("number_of_facilities") > 0)
    ).select(
        "nct_id", "number_of_facilities", "average_condition_completion_ratio",
        "has_us_facility",
    )
    sponsors = t.sponsors.filter(F.col("lead_or_collaborator") == "lead").select(
        "nct_id", F.col("agency_class").alias("sponsor_type")
    )
    sides = (
        studies,
        cv,
        t.eligibilities.select("nct_id", "gender", "criteria"),
        sponsors,
        t.designs.select("nct_id", "allocation", "intervention_model", "primary_purpose"),
        t.brief_summaries.select("nct_id", "description"),
    )
    joined = per_study
    for side in sides:
        joined = joined.join(F.broadcast(side), "nct_id")
    return (
        joined.groupBy(
            *SQL_COLUMN_NAMES,
            "sponsor_type",
            "number_of_facilities",
            "average_condition_completion_ratio",
            "gender",
            "has_us_facility",
            "brief_title",
            "number_of_arms",
            "criteria",
            "allocation",
            "intervention_model",
            "primary_purpose",
            "description",
            # functions of nct_id: grouping on them keeps one value per group
            "n_i", "n_sp2", "n_ids", "intervention_type_count", "sponsor_count",
        )
        .agg(F.count(F.lit(1)).alias("mult"))
        .select(
            *SQL_COLUMN_NAMES,
            "sponsor_type",
            "number_of_facilities",
            "gender",
            "has_us_facility",
            "average_condition_completion_ratio",
            # mixed-type CASE: Postgres coerces THEN '1' to int (SURVEY §7.4.4)
            stage_from_title(F.col("brief_title")).alias("condition_stage"),
            null_to_zero(F.col("number_of_arms")).cast("int").alias("number_of_arms_clean"),
            "allocation",
            "intervention_model",
            "primary_purpose",
            F.lit(0).alias("drug_recency"),
            "description",
            (F.col("mult") * F.col("n_i") * F.col("n_sp2") * F.col("n_ids"))
            .alias("design_group_intervention_count"),
            "intervention_type_count",
            "sponsor_count",
        )
    )


#: ct_data.py:107-146 — value-lookup encoders (order within each dict is the
#: reference's .loc statement order; none of these overlap, so order only
#: matters for the allocation chain below).
STUDY_TYPE_CODES = {
    "Expanded Access": 1, "Interventional": 2, "Observational": 3,
    "Observational [Patient Registry]": 4,
}
AGENCY_CODES = {"U.S. Fed": 0, "NIH": 1, "Industry": 2, "Other": 3}
GENDER_CODES = {"Male": 1, "Female": 2}
PRIMARY_PURPOSE_CODES = {
    "Basic Science": 1, "Device Feasibility": 2, "Diagnostic": 3,
    "Educational/Counseling/Training": 4, "Health Services Research": 5,
    "Prevention": 6, "Screening": 7, "Supportive Care": 8, "Treatment": 9,
}


def feature_table(features: DataFrame) -> DataFrame:
    """The pandas feature engineering (ct_data.py:106-151) as expressions.

    The allocation encoder is the overwrite-ordering gotcha
    (ct_data.py:127-131): five .loc masks applied in sequence, later
    writers win — including 'randomized' ⊂ 'non-randomized' substring
    overlap. encode_last_writer_wins reverses the chain to reproduce it.
    NULL descriptions: pandas str.contains yields NaN and the reference
    would fault on a NaN mask; the engine pins NULL → no match
    (documented difference, only reachable when description is NULL).
    """
    allocation_rules = [
        (F.col("allocation") == "Randomized", 1),
        (F.col("description").contains("randomized"), 1),
        (F.col("allocation") == "Non-Randomized", 2),
        (F.col("description").contains("non-randomized"), 2),
        (F.col("number_of_arms_clean") == 1, 2),
    ]
    status_rules = [
        (F.col("overall_status") == "Completed", 0),
        (F.col("overall_status") == "Terminated", 1),
    ]
    engineered = features.select(
        "*",
        F.year("start_date").alias("start_epoch"),
        encode_categories(F.col("study_type"), STUDY_TYPE_CODES).alias("study_type_category"),
        encode_categories(F.col("sponsor_type"), AGENCY_CODES).alias("agency_type_category"),
        encode_categories(F.col("gender"), GENDER_CODES).alias("gender_category"),
        encode_last_writer_wins(allocation_rules, 0).cast("int").alias("allocation_type"),
        encode_categories(
            F.col("enrollment_type"), {"Anticipated": 1}
        ).alias("enrollment_type_category"),
        encode_categories(
            F.col("primary_purpose"), PRIMARY_PURPOSE_CODES
        ).alias("primary_purpose_type"),
        encode_last_writer_wins(status_rules, 0).cast("int").alias("status"),
    )
    # ct_data.py:150-151 — drop the raw columns the encoders consumed
    return engineered.drop(
        "start_date", "overall_status", "average_condition_completion_ratio",
        "sponsor_type", "gender", "phase", "study_type", "has_us_facility",
        "allocation", "intervention_model", "primary_purpose",
        "enrollment_type", "description",
    )


def load_data(t, seed: int | None = None) -> tuple[DataFrame, DataFrame, DataFrame]:
    """End-to-end parity with ct_data.load_data (ct_data.py:66-165):
    flagship query → feature engineering → exact-size 0.7/0.005 split."""
    from clinical_bi_spark.operators.split import exact_size_seeded_split

    df = feature_table(flagship_features(t))
    return exact_size_seeded_split(df, 0.7, 0.005, seed=seed or 42, order_key="nct_id")


def dashboard_extract(t) -> DataFrame:
    """The warehouse extract (db2wh-etl.sh:73-107): studies ⟕
    calculated_values ⟕ conditions ⟕ interventions, with the 8-pattern
    dashboard oncology classifier ('anoma', not 'lanoma' — the pattern
    sets differ per site, SURVEY.md F3) emitting 't'/'f' char flags.

    The boolean columns stay BooleanType here; sinks.write_delimited
    formats them 't'/'f' to match the psql dump the DB2 loader consumed.
    """
    s = t.studies.alias("s")
    v = t.calculated_values.alias("v")
    c = t.conditions.alias("c")
    i = t.interventions.alias("i")
    key = F.col("s.nct_id")
    onco = contains_any(F.col("c.downcase_name"), ONCOLOGY_PATTERNS_DASHBOARD)
    return (
        s.join(v, key == F.col("v.nct_id"), "left")
        .join(c, key == F.col("c.nct_id"), "left")
        .join(i, key == F.col("i.nct_id"), "left")
        .select(
            F.col("s.nct_id").alias("nct_id"),
            F.col("s.overall_status").alias("overall_status"),
            F.col("s.phase").alias("phase"),
            F.col("s.start_date").alias("start_date"),
            F.col("s.study_first_submitted_date").alias("study_first_submitted_date"),
            F.col("s.study_type").alias("study_type"),
            F.col("s.number_of_arms").alias("number_of_arms"),
            F.col("s.number_of_groups").alias("number_of_groups"),
            F.col("s.source").alias("source"),
            F.col("s.enrollment").alias("enrollment"),
            F.col("s.enrollment_type").alias("enrollment_type"),
            F.col("v.number_of_facilities").alias("number_of_facilities"),
            F.col("v.has_us_facility").alias("has_us_facility"),
            F.col("v.has_single_facility").alias("has_single_facility"),
            F.col("c.downcase_name").alias("condition"),
            F.when(onco, F.lit("t")).otherwise(F.lit("f")).alias("condition_onco"),
            F.col("i.intervention_type").alias("intervention_type"),
            F.col("i.name").alias("intervention_name"),
        )
    )
