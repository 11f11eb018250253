"""Domain differential tests: the engine's AACT pipeline vs DuckDB running
the reference's own SQL (adapted from PostgreSQL syntax, semantics
unchanged; every oracle cites the reference site it pins).

Fixtures: deterministic AACT-shaped micro-tables (domain/fixtures.py,
FIXTURES.md contract), generated once per session.
"""

from __future__ import annotations

import duckdb
import pytest

from clinical_bi_spark.domain import (
    AACTTables,
    conditions_calculated_values,
    dashboard_extract,
    feature_table,
    flagship_features,
    interventions_calculated_values,
    interventions_conditions,
    interventions_with_downcase_name,
    run_etl,
)
from clinical_bi_spark.domain.fixtures import SCHEMAS, generate, write_tables
from tests.conftest import assert_matches_oracle

_ONCO_15 = (
    "ancer", "cinoma", "eukem", "phoma", "umor", "umour", "eoplasm",
    "lanoma", "yeloma", "lioma", "toma", "myelodysplas",
    "estrogen receptor", "sterone receptor", "neu negative",
)
_ONCO_DASH = ("ancer", "cinoma", "eukem", "phoma", "umor", "umour", "eoplasm", "anoma")


def _onco_sql(col: str, patterns=_ONCO_15) -> str:
    return " or ".join(f"position('{p}' in {col}) > 0" for p in patterns)


# init-user-db.sh:50-117 — literal five conditional left joins.
CCV_SQL = f"""
select
    c.downcase_name as downcase_name,
    case when {_onco_sql('c.downcase_name')} then true else false end as is_oncology,
    CAST(count(distinct s_total.nct_id) AS INT) as total_interventional_studies,
    CAST(count(distinct s_completed.nct_id) AS INT) as completed_interventional_studies,
    CAST(count(distinct s_terminated.nct_id) AS INT) as terminated_interventional_studies,
    CAST(count(distinct s_withdrawn.nct_id) AS INT) as withdrawn_interventional_studies,
    CAST(case when (count(distinct s_completed.nct_id) + count(distinct s_terminated.nct_id)
                    + count(distinct s_withdrawn.nct_id)) > 0
         then cast(count(distinct s_completed.nct_id) as double)
              / (count(distinct s_completed.nct_id) + count(distinct s_terminated.nct_id)
                 + count(distinct s_withdrawn.nct_id))
         else 0 end AS REAL) as intervention_completion_ratio,
    CAST(avg(s_done.enrollment) AS REAL) as enrollment_avg,
    min(s_all.study_first_submitted_date) as first_seen_date
from conditions as c
inner join studies as s on c.nct_id = s.nct_id
left outer join studies as s_total on c.nct_id = s_total.nct_id
    and s_total.study_type = 'Interventional'
left outer join studies as s_completed on c.nct_id = s_completed.nct_id
    and s_completed.overall_status = 'Completed' and s_completed.study_type = 'Interventional'
left outer join studies as s_terminated on c.nct_id = s_terminated.nct_id
    and s_terminated.overall_status = 'Terminated' and s_terminated.study_type = 'Interventional'
left outer join studies as s_withdrawn on c.nct_id = s_withdrawn.nct_id
    and s_withdrawn.overall_status = 'Withdrawn' and s_withdrawn.study_type = 'Interventional'
left outer join studies as s_done on c.nct_id = s_done.nct_id
    and s_done.overall_status in ('Completed', 'Terminated', 'Withdrawn')
    and s_done.study_type = 'Interventional' and s_done.enrollment_type != 'Anticipated'
join studies as s_all on c.nct_id = s_all.nct_id
group by c.downcase_name
"""

# init-user-db.sh:130-177 (temp_calculated_values) + :186-194 (UPDATE...FROM)
CV_ENRICHED_SQL = f"""
with temp as (
  select
      s_join.nct_id as nct_id,
      bool_or(ce.is_oncology) or
          case when {_onco_sql('s_join.brief_title')} then true else false end
        as is_oncology,
      CAST(count(distinct c.downcase_name) AS INT) as number_of_conditions,
      CAST(avg(ce.intervention_completion_ratio) AS REAL)
        as average_condition_completion_ratio,
      d.primary_purpose as primary_purpose
  from studies as s_join
  left outer join designs as d on s_join.nct_id = d.nct_id
  left outer join conditions as c on c.nct_id = s_join.nct_id
  left outer join ccv as ce on c.downcase_name = ce.downcase_name
  group by s_join.nct_id, s_join.brief_title, d.primary_purpose
)
select cv.nct_id, cv.number_of_facilities, cv.has_us_facility, cv.has_single_facility,
       t.is_oncology, t.number_of_conditions, t.average_condition_completion_ratio,
       t.primary_purpose
from calculated_values cv
left join temp t on cv.nct_id = t.nct_id
"""

# init-user-db.sh:214-232
ICV_SQL = """
select
    lower(i.name) as intervention_name,
    CAST(count(distinct i.nct_id) AS INT) as studies,
    min(s.study_first_submitted_date) as first_seen_date,
    max(s.study_first_submitted_date) as last_seen_date
from interventions as i, studies as s
where i.name is NOT NULL and s.nct_id = i.nct_id
group by lower(i.name)
"""

# init-user-db.sh:246-269 (after the :202-204 downcase update)
IC_SQL = """
with i as (select *, lower(name) as downcase_name from interventions)
select
    i.downcase_name as intervention_name,
    c.downcase_name as condition_name,
    CAST(count(s.nct_id) AS INT) as studies,
    min(s.study_first_submitted_date) as first_seen_date,
    max(s.study_first_submitted_date) as last_seen_date
from i, conditions as c, studies as s
where i.downcase_name is NOT NULL and s.nct_id = i.nct_id and s.nct_id = c.nct_id
group by i.downcase_name, c.downcase_name
"""

# db2wh-etl.sh:74-106
DASHBOARD_SQL = f"""
select s.nct_id as nct_id,
    s.overall_status as overall_status,
    s.phase as phase,
    s.start_date as start_date,
    s.study_first_submitted_date as study_first_submitted_date,
    s.study_type as study_type,
    s.number_of_arms as number_of_arms,
    s.number_of_groups as number_of_groups,
    s.source as source,
    s.enrollment as enrollment,
    s.enrollment_type as enrollment_type,
    v.number_of_facilities as number_of_facilities,
    v.has_us_facility as has_us_facility,
    v.has_single_facility as has_single_facility,
    c.downcase_name as condition,
    case when ({_onco_sql('c.downcase_name', _ONCO_DASH)}) then 't' else 'f' end
      as condition_onco,
    i.intervention_type as intervention_type,
    i.name as intervention_name
from studies as s
left outer join calculated_values as v on s.nct_id = v.nct_id
left outer join conditions as c on s.nct_id = c.nct_id
left outer join interventions as i on s.nct_id = i.nct_id
"""

# ct_data.py:72-91, run against the post-ETL calculated_values
FLAGSHIP_SQL = """
select s.nct_id as nct_id, s.start_date as start_date, s.study_type as study_type,
    s.enrollment_type as enrollment_type, s.phase as phase,
    s.overall_status as overall_status,
    sp.agency_class as sponsor_type, cv.number_of_facilities as number_of_facilities,
    e.gender as gender, cv.has_us_facility as has_us_facility,
    cv.average_condition_completion_ratio as average_condition_completion_ratio,
    CAST(case when s.brief_title LIKE '%age III%' then 1
              when s.brief_title LIKE '%age IV%' then 2 else 0 end AS INT)
      as condition_stage,
    CAST(case when s.number_of_arms IS NULL then 0 else s.number_of_arms end AS INT)
      as number_of_arms_clean,
    d.allocation as allocation, d.intervention_model as intervention_model,
    d.primary_purpose as primary_purpose, 0 as drug_recency, bs.description as description,
    count(dgi.id) as design_group_intervention_count,
    count(distinct i.intervention_type) as intervention_type_count,
    count(distinct sp2.name) as sponsor_count
from studies as s, cv_enriched as cv, eligibilities as e, interventions as i,
    sponsors as sp, sponsors as sp2, design_group_interventions as dgi,
    designs as d, brief_summaries as bs
where s.nct_id = cv.nct_id and s.nct_id = sp.nct_id and s.nct_id = i.nct_id
  and s.nct_id = sp2.nct_id and s.nct_id = e.nct_id
  and s.nct_id = dgi.nct_id and s.nct_id = d.nct_id and s.nct_id = bs.nct_id
  and s.start_date > DATE '2019-01-01'
  and cv.is_oncology = true
  and s.overall_status in ('Completed', 'Terminated')
  and s.enrollment IS NOT NULL and cv.number_of_facilities > 0
  and sp.lead_or_collaborator = 'lead'
group by s.nct_id, s.start_date, s.study_type, s.enrollment_type, s.phase,
    s.overall_status, sponsor_type, cv.number_of_facilities,
    cv.average_condition_completion_ratio, e.gender, cv.has_us_facility,
    s.brief_title, s.number_of_arms, e.criteria,
    d.allocation, d.intervention_model, d.primary_purpose, bs.description
"""

# ct_data.py:106-151 — encoders with last-writer-wins, reversed into CASE.
FEATURES_SQL = f"""
with f as ({FLAGSHIP_SQL})
select nct_id, number_of_facilities, condition_stage, number_of_arms_clean,
    drug_recency, design_group_intervention_count, intervention_type_count,
    sponsor_count,
    CAST(year(start_date) AS INT) as start_epoch,
    CAST(case study_type when 'Expanded Access' then 1 when 'Interventional' then 2
         when 'Observational' then 3 when 'Observational [Patient Registry]' then 4
         else 0 end AS INT) as study_type_category,
    CAST(case sponsor_type when 'U.S. Fed' then 0 when 'NIH' then 1
         when 'Industry' then 2 when 'Other' then 3 else 0 end AS INT)
      as agency_type_category,
    CAST(case gender when 'Male' then 1 when 'Female' then 2 else 0 end AS INT)
      as gender_category,
    CAST(case when number_of_arms_clean = 1 then 2
              when description LIKE '%non-randomized%' then 2
              when allocation = 'Non-Randomized' then 2
              when description LIKE '%randomized%' then 1
              when allocation = 'Randomized' then 1
              else 0 end AS INT) as allocation_type,
    CAST(case when enrollment_type = 'Anticipated' then 1 else 0 end AS INT)
      as enrollment_type_category,
    CAST(case primary_purpose when 'Basic Science' then 1 when 'Device Feasibility' then 2
         when 'Diagnostic' then 3 when 'Educational/Counseling/Training' then 4
         when 'Health Services Research' then 5 when 'Prevention' then 6
         when 'Screening' then 7 when 'Supportive Care' then 8 when 'Treatment' then 9
         else 0 end AS INT) as primary_purpose_type,
    CAST(case when overall_status = 'Terminated' then 1 else 0 end AS INT) as status
from f
"""


@pytest.fixture(scope="session")
def aact_dir(tmp_path_factory):
    return generate(str(tmp_path_factory.mktemp("aact")))


@pytest.fixture(scope="session")
def aact(spark, aact_dir):
    return AACTTables(spark=spark, base_path=aact_dir)


def _oracle(base_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the snapshot's base tables plus the reference's two
    derived tables the later SQL reads."""
    con = duckdb.connect()
    for name in SCHEMAS:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{base_dir}/{name}.parquet')"
        )
    con.execute(f"CREATE TABLE ccv AS {CCV_SQL}")
    con.execute(f"CREATE TABLE cv_enriched AS {CV_ENRICHED_SQL}")
    return con


@pytest.fixture(scope="session")
def aact_oracle(aact_dir):
    con = _oracle(aact_dir)
    yield con
    con.close()


def test_conditions_calculated_values(aact, aact_oracle):
    df = conditions_calculated_values(aact.conditions, aact.studies)
    assert_matches_oracle(df, aact_oracle, "SELECT * FROM ccv", name="ccv")


def test_enrich_calculated_values(aact, aact_oracle):
    derived = run_etl(AACTTables(spark=aact.spark, base_path=aact.base_path))
    assert_matches_oracle(
        derived["calculated_values"],
        aact_oracle,
        "SELECT * FROM cv_enriched",
        name="cv_enriched",
    )


def test_interventions_calculated_values(aact, aact_oracle):
    df = interventions_calculated_values(
        interventions_with_downcase_name(aact.interventions), aact.studies
    )
    assert_matches_oracle(df, aact_oracle, ICV_SQL, name="icv")


def test_interventions_conditions(aact, aact_oracle):
    df = interventions_conditions(
        interventions_with_downcase_name(aact.interventions),
        aact.conditions,
        aact.studies,
    )
    assert_matches_oracle(df, aact_oracle, IC_SQL, name="ic")


def test_dashboard_extract(aact, aact_oracle):
    assert_matches_oracle(
        dashboard_extract(aact), aact_oracle, DASHBOARD_SQL, name="dashboard"
    )


def test_flagship_features(aact, aact_oracle):
    t = AACTTables(spark=aact.spark, base_path=aact.base_path)
    run_etl(t)  # flagship reads the post-ETL calculated_values
    df = flagship_features(t)
    assert df.count() > 50, "flagship filter conjunction must keep the forced block"
    assert_matches_oracle(df, aact_oracle, FLAGSHIP_SQL, name="flagship")


def test_feature_table(aact, aact_oracle):
    t = AACTTables(spark=aact.spark, base_path=aact.base_path)
    run_etl(t)
    df = feature_table(flagship_features(t))
    assert_matches_oracle(df, aact_oracle, FEATURES_SQL, name="features")


def test_load_data_split_sizes(aact):
    from clinical_bi_spark.domain import load_data

    t = AACTTables(spark=aact.spark, base_path=aact.base_path)
    run_etl(t)
    train, validate, test = load_data(t, seed=7)
    n = train.count() + validate.count() + test.count()
    assert train.count() == int(0.7 * n)
    assert validate.count() == int(0.005 * n)


def test_dashboard_delimited_sink(aact, tmp_path):
    """S4/S5/S7 surface: pipe-delimited headerless export with in-plan
    cleanse and 't'/'f' boolean formatting (db2wh-etl.sh:73,158-159)."""
    import glob

    from clinical_bi_spark.sinks import write_delimited

    out = str(tmp_path / "ctgov_dump")
    write_delimited(dashboard_extract(aact), out)
    files = glob.glob(f"{out}/part-*.csv")
    assert files
    lines = [line for f in files for line in open(f).read().splitlines()]
    df_rows = dashboard_extract(aact).count()
    assert len(lines) == df_rows
    sample = lines[0].split("|")
    assert len(sample) == 18
    tf = {v for line in lines for v in (line.split("|")[12], line.split("|")[13])}
    assert tf <= {"t", "f", ""}
    assert not any('"' in line for line in lines), "cleanse must strip quotes"


def test_derived_table_primary_keys_unique(aact):
    """SURVEY.md §4: the reference's PRIMARY KEY declarations
    (init-user-db.sh:39,211,243) become data-quality assertions here —
    Spark enforces no constraints, so uniqueness is part of the contract
    tests."""
    from pyspark.sql import functions as F

    derived = run_etl(AACTTables(spark=aact.spark, base_path=aact.base_path))
    checks = {
        "conditions_calculated_values": ["downcase_name"],
        "interventions_calculated_values": ["intervention_name"],
        "interventions_conditions": ["intervention_name", "condition_name"],
        "calculated_values": ["nct_id"],
    }
    for table, keys in checks.items():
        dupes = (
            derived[table].groupBy(*keys).count().filter(F.col("count") > 1).count()
        )
        assert dupes == 0, f"{table}: duplicate keys on {keys}"


def _edge_snapshot(out_dir: str) -> str:
    """Hand-built snapshot that plants each multiplicity case by name;
    the seeded fixture has no study with two leads, a duplicated
    eligibility row, NULL dgi ids or a missing fan-out side. Every study
    passes the flagship filter conjunction unless its row says
    otherwise."""
    import datetime as dt

    rows: dict[str, list[dict]] = {name: [] for name in SCHEMAS}

    def study(nct_id, conditions=("lung carcinoma",), interventions=("Drug",),
              sponsors=(("lead", "Industry", "Mega Pharma 1"),), eligibilities=1,
              dgi_ids=(1,), **overrides):
        rows["studies"].append(dict(
            nct_id=nct_id, overall_status="Completed", phase="Phase 2",
            start_date=dt.date(2020, 3, 1),
            study_first_submitted_date=dt.date(2019, 11, 1),
            study_type="Interventional", number_of_arms=2, number_of_groups=2,
            source="Mega Pharma", enrollment=100, enrollment_type="Actual",
            brief_title="A Study of Aspirin in Cancer Stage III Patients",
        ) | overrides)
        rows["calculated_values"].append(dict(
            nct_id=nct_id, number_of_facilities=5, has_us_facility=True,
            has_single_facility=False,
        ))
        rows["conditions"] += [dict(nct_id=nct_id, downcase_name=c) for c in conditions]
        rows["interventions"] += [
            dict(id=len(rows["interventions"]) + 1, nct_id=nct_id,
                 intervention_type=kind, name="Aspirin")
            for kind in interventions
        ]
        rows["sponsors"] += [
            dict(nct_id=nct_id, lead_or_collaborator=role, agency_class=agency, name=name)
            for role, agency, name in sponsors
        ]
        rows["eligibilities"] += [
            dict(nct_id=nct_id, gender="All", criteria="Inclusion: adults 18+.")
        ] * eligibilities
        rows["designs"].append(dict(
            nct_id=nct_id, allocation="Randomized",
            intervention_model="Parallel Assignment", primary_purpose="Treatment",
        ))
        rows["brief_summaries"].append(dict(nct_id=nct_id, description="A randomized trial."))
        rows["design_group_interventions"] += [
            dict(id=i, nct_id=nct_id) for i in dgi_ids
        ]

    # two leads of different agency_class: two groups; sp2 counts every
    # sponsor name once, and the collaborator shares a lead's name
    study("NCT00000001", interventions=("Drug", "Drug", None, "Device"), sponsors=(
        ("lead", "Industry", "Mega Pharma 1"), ("lead", "NIH", "NIH 2"),
        ("collaborator", "Other", "Mega Pharma 1"),
    ), dgi_ids=(1, 2, None))
    # a duplicated eligibility row: one group of multiplicity 2
    study("NCT00000002", eligibilities=2, dgi_ids=(3, 4))
    # dgi rows whose ids are all NULL: the row stays, count(dgi.id) = 0
    study("NCT00000003", interventions=(None,), dgi_ids=(None, None))
    # no dgi rows / no interventions: the inner join drops both
    study("NCT00000004", dgi_ids=())
    study("NCT00000005", interventions=())
    # duplicate (study, condition) pairs on studies of different
    # enrollments: the reference's enrollment_avg weighs each duplicate
    study("NCT00000006", conditions=("breast cancer", "breast cancer", "asthma"),
          enrollment=100, eligibilities=2)
    study("NCT00000007", conditions=("breast cancer",), enrollment=300,
          overall_status="Terminated")
    study("NCT00000008", conditions=("breast cancer", "breast cancer"), enrollment=40,
          overall_status="Withdrawn", start_date=None)
    # not done: anticipated enrollment, and a recruiting study
    study("NCT00000009", conditions=("breast cancer", "breast cancer"),
          enrollment_type="Anticipated")
    study("NCT00000010", conditions=("asthma", "asthma"), overall_status="Recruiting",
          brief_title="Sleep Study")
    return write_tables(out_dir, rows)


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    base = _edge_snapshot(str(tmp_path_factory.mktemp("aact_edge")))
    con = _oracle(base)
    t = AACTTables(spark=spark, base_path=base)
    yield run_etl(t), t, con
    con.close()


def test_edge_conditions_calculated_values(edge):
    derived, _, con = edge
    assert_matches_oracle(
        derived["conditions_calculated_values"], con, "SELECT * FROM ccv", name="ccv"
    )
    avg = con.execute(
        "SELECT enrollment_avg FROM ccv WHERE downcase_name = 'breast cancer'"
    ).fetchone()[0]
    assert avg == pytest.approx((100 * 2 + 300 + 40 * 2) / 5), "duplicates must weigh"


def test_edge_enrich_calculated_values(edge):
    derived, _, con = edge
    assert_matches_oracle(
        derived["calculated_values"], con, "SELECT * FROM cv_enriched", name="cv_enriched"
    )


def test_edge_flagship_features(edge):
    _, t, con = edge
    df = flagship_features(t)
    assert_matches_oracle(df, con, FLAGSHIP_SQL, name="flagship")
    kept = sorted(r.nct_id for r in df.select("nct_id").collect())
    assert kept == [
        "NCT00000001", "NCT00000001", "NCT00000002", "NCT00000003",
        "NCT00000006", "NCT00000007", "NCT00000009",
    ]


def test_edge_feature_table(edge):
    _, t, con = edge
    assert_matches_oracle(
        feature_table(flagship_features(t)), con, FEATURES_SQL, name="features"
    )


#: Columns whose multi-KB values must never be hashed into a shuffle key.
_LONG_TEXT = ("brief_title", "criteria", "description")
#: Most shuffle exchanges an output's executed plan may hold.
_MAX_SHUFFLES = {
    "conditions_calculated_values": 1,
    "interventions_calculated_values": 1,
    "calculated_values": 3,
    "feature_table": 3,
}


def test_aact_outputs_plan_shape(aact):
    """The seven outputs of one pipeline pass, built as the benchmark's
    ``aact_etl`` workload builds them: no Expand, one shuffle per
    distinct aggregate, and no long-text column in any exchange key."""
    import re

    etl_tables = AACTTables(spark=aact.spark, base_path=aact.base_path)
    outputs = run_etl(etl_tables)
    outputs["feature_table"] = feature_table(flagship_features(etl_tables))
    outputs["dashboard_extract"] = dashboard_extract(
        AACTTables(spark=aact.spark, base_path=aact.base_path)
    )
    assert len(outputs) == 7
    node = r"^[\s:+-]*(?:\*\(\d+\) )?"
    for name, df in outputs.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "== Final Plan ==" in plan:
            plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        assert not re.search(node + r"Expand \[", plan, re.M), f"{name}: Expand\n{plan}"
        shuffles = re.findall(node + r"Exchange (.*)$", plan, re.M)
        assert len(shuffles) <= _MAX_SHUFFLES.get(name, len(shuffles)), (
            f"{name}: {len(shuffles)} shuffles\n{plan}"
        )
        for keys in shuffles:
            assert not any(f"{col}#" in keys for col in _LONG_TEXT), f"{name}: {keys}"
