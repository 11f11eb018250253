"""Deterministic AACT-shaped micro-fixtures (FIXTURES.md contract).

Generates the nine base tables the reference touches (~1200 studies,
seeded) as parquet with explicit arrow types, for the domain differential
tests. Domains per column are the ones the reference's predicates and
encoders branch on; edge rows are planted per FIXTURES.md: the
start_date = 2019-01-01 strict-boundary, number_of_facilities = 0,
'hematoma' ('toma' false positive, matched by design), empty-string vs
NULL text, quotes and ' | ' sequences for the cleanse.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_STUDIES = 1200
#: the first FORCED studies satisfy the whole flagship filter conjunction
#: (ct_data.py:84-88) so the feature query never comes back empty.
FORCED = 250

ONCO_CONDITIONS = [
    "breast cancer", "lung carcinoma", "acute leukemia", "b-cell lymphoma",
    "brain tumor", "tumour of the spine", "benign neoplasm", "melanoma",
    "multiple myeloma", "glioma", "myelodysplastic syndrome",
    "estrogen receptor positive tumor", "progesterone receptor negative",
    "her2 neu negative breast cancer",
    "hematoma",  # 'toma' false positive — matches by design (init-user-db.sh:73)
]
PLAIN_CONDITIONS = [
    "diabetes mellitus", "hypertension", "asthma", "healthy volunteers",
    "major depression", "covid-19", "chronic pain", "obesity",
    "rheumatoid arthritis", "migraine", "", None,
]
TITLE_BITS_ONCO = [
    "Cancer", "Lymphoma", "Advanced Melanoma", "Myeloma", "Glioma",
    "Estrogen Receptor Positive", "neu negative",
]
TITLE_BITS_PLAIN = ["Diabetes", "Hypertension", "Asthma", "Wellness", "Sleep"]
STAGES = ["", " Stage III", " Stage IV", " Stage II", " stage iii", " Early Stage IIIb"]
STATUSES = ["Completed", "Terminated", "Withdrawn", "Recruiting", None]
PHASES = ["Phase 1", "Phase 2", "Phase 3", "Phase 4", "N/A", None]
STUDY_TYPES = [
    "Interventional", "Observational", "Observational [Patient Registry]",
    "Expanded Access", None,
]
ENROLLMENT_TYPES = ["Actual", "Anticipated", None]
SOURCES = ["Mega Pharma", "State University", "NIH", "Tiny Biotech", "Hospital Net"]
AGENCIES = ["Industry", "NIH", "U.S. Fed", "Other"]
GENDERS = ["All", "Male", "Female", None]
ALLOCATIONS = ["Randomized", "Non-Randomized", "N/A", None]
MODELS = [
    "Parallel Assignment", "Crossover Assignment", "Factorial Assignment",
    "Sequential Assignment", "Single Group Assignment", None,
]
PURPOSES = [
    "Treatment", "Prevention", "Diagnostic", "Screening", "Supportive Care",
    "Basic Science", "Device Feasibility", "Educational/Counseling/Training",
    "Health Services Research", None,
]
INTERVENTION_TYPES = ["Drug", "Device", "Behavioral", "Procedure", "Biological", None]
INTERVENTION_NAMES = [
    "Aspirin", "Placebo", "PEMBROLIZUMAB", "Chemo Regimen A", "Device X-100",
    "behavioral therapy", "Vitamin D", None,
]
DESCRIPTIONS = [
    "This is a randomized double-blind trial.",
    "A non-randomized open label study.",
    'The study uses "quoted terms" and measures outcomes.',
    "Cohort A | Cohort B comparison with usual care.",
    "An observational registry of outcomes.",
    "randomized crossover with non-randomized extension",
    "",
]
CRITERIA = [
    "Inclusion: adults 18+. Exclusion: prior therapy.",
    "Inclusion: ECOG 0-1; measurable disease per RECIST 1.1.",
    "Inclusion: healthy volunteers. Exclusion: smokers.",
]

_S = pa.string()
#: Arrow schema of each base table, as the reference's columns type them.
SCHEMAS = {
    "studies": pa.schema([
        ("nct_id", _S), ("overall_status", _S), ("phase", _S),
        ("start_date", pa.date32()), ("study_first_submitted_date", pa.date32()),
        ("study_type", _S), ("number_of_arms", pa.int32()),
        ("number_of_groups", pa.int32()), ("source", _S),
        ("enrollment", pa.int32()), ("enrollment_type", _S), ("brief_title", _S),
    ]),
    "calculated_values": pa.schema([
        ("nct_id", _S), ("number_of_facilities", pa.int32()),
        ("has_us_facility", pa.bool_()), ("has_single_facility", pa.bool_()),
    ]),
    "conditions": pa.schema([("nct_id", _S), ("downcase_name", _S)]),
    "interventions": pa.schema([
        ("id", pa.int64()), ("nct_id", _S), ("intervention_type", _S), ("name", _S),
    ]),
    "sponsors": pa.schema([
        ("nct_id", _S), ("agency_class", _S), ("lead_or_collaborator", _S), ("name", _S),
    ]),
    "eligibilities": pa.schema([("nct_id", _S), ("gender", _S), ("criteria", _S)]),
    "designs": pa.schema([
        ("nct_id", _S), ("allocation", _S), ("intervention_model", _S),
        ("primary_purpose", _S),
    ]),
    "brief_summaries": pa.schema([("nct_id", _S), ("description", _S)]),
    "design_group_interventions": pa.schema([("id", pa.int64()), ("nct_id", _S)]),
}


def write_tables(out_dir: str, rows: dict[str, list[dict]]) -> str:
    """Write each base table's rows (dicts keyed by column; a missing key
    is NULL) to ``out_dir/<table>.parquet`` with its :data:`SCHEMAS` type."""
    os.makedirs(out_dir, exist_ok=True)
    for name, schema in SCHEMAS.items():
        table = pa.Table.from_pylist(rows.get(name, []), schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def generate(out_dir: str, n_studies: int = N_STUDIES, seed: int = 42) -> str:
    rng = random.Random(seed)

    studies, cv = [], []
    conditions, interventions, sponsors = [], [], []
    eligibilities, designs, summaries, dgi = [], [], [], []
    iid, dgi_id = 1, 1

    for k in range(n_studies):
        nct_id = f"NCT{k:08d}"
        forced = k < FORCED
        if forced:
            start = dt.date(2019, 1, 2) + dt.timedelta(days=rng.randrange(1800))
            status = rng.choice(["Completed", "Terminated"])
            enrollment = rng.randrange(10, 5000)
            facilities = rng.randrange(1, 200)
        else:
            # boundary rows: strict '>' must exclude 2019-01-01 itself
            start = rng.choice(
                [dt.date(2019, 1, 1), None]
                + [dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(3600)) for _ in range(8)]
            )
            status = rng.choice(STATUSES)
            enrollment = rng.choice([None, 0, rng.randrange(5000)])
            facilities = rng.choice([None, 0, rng.randrange(200)])
        submitted = (start or dt.date(2018, 6, 1)) - dt.timedelta(days=rng.randrange(30, 400))
        onco_title = forced or rng.random() < 0.3
        bits = TITLE_BITS_ONCO if onco_title else TITLE_BITS_PLAIN
        title = (
            f"A Study of {rng.choice(INTERVENTION_NAMES[:5])} in "
            f"{rng.choice(bits)}{rng.choice(STAGES)} Patients"
        )
        studies.append(
            dict(
                nct_id=nct_id, overall_status=status, phase=rng.choice(PHASES),
                start_date=start, study_first_submitted_date=submitted,
                study_type=("Interventional" if forced or rng.random() < 0.5
                            else rng.choice(STUDY_TYPES)),
                number_of_arms=rng.choice([None, 0, 1, 1, 2, 3, 4, 5]),
                number_of_groups=rng.choice([None, 0, 1, 2, 3]),
                source=rng.choice(SOURCES),
                enrollment=enrollment,
                enrollment_type=rng.choice(ENROLLMENT_TYPES),
                brief_title=title,
            )
        )
        cv.append(
            dict(
                nct_id=nct_id,
                number_of_facilities=facilities,
                has_us_facility=rng.choice([True, False, None]),
                has_single_facility=rng.choice([True, False, None]),
            )
        )
        n_cond = rng.randrange(1, 5)
        for j in range(n_cond):
            if forced and j == 0:
                name = rng.choice(ONCO_CONDITIONS[:-1])  # guaranteed oncology hit
            else:
                name = rng.choice(ONCO_CONDITIONS + PLAIN_CONDITIONS)
            conditions.append(dict(nct_id=nct_id, downcase_name=name))
        for _ in range(rng.randrange(1, 5)):
            interventions.append(
                dict(
                    id=iid, nct_id=nct_id,
                    intervention_type=rng.choice(INTERVENTION_TYPES),
                    name=rng.choice(INTERVENTION_NAMES),
                )
            )
            iid += 1
        n_sp = rng.randrange(1, 4)
        for j in range(n_sp):
            lead = "lead" if (j == 0 and (forced or rng.random() < 0.9)) else "collaborator"
            sponsors.append(
                dict(
                    nct_id=nct_id, agency_class=rng.choice(AGENCIES),
                    lead_or_collaborator=lead,
                    name=f"{rng.choice(SOURCES)} {rng.randrange(5)}",
                )
            )
        eligibilities.append(
            dict(nct_id=nct_id, gender=rng.choice(GENDERS), criteria=rng.choice(CRITERIA))
        )
        designs.append(
            dict(
                nct_id=nct_id, allocation=rng.choice(ALLOCATIONS),
                intervention_model=rng.choice(MODELS),
                primary_purpose=rng.choice(PURPOSES),
            )
        )
        summaries.append(dict(nct_id=nct_id, description=rng.choice(DESCRIPTIONS)))
        for _ in range(rng.randrange(1, 5)):
            dgi.append(dict(id=dgi_id, nct_id=nct_id))
            dgi_id += 1

    return write_tables(out_dir, {
        "studies": studies, "calculated_values": cv, "conditions": conditions,
        "interventions": interventions, "sponsors": sponsors,
        "eligibilities": eligibilities, "designs": designs,
        "brief_summaries": summaries, "design_group_interventions": dgi,
    })
