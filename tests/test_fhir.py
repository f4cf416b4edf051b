"""FHIR bundle ingestion tests (S1/S2, reference app/main.py:594-1132).

Golden-file style: a small Synthea-shaped bundle covering all 9 resource
types; asserts the flattening rules (first-element-wins names/addresses,
' | '-joined telecoms/notes, CodeableConcept text>display>code fallback,
bool->int multipleBirth, Patient/<id> reference extraction, narrative
HTML-strip, chunk doc_id pattern).
"""

import json

import pytest
from pyspark.sql import functions as F

from rassengine_spark.schemas import DOCUMENTS_SCHEMA
from rassengine_spark.sources.fhir import parse_fhir

BUNDLE = {
    "resourceType": "Bundle",
    "type": "collection",
    "entry": [
        {"resource": {
            "resourceType": "Patient", "id": "p1",
            "name": [{"family": "Stamm", "given": ["Julian", "Q"]}],
            "gender": "male", "birthDate": "1980-04-02",
            "address": [{"line": ["12 Main St"], "city": "Boston",
                         "state": "MA", "postalCode": "02101"}],
            "maritalStatus": {"coding": [{"code": "M", "display": "Married"}]},
            "multipleBirthBoolean": True,
            "telecom": [{"system": "phone", "use": "home",
                         "value": "555-1234"},
                        {"system": "email", "value": "j@example.com"}],
            "communication": [{"language": {"text": "en"}}],
            "text": {"status": "generated",
                     "div": "<div><p>Julian Stamm, born 1980.</p></div>"},
        }},
        {"resource": {
            "resourceType": "Condition", "id": "c1",
            "subject": {"reference": "Patient/p1"},
            "code": {"text": "Hypertension"},
            "clinicalStatus": {"coding": [{"code": "active"}]},
            "verificationStatus": {"coding": [{"code": "confirmed"}]},
            "onsetDateTime": "2020-03-04T10:00:00Z",
            "recordedDate": "2020-03-05",
            "severity": {"coding": [{"display": "Moderate"}]},
            "note": [{"text": "bp elevated"}, {"text": "recheck in 2w"}],
        }},
        {"resource": {
            "resourceType": "Observation", "id": "o1",
            "subject": {"reference": "Patient/p1"},
            "code": {"text": "Blood Pressure"},
            "valueQuantity": {"value": 142.5, "unit": "mmHg"},
            "interpretation": [{"text": "High"}],
            "effectiveDateTime": "2024-01-10T08:30:00Z",
            "issued": "2024-01-10T09:00:00Z",
            "referenceRange": [{"low": {"value": 90.0},
                                "high": {"value": 120.0}}],
        }},
        {"resource": {
            "resourceType": "Encounter", "id": "e1",
            "subject": {"reference": "Patient/p1"},
            "status": "finished",
            "class": {"code": "AMB"},
            "type": [{"text": "Office visit"}],
            "reasonCode": [{"text": "Headache"}],
            "period": {"start": "2024-01-10T08:00:00Z",
                       "end": "2024-01-10T08:45:00Z"},
            "location": [{"location": {"display": "Clinic A"}}],
            "serviceProvider": {"reference": "Organization/org1"},
            "participant": [{"individual": {"display": "Dr. Ada Wong"}}],
        }},
        {"resource": {
            "resourceType": "MedicationRequest", "id": "m1",
            "subject": {"reference": "Patient/p1"},
            "medicationCodeableConcept": {"text": "Lisinopril 10mg"},
            "authoredOn": "2024-01-11",
            "intent": "order", "status": "active", "priority": "routine",
            "dosageInstruction": [{"text": "once daily"}],
            "dispenseRequest": {"numberOfRepeatsAllowed": 3,
                                "quantity": {"value": 30.0, "unit": "tab"}},
        }},
        {"resource": {
            "resourceType": "Procedure", "id": "pr1",
            "subject": {"reference": "Patient/p1"},
            "code": {"coding": [{"code": "99213",
                                 "display": "Office consult"}]},
            "status": "completed",
            "performedDateTime": "2024-01-12T14:00:00Z",
            "followUp": [{"text": "return PRN"}],
        }},
        {"resource": {
            "resourceType": "AllergyIntolerance", "id": "a1",
            "patient": {"reference": "Patient/p1"},
            "clinicalStatus": {"coding": [{"code": "active"}]},
            "verificationStatus": {"coding": [{"code": "confirmed"}]},
            "type": {"text": "allergy"},
            "category": [{"text": "medication"}],
            "criticality": "high",
            "code": {"text": "Penicillin"},
            "onsetDateTime": "2010-06-01",
            "note": [{"text": "rash"}],
        }},
        {"resource": {
            "resourceType": "Practitioner", "id": "dr1",
            "name": [{"family": "Wong", "given": ["Ada"]}],
            "gender": "female",
            "qualification": [{"code": {"text": "Cardiology"}}],
            "address": [{"city": "Boston", "state": "MA"}],
            "telecom": [{"system": "phone", "value": "555-9999"}],
        }},
        {"resource": {
            # Organization.name is a plain STRING in FHIR (vs the
            # HumanName array on Patient/Practitioner) — the variant-typed
            # schema must carry both shapes
            "resourceType": "Organization", "id": "org1",
            "name": "General Hospital",
            "type": [{"text": "Healthcare Provider"}],
            "address": [{"city": "Boston"}],
        }},
        # Unknown resource types are dropped (reference skips unhandled
        # types, app/main.py:618-708 covers exactly 9).
        {"resource": {"resourceType": "CarePlan", "id": "x1"}},
    ],
}


@pytest.fixture(scope="module")
def parsed(spark):
    raw = spark.createDataFrame(
        [("u1", "patient_1_bundle.json", json.dumps(BUNDLE))],
        "user_id string, file_path string, content string")
    docs, chunks = parse_fhir(raw, chunk_size=6)
    return docs.cache(), chunks.cache()


def row_for(docs, rtype):
    return docs.filter(F.col("resourceType") == rtype).first()


def test_schema_and_counts(parsed):
    docs, chunks = parsed
    assert [f.name for f in docs.schema.fields] == \
        [f.name for f in DOCUMENTS_SCHEMA.fields]
    # 9 handled resource types -> 9 structured docs; CarePlan dropped.
    assert docs.count() == 9
    assert docs.select("doc_type").distinct().first()[0] == "structured"


def test_patient_flattening(parsed):
    docs, _ = parsed
    p = row_for(docs, "Patient")
    assert p.doc_id == "Patient-p1-structured"
    assert p.patientId == "p1"
    assert p.patientName == "Julian Q Stamm"
    assert p.patientAddress == "12 Main St Boston MA 02101"
    assert p.patientMaritalStatus == "Married"      # display over code
    assert p.patientMultipleBirth == 1              # bool -> int
    # reference f-string semantics (app/main.py:760-767): `use` (not
    # `system`) labels the entry, and a missing use keeps the ': ' prefix
    assert p.patientTelecom == "home: 555-1234 | : j@example.com"
    assert p.patientLanguage == "en"
    assert str(p.patientDOB) == "1980-04-02"


def test_condition_and_code_text_fallback(parsed):
    docs, _ = parsed
    c = row_for(docs, "Condition")
    assert c.patientId == "p1"                      # from subject.reference
    assert c.conditionCodeText == "Hypertension"    # .text wins
    assert c.conditionClinicalStatus == "active"    # code fallback
    assert c.conditionSeverity == "Moderate"        # display fallback
    assert c.conditionNote == "bp elevated | recheck in 2w"
    assert c.conditionOnsetDateTime is not None
    # other groups stay null on a Condition row
    assert c.patientName is None and c.observationValue is None


def test_observation_value_and_range(parsed):
    docs, _ = parsed
    o = row_for(docs, "Observation")
    assert o.observationValue == "142.5"
    assert o.observationUnit == "mmHg"
    assert o.observationInterpretation == "High"
    assert o.observationReferenceRange == "Low: 90.0, High: 120.0"


def test_encounter_medreq_procedure_allergy(parsed):
    docs, _ = parsed
    e = row_for(docs, "Encounter")
    assert (e.encounterClass, e.encounterType) == ("AMB", "Office visit")
    assert e.encounterLocation == "Clinic A"
    assert e.encounterParticipant == "Dr. Ada Wong"
    m = row_for(docs, "MedicationRequest")
    assert m.medRequestMedicationDisplay == "Lisinopril 10mg"
    assert m.medRequestDosageInstruction == "once daily"
    assert json.loads(m.medRequestDispenseRequest)[
        "numberOfRepeatsAllowed"] == 3
    pr = row_for(docs, "Procedure")
    assert pr.procedureCodeText == "Office consult"  # display over code
    a = row_for(docs, "AllergyIntolerance")
    assert a.allergyCodeText == "Penicillin"
    assert a.patientId == "p1"                       # via patient.reference
    assert a.allergyCriticality == "high"


def test_practitioner_organization(parsed):
    docs, _ = parsed
    dr = row_for(docs, "Practitioner")
    assert dr.practitionerName == "Ada Wong"
    assert dr.practitionerSpecialty == "Cardiology"  # qualification[0].code
    org = row_for(docs, "Organization")
    assert org.organizationName == "General Hospital"
    assert org.organizationType == "Healthcare Provider"


def test_chunks_narrative_and_notes(parsed):
    _, chunks = parsed
    rows = {r.doc_id: r for r in chunks.collect()}
    # Patient narrative "Julian Stamm, born 1980." = 4 words -> 1 chunk of 6.
    assert "Patient-p1-unstructured-0" in rows
    pat = rows["Patient-p1-unstructured-0"]
    assert pat.unstructuredText == "Julian Stamm, born 1980."  # HTML stripped
    assert pat.patientId == "p1" and pat.doc_type == "unstructured"
    # Condition notes "bp elevated recheck in 2w" -> words appended.
    cond = rows["Condition-c1-unstructured-0"]
    assert "bp elevated" in cond.unstructuredText
    # chunk_size=6 respected everywhere
    for r in rows.values():
        assert len(r.unstructuredText.split()) <= 6


def test_multi_valued_nested_shapes_first_element_wins(spark):
    """Reference parity for multi-valued nested arrays (app/main.py:724-738,
    1047-1067): only name[0]/address[0] feed the flattened fields; ALL
    telecom entries join with ' | '."""
    bundle = {"entry": [{"resource": {
        "resourceType": "Patient", "id": "pm",
        "name": [{"family": "Primary", "given": ["Ann"]},
                 {"family": "Maiden", "given": ["Ann"]}],
        "address": [
            {"line": ["1 First Ave"], "city": "Boston", "state": "MA",
             "postalCode": "02101"},
            {"line": ["2 Second St"], "city": "Salem", "state": "MA",
             "postalCode": "01970"}],
        "telecom": [{"use": "home", "value": "1"},
                    {"use": "work", "value": "2"},
                    {"use": "mobile", "value": "3"}],
    }}]}
    raw = spark.createDataFrame(
        [("u1", "m.json", json.dumps(bundle))],
        "user_id string, file_path string, content string")
    p = parse_fhir(raw)[0].collect()[0]
    assert p.patientName == "Ann Primary"
    assert p.patientAddress == "1 First Ave Boston MA 02101"
    assert p.patientTelecom == "home: 1 | work: 2 | mobile: 3"


def test_parse_fhir_malformed_inputs_do_not_throw(spark):
    """PERMISSIVE parsing: garbage, truncated JSON, wrong shapes, and
    unknown resource types must yield zero/partial rows, never an error."""
    from rassengine_spark.sources.fhir import parse_fhir

    bad = [
        ("u1", "a.json", "not json at all"),
        ("u1", "b.json", "{\"resourceType\": \"Bundle\""),       # truncated
        ("u1", "c.json", "{}"),                                   # no entry
        ("u1", "d.json", "{\"entry\": 42}"),                      # wrong type
        ("u1", "e.json",
         "{\"entry\": [{\"resource\": {\"resourceType\": \"Basic\","
         " \"id\": \"x\"}}]}"),                                   # unknown rt
        ("u1", "f.json",
         "{\"entry\": [{\"resource\": {\"resourceType\": \"Patient\","
         " \"id\": 7, \"name\": \"oops-not-a-list\"}}]}"),        # bad field
        ("u1", "g.json", None),                                   # null row
    ]
    raw = spark.createDataFrame(
        bad, "user_id string, file_path string, content string")
    sdocs, chunks = parse_fhir(raw, chunk_size=16)
    rows = sdocs.collect()          # must not raise
    chunks.collect()                # must not raise
    # only the malformed-Patient row survives the resourceType whitelist
    assert [r.resourceType for r in rows] == ["Patient"]
    assert rows[0].patientName is None     # bad nested shape -> null


def test_parse_fhir_empty_arrays_read_as_null(spark):
    """A first-element field over an EMPTY FHIR array (`name: []`,
    `coding: []`, ...) is null, not an ANSI index-out-of-bounds error."""
    from rassengine_spark.sources.fhir import parse_fhir

    empty = {k: [] for k in ["name", "address", "communication",
                             "category", "interpretation", "referenceRange",
                             "type", "reasonCode", "location",
                             "dosageInstruction", "followUp",
                             "qualification"]}
    resources = [{"resourceType": rt, "id": rt.lower(),
                  "code": {"coding": []}, **empty}
                 for rt in ["Patient", "Condition", "Observation",
                            "Encounter", "MedicationRequest", "Procedure",
                            "AllergyIntolerance", "Practitioner",
                            "Organization"]]
    raw = spark.createDataFrame(
        [("u1", "e.json",
          json.dumps({"entry": [{"resource": r} for r in resources]}))],
        "user_id string, file_path string, content string")
    sdocs, chunks = parse_fhir(raw, chunk_size=16)
    rows = {r.resourceType: r for r in sdocs.collect()}
    chunks.collect()
    assert len(rows) == 9
    assert rows["Patient"].patientName is None
    assert rows["Patient"].patientAddress is None
    assert rows["Condition"].conditionCategory is None
    assert rows["Encounter"].encounterType is None


# ------------------------------------------------------------- fuzz (§5)
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SCALAR = st.one_of(
    st.none(), st.booleans(), st.integers(-10**6, 10**6),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=20))
_JSON = st.recursive(
    _SCALAR,
    lambda c: st.one_of(st.lists(c, max_size=3),
                        st.dictionaries(st.text(max_size=8), c, max_size=4)),
    max_leaves=12)
_RTYPE = st.one_of(
    st.sampled_from(["Patient", "Condition", "Observation", "Encounter",
                     "MedicationRequest", "Procedure", "AllergyIntolerance",
                     "Practitioner", "Organization", "Basic", "Bundle", ""]),
    _SCALAR)
_RESOURCE = st.fixed_dictionaries(
    {"resourceType": _RTYPE},
    optional={k: _JSON for k in
              ["id", "name", "address", "telecom", "code", "subject",
               "note", "text", "status", "birthDate", "gender", "clinicalStatus",
               "valueQuantity", "effectiveDateTime", "period", "reasonCode"]})
_ENTRY = st.one_of(
    st.fixed_dictionaries({"resource": st.one_of(_RESOURCE, _JSON)}), _JSON)
_BUNDLE = st.one_of(
    st.fixed_dictionaries({"entry": st.one_of(st.lists(_ENTRY, max_size=4),
                                              _JSON)}),
    _JSON)
_CONTENT = st.one_of(_BUNDLE.map(json.dumps), st.text(max_size=40), st.none())

_NINE = {"Patient", "Condition", "Observation", "Encounter",
         "MedicationRequest", "Procedure", "AllergyIntolerance",
         "Practitioner", "Organization"}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(contents=st.lists(_CONTENT, min_size=1, max_size=6))
def test_parse_fhir_fuzz_invariants(spark, contents):
    """Property fuzz over arbitrary bundle-shaped JSON (NOTES idea 7): the
    permissive parser must never raise, must only emit the 9 whitelisted
    resource types with well-formed doc_ids, and must be deterministic."""
    rows = [(f"u{i % 2}", f"f{i}.json", c) for i, c in enumerate(contents)]
    raw = spark.createDataFrame(
        rows, "user_id string, file_path string, content string")
    sdocs, chunks = parse_fhir(raw, chunk_size=8)
    s = sdocs.collect()
    c = chunks.collect()
    for r in s:
        assert r.resourceType in _NINE
        assert r.doc_type == "structured"
        assert r.doc_id.endswith("-structured")
    for r in c:
        assert r.doc_type == "unstructured"
        assert r.unstructuredText is not None
    # determinism: a second parse of the same frame is identical
    s2, c2 = parse_fhir(raw, chunk_size=8)
    assert sorted(map(str, s2.collect())) == sorted(map(str, s))
    assert sorted(map(str, c2.collect())) == sorted(map(str, c))


def test_ndjson_parse_matches_bundle_parse(spark, parsed):
    """Bulk-FHIR NDJSON envelope yields byte-identical outputs to the
    Bundle envelope over the same resources."""
    from rassengine_spark.sources.fhir import parse_fhir_ndjson
    ndjson = "\n".join(json.dumps(e["resource"]) for e in BUNDLE["entry"])
    raw = spark.createDataFrame(
        [("u1", "patient_1_bundle.json", ndjson)],
        "user_id string, file_path string, content string")
    nd_docs, nd_chunks = parse_fhir_ndjson(raw, chunk_size=6)
    docs, chunks = parsed

    def key(df):
        return {tuple("" if v is None else str(v) for v in r)
                for r in df.collect()}

    assert key(nd_docs) == key(docs)
    assert key(nd_chunks.drop("embedding")) == key(chunks.drop("embedding")) \
        if "embedding" in chunks.columns else key(nd_chunks) == key(chunks)


def test_ndjson_line_per_row_input(spark):
    """spark.read.text-style (one resource per row) also works — the
    line-split is a no-op then."""
    from rassengine_spark.sources.fhir import parse_resource_lines
    rows = [("u1", "f.ndjson", json.dumps(e["resource"]))
            for e in BUNDLE["entry"]]
    raw = spark.createDataFrame(
        rows, "user_id string, file_path string, content string")
    res = parse_resource_lines(raw)
    assert res.count() == 9                  # CarePlan filtered out
