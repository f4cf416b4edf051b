"""M2/P2: NER + entity->filter compilation.

Reference: the live path prompts an LLM with few-shot JSON NER
(``_bluehive_ner``, app/main.py:2483-2528) and keeps labels present in
``ENTITY_FIELD_MAP`` (app/main.py:192-219); the *intended* filter semantics
is ``legacy_ner_preprocess`` (app/main.py:2589-2610): non-DATE entities ->
``match_phrase`` on the mapped field, DATE -> gte/lte range over 6 date
fields, all AND-ed. (The live path passes raw entities as DSL — a reference
bug; we implement the intended semantics. SURVEY.md §2.2 note.)

Default tagger is dictionary/regex (codes via public format patterns:
ICD-10 ``[A-Z]\\d\\d(\\.\\d+)?``, CPT 5 digits, LOINC ``\\d+-\\d``), so
routing is deterministic and testable; an LLM/BERT tagger plugs in via the
same ``str -> list[Entity]`` contract.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..util import qident, sql_quote

ENTITY_FIELD_MAP: dict[str, str | list[str]] = {
    "PERSON": "patientName",
    "DOCTOR": "practitionerName",
    "CONDITION": "conditionCodeText",
    "MEDICATION": "medRequestMedicationDisplay",
    "PROCEDURE": "procedureCodeText",
    "LABTEST": "observationCodeText",
    "ANATOMY": "observationCodeText",
    "OBS_VALUE": "observationValue",
    "ICD10_CODE": "conditionCodeText",
    "CPT_CODE": "procedureCodeText",
    "LOINC_CODE": "observationCodeText",
    "DATE": ["conditionOnsetDateTime", "observationIssued", "encounterStart",
             "medRequestAuthoredOn", "procedurePerformedDateTime",
             "allergyOnsetDateTime"],
    "GENDER": "patientGender",
    "PHONE": "patientTelecom",
    "EMAIL": "patientTelecom",
    "ADDRESS": "patientAddress",
    "ORGANIZATION": "organizationName",
    "SEVERITY": "conditionSeverity",
    "ALLERGY": "allergyCodeText",
}


@dataclass(frozen=True)
class Entity:
    text: str
    label: str


_CONDITIONS = ["hypertension", "diabetes", "migraine", "sinusitis", "asthma",
               "heart disease", "allergies", "high blood pressure",
               "cholesterol"]
_MEDICATIONS = ["lisinopril", "metformin", "ibuprofen", "aspirin",
                "amoxicillin", "insulin", "penicillin"]
_LABTESTS = ["hemoglobin a1c", "blood pressure", "body weight", "glucose",
             "cholesterol"]
_SEVERITIES = ["mild", "moderate", "severe"]

_ICD10_RE = re.compile(r"\b([A-Z]\d{2}(?:\.\d+)?)\b")
_CPT_RE = re.compile(r"\b(\d{5})\b")
_LOINC_RE = re.compile(r"\b(\d{3,}-\d)\b")
_DATE_RE = re.compile(r"\b(\d{4}-\d{2}-\d{2})\b")
_PHONE_RE = re.compile(r"\b(\d{3}[-.]\d{3,4}[-.]?\d{0,4})\b")
_EMAIL_RE = re.compile(r"\b([\w.+-]+@[\w-]+\.[\w.]+)\b")
_PERSON_RE = re.compile(r"\b([A-Z][a-z]+\d+(?:\s+[A-Z][a-z]+\d*)?)\b")
# capitalized name run after an unambiguous cue ("patient Jane Smith",
# "named John Doe") — the deterministic stand-in for the LLM tagger's
# PERSON spans; loose cues like "for"/"is" would false-positive on
# capitalized clinical terms ("What is Blood Pressure")
_PERSON_CUE_RE = re.compile(
    r"\b(?:patient|named?)\s+((?:[A-Z][A-Za-z]*\d*\s?){2,})")
_GENDER_RE = re.compile(r"\b(male|female|other)\b", re.I)


def tag_entities(query: str) -> list[Entity]:
    """Deterministic dictionary/regex tagger; one entity per first match of
    each kind, mirroring how the LLM tagger returns one span per concept."""
    out: list[Entity] = []
    ql = query.lower()
    if m := _LOINC_RE.search(query):
        out.append(Entity(m.group(1), "LOINC_CODE"))
    if m := _ICD10_RE.search(query):
        out.append(Entity(m.group(1), "ICD10_CODE"))
    if m := _CPT_RE.search(query):
        if not any(e.text == m.group(1) for e in out):
            out.append(Entity(m.group(1), "CPT_CODE"))
    for w in _CONDITIONS:
        if w in ql:
            out.append(Entity(w, "CONDITION"))
            break
    for w in _MEDICATIONS:
        if w in ql:
            out.append(Entity(w, "MEDICATION"))
            break
    for w in _LABTESTS:
        if w in ql and not any(e.label == "CONDITION" and e.text == w
                               for e in out):
            out.append(Entity(w, "LABTEST"))
            break
    for w in _SEVERITIES:
        if re.search(rf"\b{w}\b", ql):
            out.append(Entity(w, "SEVERITY"))
            break
    if m := _DATE_RE.search(query):
        out.append(Entity(m.group(1), "DATE"))
    if m := _EMAIL_RE.search(query):
        out.append(Entity(m.group(1), "EMAIL"))
    elif m := _PHONE_RE.search(query):
        out.append(Entity(m.group(1), "PHONE"))
    if m := _GENDER_RE.search(query):
        out.append(Entity(m.group(1).lower(), "GENDER"))
    if m := _PERSON_CUE_RE.search(query):
        out.append(Entity(m.group(1).strip(), "PERSON"))
    elif m := _PERSON_RE.search(query):
        out.append(Entity(m.group(1), "PERSON"))
    return out


def entities_to_filter(entities: list[Entity]) -> Column | None:
    """P2 (legacy_ner_preprocess, app/main.py:2589-2610): AND of
    phrase-containment predicates; DATE -> same-day range OR-ed over the 6
    mapped date fields. Built as SQL text and parsed once."""
    clauses: list[str] = []
    for e in entities:
        mapped = ENTITY_FIELD_MAP.get(e.label)
        if mapped is None:
            continue                      # labels outside the map are dropped
        if e.label == "DATE":
            d = f"to_date({sql_quote(e.text)})"
            clauses.append("(" + " OR ".join(
                f"to_date({qident(f)}) <=> {d}" for f in mapped) + ")")
        else:
            clauses.append(f"contains(lower({qident(mapped)}), "
                           f"{sql_quote(e.text.lower())})")
    return F.expr(" AND ".join(clauses)) if clauses else None


def ner_filter(query: str) -> Column | None:
    """query -> (intended) NER filter clause."""
    return entities_to_filter(tag_entities(query))
