"""Seeded input generator for the benchmark workloads.

Everything the engine sees is produced here from ``random.Random(seed)``:
multi-patient FHIR bundles (the 9 resource types the FHIR parser handles),
per-patient note files, the question stream, and the chunk corpus of the
batch-retrieval workload. Output is written with sorted keys and fixed
separators, so the same seed gives byte-identical files.

Vocabulary comes from the NER dictionaries and the synthetic-query pools,
so most questions name things the corpus holds; one question per cycle
names a value from outside the tenant's corpus so empty results are
exercised as well (see ``ABSENT_IN_MIX``).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

from rassengine_spark.ml import ner, synth

# Pinned temporal anchor: TEMPORAL and MULTI_INTENT results depend on it.
NOW = "2024-07-01 00:00:00"

CONDITIONS = sorted(set(ner._CONDITIONS) | set(synth.CONDITIONS))
ICD_OF = {c: synth.ICDS[i % len(synth.ICDS)] if i < 3 else f"R{10 + i}"
          for i, c in enumerate(CONDITIONS)}
MEDICATIONS = sorted(set(ner._MEDICATIONS)
                     | set(synth.NER_POOLS["MEDICATION"]))
LABTESTS = sorted(set(ner._LABTESTS) | set(synth.LABTESTS))
PROCEDURES = list(synth.PROCEDURES)
CPT_OF = {p: synth.CPTS[i % len(synth.CPTS)]
          for i, p in enumerate(PROCEDURES)}
ALLERGIES = list(synth.NER_POOLS["ALLERGY"])
SEVERITIES = list(ner._SEVERITIES)
ORGS = list(synth.NER_POOLS["ORGANIZATION"]) + ["Riverside Medical Center"]
FIRST = list(synth.FIRST) + ["Mia", "Ethan", "Lucas", "Sofia", "Mason"]
LAST = list(synth.LAST) + ["Garcia", "Miller", "Davis", "Wilson", "Moore"]
UNITS = {"blood pressure": "mmHg", "cholesterol": "mg/dL",
         "cholesterol levels": "mg/dL", "glucose": "mg/dL",
         "hemoglobin a1c": "%", "body weight": "kg"}
FILLER = ("patient reports feels better after rest follow up advised "
          "tolerating therapy well no acute distress reviewed history "
          "discussed plan monitor closely return if worse").split()


def _date(rng: random.Random, lo_year: int = 2021) -> str:
    y = rng.randint(lo_year, 2024)
    m = rng.randint(1, 6 if y == 2024 else 12)
    return f"{y}-{m:02d}-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:00:00Z"


def _sentence(rng: random.Random, words: list[str], n: int) -> str:
    return " ".join(words + rng.sample(FILLER, n)).capitalize() + "."


@dataclass
class Patient:
    pid: str
    name: str
    resources: list[dict]
    note: str
    conditions: list[str] = field(default_factory=list)
    labtests: list[str] = field(default_factory=list)
    procedures: list[str] = field(default_factory=list)


def _patient(rng: random.Random, pid: str, name: str,
             tenant_vocab: dict) -> Patient:
    """One patient: resources of all 9 handled types, and a note file."""
    given, family = name.split(" ")
    gender = rng.choice(["male", "female"])
    ref = {"reference": f"Patient/{pid}"}
    prac_id, org_id = f"dr{pid}", f"org{pid}"
    org = rng.choice(ORGS)
    conds = rng.sample(tenant_vocab["conditions"], 2)
    labs = rng.sample(tenant_vocab["labtests"], 2)
    meds = rng.sample(MEDICATIONS, 2)
    proc = rng.choice(tenant_vocab["procedures"])
    allergy = rng.choice(ALLERGIES)
    res: list[dict] = [{
        "resourceType": "Patient", "id": pid,
        "name": [{"family": family, "given": [given]}],
        "gender": gender,
        "birthDate": f"{rng.randint(1940, 2005)}-{rng.randint(1, 12):02d}-"
                     f"{rng.randint(1, 28):02d}",
        "address": [{"line": [f"{rng.randint(1, 999)} Main St"],
                     "city": "Springfield", "state": "MA",
                     "postalCode": f"0{rng.randint(1000, 9999)}"}],
        "maritalStatus": {"coding": [{"code": "M", "display": "Married"}]},
        "multipleBirthBoolean": False,
        "telecom": [{"system": "phone", "use": "home",
                     "value": f"555-{rng.randint(100, 999)}-"
                              f"{rng.randint(1000, 9999)}"}],
        "communication": [{"language": {"text": "en"}}],
        "text": {"status": "generated",
                 "div": f"<div><p>{name} {gender} patient followed for "
                        f"{conds[0]} and {conds[1]}.</p></div>"},
    }, {
        "resourceType": "Practitioner", "id": prac_id,
        "name": [{"family": rng.choice(LAST), "given": ["Dr"]}],
        "gender": rng.choice(["male", "female"]),
        "qualification": [{"code": {"text": "Internal Medicine"}}],
        "address": [{"city": "Springfield", "state": "MA"}],
    }, {
        "resourceType": "Organization", "id": org_id, "name": org,
        "type": [{"text": "Healthcare Provider"}],
        "address": [{"city": "Springfield"}],
    }]
    for i, c in enumerate(conds):
        res.append({
            "resourceType": "Condition", "id": f"c{pid}-{i}", "subject": ref,
            "code": {"text": c.title(),
                     "coding": [{"code": ICD_OF[c], "display": c}]},
            "category": [{"text": "problem-list-item"}],
            "clinicalStatus": {"coding": [{"code": "active"}]},
            "verificationStatus": {"coding": [{"code": "confirmed"}]},
            "onsetDateTime": _date(rng), "recordedDate": _date(rng)[:10],
            "severity": {"coding": [{"display": rng.choice(SEVERITIES)}]},
            "note": [{"text": _sentence(rng, [c, "noted"], 4)}],
        })
    for i, lab in enumerate(labs):
        for j in range(2):
            res.append({
                "resourceType": "Observation", "id": f"o{pid}-{i}-{j}",
                "subject": ref, "code": {"text": lab.title()},
                "valueQuantity": {"value": round(rng.uniform(5, 200), 1),
                                  "unit": UNITS.get(lab, "u")},
                "interpretation": [{"text": rng.choice(["High", "Normal"])}],
                "effectiveDateTime": _date(rng), "issued": _date(rng),
                "referenceRange": [{"low": {"value": 10.0},
                                    "high": {"value": 120.0}}],
            })
    for i in range(2):
        res.append({
            "resourceType": "Encounter", "id": f"e{pid}-{i}", "subject": ref,
            "status": "finished", "class": {"code": "AMB"},
            "type": [{"text": "Office visit"}],
            "reasonCode": [{"text": conds[i].title()}],
            "period": {"start": _date(rng), "end": _date(rng)},
            "location": [{"location": {"display": org}}],
            "serviceProvider": {"reference": f"Organization/{org_id}"},
            "participant": [{"individual": {"display": "Dr Attending"}}],
            "note": [{"text": _sentence(rng, ["visit", "for", conds[i]], 5)}],
        })
    for i, med in enumerate(meds):
        res.append({
            "resourceType": "MedicationRequest", "id": f"m{pid}-{i}",
            "subject": ref,
            "medicationCodeableConcept": {"text": f"{med} 10mg"},
            "authoredOn": _date(rng)[:10], "intent": "order",
            "status": "active", "priority": "routine",
            "dosageInstruction": [{"text": "once daily"}],
        })
    res.append({
        "resourceType": "Procedure", "id": f"pr{pid}", "subject": ref,
        "code": {"coding": [{"code": CPT_OF[proc], "display": proc}]},
        "status": "completed", "performedDateTime": _date(rng),
        "followUp": [{"text": "return in two weeks"}],
        "note": [{"text": _sentence(rng, [proc, "performed"], 4)}],
    })
    res.append({
        "resourceType": "AllergyIntolerance", "id": f"a{pid}",
        "patient": ref,
        "clinicalStatus": {"coding": [{"code": "active"}]},
        "verificationStatus": {"coding": [{"code": "confirmed"}]},
        "type": [{"text": "allergy"}], "category": [{"text": "medication"}],
        "criticality": rng.choice(["low", "high"]),
        "code": {"text": allergy.title()}, "onsetDateTime": _date(rng, 2010),
        "note": [{"text": f"reaction to {allergy}"}],
    })
    note = (f"Patient {name} history note. "
            + _sentence(rng, [conds[0], "managed", "with", meds[0]], 6)
            + " " + _sentence(rng, [labs[0], "trend", "reviewed"], 6))
    return Patient(pid, name, res, note, conds, labs, [proc])


@dataclass
class Tenant:
    user_id: str
    patients: list[Patient]
    absent: dict      # vocabulary the tenant's corpus does not hold


def make_tenants(seed: int, n_tenants: int, n_patients: int) -> list[Tenant]:
    """n_tenants tenants with n_patients each. Each tenant covers a subset
    of the condition/lab/procedure vocabulary; the rest is its pool of
    absent question values."""
    rng = random.Random(seed)
    used_names: set[str] = set()
    used_pids: set[str] = set()
    tenants = []
    for t in range(n_tenants):
        vocab = {"conditions": sorted(rng.sample(CONDITIONS, 6)),
                 "labtests": sorted(rng.sample(LABTESTS, 4)),
                 "procedures": sorted(rng.sample(PROCEDURES, 2))}
        pats = []
        for _ in range(n_patients):
            while True:
                pid = str(rng.randint(100000, 999999))
                name = (f"{rng.choice(FIRST)}{rng.randint(10, 999)} "
                        f"{rng.choice(LAST)}{rng.randint(10, 999)}")
                if pid not in used_pids and name not in used_names:
                    break
            used_pids.add(pid)
            used_names.add(name)
            pats.append(_patient(rng, pid, name, vocab))
        absent = {k: sorted(set(pool) - set(vocab[k])) for k, pool in
                  [("conditions", CONDITIONS), ("labtests", LABTESTS),
                   ("procedures", PROCEDURES)]}
        tenants.append(Tenant(f"tenant{t}", pats, absent))
    return tenants


def bundle_json(patients: list[Patient]) -> str:
    entries = [{"resource": r} for p in patients for r in p.resources]
    return json.dumps({"resourceType": "Bundle", "type": "collection",
                       "entry": entries}, sort_keys=True,
                      separators=(",", ":"))


def write_request(root: str, name: str, patients: list[Patient],
                  n_bundles: int, n_notes: int) -> list[str]:
    """One upload request directory: `n_bundles` bundle files splitting
    the patients, plus note files for the first `n_notes` patients.
    Returns the written paths."""
    os.makedirs(root, exist_ok=True)
    paths = []
    per = -(-len(patients) // n_bundles)
    for b in range(n_bundles):
        part = patients[b * per:(b + 1) * per]
        if not part:
            continue
        p = os.path.join(root, f"{name}_bundle{b}.json")
        with open(p, "w") as f:
            f.write(bundle_json(part))
        paths.append(p)
    for pat in patients[:n_notes]:
        p = os.path.join(root, f"patient_{pat.pid}_note.txt")
        with open(p, "w") as f:
            f.write(pat.note)
        paths.append(p)
    return paths


# ------------------------------------------------------------ questions
TEMPLATE_OF = {intent: template for template, intent in synth.TEMPLATES}


def question(rng: random.Random, tenant: Tenant, intent: str,
             absent: bool) -> str:
    """A question of one of the 12 intent families, slot values drawn
    from the tenant's corpus, or from outside it when `absent`."""
    p = rng.choice(tenant.patients)
    if absent:
        slots = {
            "condition": rng.choice(tenant.absent["conditions"]),
            "labtest": rng.choice(tenant.absent["labtests"]),
            "procedure": rng.choice(tenant.absent["procedures"]),
            "name": f"Zed{rng.randint(10, 99)} Nobody{rng.randint(10, 99)}",
            "pid": str(rng.randint(10000000, 99999999)),
            "cpt": "00000", "icd": "Z99",
        }
    else:
        proc = p.procedures[0]
        cond = rng.choice(p.conditions)
        slots = {"condition": cond, "labtest": rng.choice(p.labtests),
                 "procedure": proc, "name": p.name, "pid": p.pid,
                 "cpt": CPT_OF[proc], "icd": ICD_OF[cond]}
    slots["age"] = str(rng.randint(30, 70))
    return TEMPLATE_OF[intent].format(**slots)


# The timed ask mix: the same seven families in every cycle, so runs differ
# only in tenant data and slot values, never in the cost profile (route
# costs span 1.5 s to 15 s on 4 cores, and a few asks per run cannot
# average a random family draw out). Six light routes (terms aggregation,
# patient fetch, name resolution + phrase match, fuzzy note, compare-field
# and keyword search) put the median inside a cluster of similar-cost asks,
# so one slow ask barely moves it; HYBRID, the default route, carries the
# fused lexical + vector scoring. The EXPLANATORY question names a
# condition absent from the tenant's corpus, so an empty result is in
# every cycle.
TIMED_MIX = ["AGGREGATE", "DOCUMENT_FETCH", "ENTITY_SPECIFIC", "EXPLANATORY",
             "COMPARISON", "KEYWORD", "HYBRID"]
ABSENT_IN_MIX = "EXPLANATORY"
# The other five families, asked once each after the timed loop of a
# traced run: their route spans and outputs are measured and checked
# there, so all 12 families are covered.
SWEEP = [i for _, i in synth.TEMPLATES if i not in TIMED_MIX]


def ask_stream(seed: int, tenants: list[Tenant], intents: list[str],
               absent_in: str | None = None):
    """Endless seeded stream of cycles; each cycle is a list of
    (tenant, query, expected intent, absent), one per intent."""
    rng = random.Random(seed * 7919 + 1)
    while True:
        cycle = []
        for intent in intents:
            t = rng.choice(tenants)
            absent = intent == absent_in
            cycle.append((t, question(rng, t, intent, absent), intent,
                          absent))
        yield cycle


# ------------------------------------------------------------ chunk corpus
def chunk_corpus(seed: int, n: int, start_id: int = 0
                 ) -> list[tuple[int, str]]:
    """(id, text) clinical-note chunks for the batch-retrieval workload."""
    rng = random.Random(seed * 104729 + start_id)
    vocab = CONDITIONS + MEDICATIONS + LABTESTS + PROCEDURES + ALLERGIES
    out = []
    for i in range(start_id, start_id + n):
        words = rng.sample(vocab, 3) + rng.sample(FILLER, 8)
        rng.shuffle(words)
        out.append((i, " ".join(words)))
    return out


def retrieval_queries(seed: int, n: int, start_id: int = 0
                      ) -> list[tuple[int, str]]:
    rng = random.Random(seed * 15485863 + start_id)
    vocab = CONDITIONS + MEDICATIONS + LABTESTS + PROCEDURES
    return [(start_id + i, " ".join(rng.sample(vocab, 2)))
            for i in range(n)]
