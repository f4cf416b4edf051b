"""S1/S2: FHIR Bundle parsing — declarative from_json + explode + per-type
projections.

Reference: ``parse_fhir_bundle`` (app/main.py:594-1132) walks
``Bundle.entry[].resource`` in Python and emits one flat *structured* doc per
resource (9 resource types) plus *unstructured* chunk docs from narrative
``text.div`` and ``note[].text``. Nested names/addresses/telecoms are
flattened first-element-wins or '|'-joined (app/main.py:724-767).

Spark-first design: the bundle JSON is parsed once with a permissive schema
(`from_json`), entries explode into rows, and each resource type is a column
projection — all whole-stage-codegen; a 100 TB ingest is a single narrow
stage per output table (no shuffle until the final partitioned write).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import DOCUMENTS_SCHEMA

# Permissive FHIR input schema — only the navigated paths; from_json ignores
# everything else (PERMISSIVE mode).
_CODEABLE = "struct<text:string,coding:array<struct<code:string,display:string,system:string>>>"
_REF = "struct<reference:string,display:string>"
_NOTE = "array<struct<text:string>>"

FHIR_RESOURCE_DDL = f"""
struct<
  resourceType:string, id:string,
  text:struct<status:string,div:string>,
  name:variant,
  gender:string, birthDate:string,
  qualification:array<struct<code:{_CODEABLE}>>,
  address:array<struct<line:array<string>,city:string,state:string,postalCode:string,text:string>>,
  maritalStatus:{_CODEABLE},
  multipleBirthBoolean:boolean, multipleBirthInteger:int,
  telecom:array<struct<system:string,value:string,use:string>>,
  communication:array<struct<language:{_CODEABLE}>>,
  subject:{_REF}, patient:{_REF},
  code:{_CODEABLE},
  category:array<{_CODEABLE}>,
  clinicalStatus:{_CODEABLE}, verificationStatus:{_CODEABLE},
  onsetDateTime:string, recordedDate:string,
  severity:{_CODEABLE}, note:{_NOTE},
  valueQuantity:struct<value:double,unit:string>, valueString:string,
  valueCodeableConcept:{_CODEABLE},
  interpretation:array<{_CODEABLE}>,
  effectiveDateTime:string, issued:string,
  referenceRange:array<struct<low:struct<value:double>,high:struct<value:double>>>,
  status:string, class:struct<code:string,display:string>,
  type:array<{_CODEABLE}>,
  reasonCode:array<{_CODEABLE}>,
  period:struct<start:string,end:string>,
  location:array<struct<location:{_REF}>>,
  serviceProvider:{_REF},
  participant:array<struct<individual:{_REF}>>,
  medicationCodeableConcept:{_CODEABLE},
  authoredOn:string, intent:string, priority:string,
  dosageInstruction:array<struct<text:string>>,
  dispenseRequest:struct<numberOfRepeatsAllowed:int,quantity:struct<value:double,unit:string>>,
  performedDateTime:string,
  followUp:array<{_CODEABLE}>,
  criticality:string
>"""

FHIR_BUNDLE_DDL = (
    f"struct<resourceType:string,type:string,"
    f"entry:array<struct<resource:{FHIR_RESOURCE_DDL}>>>")

RESOURCE_TYPES = [
    "Patient", "Condition", "Observation", "Encounter", "MedicationRequest",
    "Procedure", "AllergyIntolerance", "Practitioner", "Organization",
]


def code_text(c: Column) -> Column:
    """S2 (app/main.py:585-591): CodeableConcept -> display string:
    `.text` else coding[0].display else coding[0].code. First elements are
    read with `get` throughout this module: FHIR arrays may be empty, and
    ANSI `[0]` raises on an empty array where `get` returns null."""
    return F.coalesce(c["text"], F.get(c["coding"], 0)["display"],
                      F.get(c["coding"], 0)["code"])


def _ts(c: Column) -> Column:
    """Multi-format date parse (mapping formats, app/main.py:383-385)."""
    return F.coalesce(F.try_to_timestamp(c),
                      F.try_to_timestamp(c, F.lit("yyyy-MM-dd")))


_NAME_ARR_DDL = "array<struct<family:string,given:array<string>,text:string>>"


def _name_array(r: Column) -> Column:
    """FHIR `name` is a HumanName ARRAY on Patient/Practitioner but a plain
    STRING on Organization; the DDL types it `variant` (Spark 4) so both
    shapes survive one parse. This casts the array shape (null for the
    string shape)."""
    return F.try_variant_get(r["name"], "$", _NAME_ARR_DDL)


def _human_name(r: Column) -> Column:
    """name[0] flattened as 'given... family' (app/main.py:724-728,
    1047-1051). DELIBERATE extension: a `text` field on the name wins when
    present (the reference ignores it and would emit '' for text-only
    names); missing parts are skipped instead of leaving ''-gaps."""
    n = F.get(_name_array(r), 0)
    return F.coalesce(
        n["text"],
        F.nullif(F.trim(F.concat_ws(
            " ", F.array_join(n["given"], " "), n["family"])), F.lit("")))


def _org_name(r: Column) -> Column:
    """Organization.name is a plain string (app/main.py:1080); array-shaped
    names (non-standard) fall back to the flattened human name."""
    return F.coalesce(_human_name(r),
                      F.try_variant_get(r["name"], "$", "string"))


def _address(r: Column) -> Column:
    """address[0]: line + city + state + postalCode (app/main.py:731-738,
    1060-1067). DELIBERATE cleanup: missing parts are skipped (concat_ws
    drops nulls) where the reference's ' '.join keeps ''-gaps, producing
    double spaces for partial addresses."""
    a = F.get(r["address"], 0)
    return F.nullif(F.trim(F.concat_ws(
        " ", F.array_join(a["line"], " "), a["city"], a["state"],
        a["postalCode"])), F.lit(""))


def _telecom(r: Column) -> Column:
    """'use: value' entries ' | '-joined (app/main.py:760-767, 1072, 1099 —
    the reference reads `use`, NOT `system`, and its f-string keeps the
    ': ' separator even when use/value are absent)."""
    return F.nullif(F.array_join(F.transform(
        r["telecom"],
        lambda t: F.concat_ws(": ", F.coalesce(t["use"], F.lit("")),
                              F.coalesce(t["value"], F.lit("")))), " | "),
        F.lit(""))


def _notes(r: Column) -> Column:
    """note[].text ' | '-joined (app/main.py:830-831)."""
    return F.nullif(F.array_join(F.transform(
        r["note"], lambda n: n["text"]), " | "), F.lit(""))


def _subject_patient_id(r: Column) -> Column:
    """'Patient/123' reference -> '123' (routing key, app/main.py:1230)."""
    ref = F.coalesce(r["subject"]["reference"], r["patient"]["reference"])
    return F.when(r["resourceType"] == "Patient", r["id"]).otherwise(
        F.regexp_extract(ref, r"Patient/(.+)$", 1))


def strip_html(c: Column) -> Column:
    """Narrative text.div -> plaintext (BeautifulSoup stand-in)."""
    no_tags = F.regexp_replace(c, "<[^>]+>", " ")
    return F.nullif(F.trim(F.regexp_replace(no_tags, r"\s+", " ")), F.lit(""))


def parse_bundles(raw: DataFrame, content_col: str = "content",
                  user_col: str = "user_id",
                  path_col: str = "file_path") -> DataFrame:
    """Raw bundle rows (file_path, user_id, content JSON) -> exploded
    resource rows with parse context. Shared by structured + chunk outputs."""
    bundle = F.from_json(F.col(content_col), FHIR_BUNDLE_DDL)
    return (raw.select(F.col(user_col).alias("user_id"),
                       F.col(path_col).alias("file_path"),
                       F.explode(bundle["entry"]).alias("entry"))
               .select("user_id", "file_path",
                       F.col("entry.resource").alias("r"))
               .filter(F.col("r.resourceType").isin(RESOURCE_TYPES)))


def structured_documents(resources: DataFrame) -> DataFrame:
    """One wide row per resource (app/main.py:618-708): the column group for
    its resourceType is populated; everything else stays null."""
    r = F.col("r")
    rt = r["resourceType"]

    def only(rtype: str, col: Column) -> Column:
        return F.when(rt == rtype, col)

    multiple_birth = F.coalesce(
        r["multipleBirthInteger"],
        r["multipleBirthBoolean"].cast("int"))  # bool->0/1 (app/main.py:751-757)

    out = resources.select(
        F.concat_ws("-", rt, r["id"], F.lit("structured")).alias("doc_id"),
        F.lit("structured").alias("doc_type"),
        rt.alias("resourceType"),
        F.col("user_id"),
        F.col("file_path"),
        F.lit("json").alias("file_type"),
        _subject_patient_id(r).alias("patientId"),
        only("Patient", _human_name(r)).alias("patientName"),
        only("Patient", r["gender"]).alias("patientGender"),
        only("Patient", _ts(r["birthDate"]).cast("date")).alias("patientDOB"),
        only("Patient", _address(r)).alias("patientAddress"),
        only("Patient", code_text(r["maritalStatus"])).alias("patientMaritalStatus"),
        only("Patient", multiple_birth).alias("patientMultipleBirth"),
        only("Patient", _telecom(r)).alias("patientTelecom"),
        only("Patient", code_text(F.get(r["communication"], 0)["language"])).alias("patientLanguage"),
        only("Condition", r["id"]).alias("conditionId"),
        only("Condition", code_text(r["code"])).alias("conditionCodeText"),
        only("Condition", code_text(F.get(r["category"], 0))).alias("conditionCategory"),
        only("Condition", code_text(r["clinicalStatus"])).alias("conditionClinicalStatus"),
        only("Condition", code_text(r["verificationStatus"])).alias("conditionVerificationStatus"),
        only("Condition", _ts(r["onsetDateTime"])).alias("conditionOnsetDateTime"),
        only("Condition", _ts(r["recordedDate"])).alias("conditionRecordedDate"),
        only("Condition", code_text(r["severity"])).alias("conditionSeverity"),
        only("Condition", _notes(r)).alias("conditionNote"),
        only("Observation", r["id"]).alias("observationId"),
        only("Observation", code_text(r["code"])).alias("observationCodeText"),
        only("Observation", F.coalesce(
            r["valueQuantity"]["value"].cast("string"), r["valueString"],
            code_text(r["valueCodeableConcept"]))).alias("observationValue"),
        only("Observation", r["valueQuantity"]["unit"]).alias("observationUnit"),
        only("Observation", code_text(F.get(r["interpretation"], 0))).alias("observationInterpretation"),
        only("Observation", _ts(r["effectiveDateTime"])).alias("observationEffectiveDateTime"),
        only("Observation", _ts(r["issued"])).alias("observationIssued"),
        only("Observation", F.when(
            F.get(r["referenceRange"], 0).isNotNull(),
            F.concat_ws(", ",
                        F.concat(F.lit("Low: "),
                                 F.get(r["referenceRange"], 0)["low"]["value"].cast("string")),
                        F.concat(F.lit("High: "),
                                 F.get(r["referenceRange"], 0)["high"]["value"].cast("string"))))
             ).alias("observationReferenceRange"),
        only("Observation", _notes(r)).alias("observationNote"),
        only("Encounter", r["id"]).alias("encounterId"),
        only("Encounter", r["status"]).alias("encounterStatus"),
        only("Encounter", F.coalesce(r["class"]["code"], r["class"]["display"])).alias("encounterClass"),
        only("Encounter", code_text(F.get(r["type"], 0))).alias("encounterType"),
        only("Encounter", code_text(F.get(r["reasonCode"], 0))).alias("encounterReasonCode"),
        only("Encounter", _ts(r["period"]["start"])).alias("encounterStart"),
        only("Encounter", _ts(r["period"]["end"])).alias("encounterEnd"),
        only("Encounter", F.get(r["location"], 0)["location"]["display"]).alias("encounterLocation"),
        only("Encounter", r["serviceProvider"]["reference"]).alias("encounterServiceProvider"),
        only("Encounter", F.nullif(F.array_join(F.transform(
            r["participant"], lambda p: p["individual"]["display"]), " | "),
            F.lit(""))).alias("encounterParticipant"),
        only("Encounter", _notes(r)).alias("encounterNote"),
        only("MedicationRequest", r["id"]).alias("medRequestId"),
        only("MedicationRequest", code_text(r["medicationCodeableConcept"])).alias("medRequestMedicationDisplay"),
        only("MedicationRequest", _ts(r["authoredOn"])).alias("medRequestAuthoredOn"),
        only("MedicationRequest", r["intent"]).alias("medRequestIntent"),
        only("MedicationRequest", r["status"]).alias("medRequestStatus"),
        only("MedicationRequest", r["priority"]).alias("medRequestPriority"),
        only("MedicationRequest", F.get(r["dosageInstruction"], 0)["text"]).alias("medRequestDosageInstruction"),
        only("MedicationRequest", F.when(
            r["dispenseRequest"].isNotNull(),
            F.to_json(r["dispenseRequest"]))).alias("medRequestDispenseRequest"),
        only("MedicationRequest", _notes(r)).alias("medRequestNote"),
        only("Procedure", r["id"]).alias("procedureId"),
        only("Procedure", code_text(r["code"])).alias("procedureCodeText"),
        only("Procedure", r["status"]).alias("procedureStatus"),
        only("Procedure", _ts(r["performedDateTime"])).alias("procedurePerformedDateTime"),
        only("Procedure", code_text(F.get(r["followUp"], 0))).alias("procedureFollowUp"),
        only("Procedure", _notes(r)).alias("procedureNote"),
        only("AllergyIntolerance", r["id"]).alias("allergyId"),
        only("AllergyIntolerance", code_text(r["clinicalStatus"])).alias("allergyClinicalStatus"),
        only("AllergyIntolerance", code_text(r["verificationStatus"])).alias("allergyVerificationStatus"),
        only("AllergyIntolerance", code_text(F.get(r["type"], 0))).alias("allergyType"),
        only("AllergyIntolerance", code_text(F.get(r["category"], 0))).alias("allergyCategory"),
        only("AllergyIntolerance", r["criticality"]).alias("allergyCriticality"),
        only("AllergyIntolerance", code_text(r["code"])).alias("allergyCodeText"),
        only("AllergyIntolerance", _ts(r["onsetDateTime"])).alias("allergyOnsetDateTime"),
        only("AllergyIntolerance", _notes(r)).alias("allergyNote"),
        only("Practitioner", r["id"]).alias("practitionerId"),
        only("Practitioner", _human_name(r)).alias("practitionerName"),
        only("Practitioner", r["gender"]).alias("practitionerGender"),
        only("Practitioner", code_text(F.get(r["qualification"], 0)["code"])).alias("practitionerSpecialty"),
        only("Practitioner", _address(r)).alias("practitionerAddress"),
        only("Practitioner", _telecom(r)).alias("practitionerTelecom"),
        only("Organization", r["id"]).alias("organizationId"),
        only("Organization", _org_name(r)).alias("organizationName"),
        only("Organization", code_text(F.get(r["type"], 0))).alias("organizationType"),
        only("Organization", _address(r)).alias("organizationAddress"),
        only("Organization", _telecom(r)).alias("organizationTelecom"),
    )
    # Organization name lives in `name` as a plain string in FHIR; reuse of
    # Align column order with the schema.
    return out.select([f.name for f in DOCUMENTS_SCHEMA.fields])


def chunk_documents(resources: DataFrame, chunk_size: int = 512) -> DataFrame:
    """Unstructured chunk docs from narrative text.div + note[].text
    (app/main.py:1112-1130): doc_id '{rtype}-{rid}-unstructured-{i}',
    patientId inherited from the parent resource."""
    from .chunker import chunk_expr

    r = F.col("r")
    narrative = strip_html(r["text"]["div"])
    notes = F.nullif(F.array_join(F.transform(
        r["note"], lambda n: n["text"]), " "), F.lit(""))
    full_text = F.nullif(F.trim(F.concat_ws(
        " ", narrative, notes)), F.lit(""))

    base = (resources
            .withColumn("unchunked", full_text)
            .filter(F.col("unchunked").isNotNull())
            .select("user_id", "file_path",
                    r["resourceType"].alias("resourceType"),
                    r["id"].alias("rid"),
                    _subject_patient_id(r).alias("patientId"),
                    F.posexplode(chunk_expr(F.col("unchunked"), chunk_size))
                     .alias("chunk_idx", "unstructuredText")))
    return base.select(
        F.concat_ws("-", F.col("resourceType"), F.col("rid"),
                    F.lit("unstructured"),
                    F.col("chunk_idx").cast("string")).alias("doc_id"),
        F.lit("unstructured").alias("doc_type"),
        "resourceType", "user_id", "file_path",
        F.lit("json").alias("file_type"),
        "patientId", "unstructuredText")


def parse_fhir(raw: DataFrame, chunk_size: int = 512
               ) -> tuple[DataFrame, DataFrame]:
    """Full S1: raw bundle text -> (structured documents, unstructured
    chunks-without-embeddings). Embedding attach is a separate stage
    (ml/embed.py), mirroring the reference's parse-then-embed split."""
    resources = parse_bundles(raw)
    return structured_documents(resources), chunk_documents(resources, chunk_size)


def parse_resource_lines(raw: DataFrame, content_col: str = "content",
                         user_col: str = "user_id",
                         path_col: str = "file_path") -> DataFrame:
    """Bulk-FHIR NDJSON rows -> exploded resource rows with parse context.

    Bulk Data Access (the FHIR bulk-export standard) ships one resource
    JSON per LINE instead of a Bundle wrapper. Feed this either whole-file
    rows (content = the full NDJSON text, split here) or line-per-row
    frames from `spark.read.text` (then each `content` is already one
    resource and the split is a no-op)."""
    lines = (raw.select(F.col(user_col).alias("user_id"),
                        F.col(path_col).alias("file_path"),
                        F.explode(F.split(F.col(content_col), "\r?\n"))
                        .alias("_line"))
                .filter(F.trim(F.col("_line")) != ""))
    return (lines.select("user_id", "file_path",
                         F.from_json(F.col("_line"), FHIR_RESOURCE_DDL)
                         .alias("r"))
                 .filter(F.col("r.resourceType").isin(RESOURCE_TYPES)))


def parse_fhir_ndjson(raw: DataFrame, chunk_size: int = 512
                      ) -> tuple[DataFrame, DataFrame]:
    """S1 over Bulk-FHIR NDJSON: same (structured, chunks) outputs as
    `parse_fhir`, same per-type projections — only the envelope differs.

    Scale note: this is the PREFERRED bulk-ingest envelope. Bundle files
    must be read `wholetext` (one task per file, unsplittable — a 10 GB
    bundle is one task); NDJSON splits on line boundaries, so
    `spark.read.text` fans a 10 GB export across partitions and the
    per-resource projections stay a narrow codegen stage."""
    resources = parse_resource_lines(raw)
    return (structured_documents(resources),
            chunk_documents(resources, chunk_size))
