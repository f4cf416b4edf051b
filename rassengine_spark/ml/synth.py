"""Synthetic labeled-query corpus generation as a Spark job.

Reference: the trainers generate 2k intent-labeled and 10k NER-labeled
queries from template families slot-filled with Synthea-style pools, seeded
RNG (app/train_intent.py:33-116; app/train_ner.py:237-675, seed at :20).
Here the same generation runs data-parallel: ``spark.range(n)`` drives
deterministic md5-based slot selection, so any engine (or the DuckDB
oracle) reproduces the corpus bit-for-bit — no driver-side RNG loop.

Scale: generating 10B labeled rows is a single narrow stage; the md5
selection hash is the only per-row cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Template families (one per intent, mirroring app/train_intent.py:45-116)
TEMPLATES: list[tuple[str, str]] = [
    ("What are the symptoms of {condition}?", "EXPLANATORY"),
    ("Fetch the medical records for patient {name}.", "DOCUMENT_FETCH"),
    ("How many patients have {condition}?", "AGGREGATE"),
    ("Compare the outcomes of {procedure} vs. medication.", "COMPARISON"),
    ("Show me trends in {labtest} for patient {pid} over time.", "TEMPORAL"),
    ("Find patients with {condition}.", "HYBRID"),
    ("Get details for patient {name}.", "ENTITY_SPECIFIC"),
    ("Search for {condition} treatment options.", "SEMANTIC"),
    ("List all procedures with CPT code {cpt}.", "STRUCTURED"),
    ("Look up ICD-10 code {icd}.", "KEYWORD"),
    ("Search for female patients over {age} with {condition} and high blood "
     "pressure.", "HYBRID_STRUCTURED"),
    ("Explain the procedure for {procedure} and list patients who had it.",
     "MULTI_INTENT"),
]

FIRST = ["Julian", "Emma", "Liam", "Olivia", "Noah", "Ava"]
LAST = ["Stamm", "Turner", "Smith", "Johnson", "Brown"]
CONDITIONS = ["migraine", "sinusitis", "hypertension", "diabetes"]
PROCEDURES = ["knee replacement", "heart surgery", "appendectomy"]
LABTESTS = ["blood pressure", "cholesterol levels", "glucose"]
CPTS = ["99213", "90792", "12345"]
ICDS = ["I21", "E11", "J32"]


def _pick(pool: list[str], salt: str) -> Column:
    """Deterministic md5-based selection: pool[h(id, salt) % len] — the
    engine-portable analog of the trainers' seeded random.choice."""
    from ..util import string_array_lit
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{salt}"))),
        1, 8), 16, 10).cast("bigint")
    return F.element_at(string_array_lit(pool),
                        (h % len(pool) + 1).cast("int"))


def intent_corpus(spark: SparkSession, n: int = 2000) -> DataFrame:
    """(qid, query, intent) — n labeled queries, deterministic in qid."""
    name = F.concat(_pick(FIRST, "fn"),
                    (F.col("id") % 900 + 100).cast("string"),
                    F.lit(" "), _pick(LAST, "ln"),
                    (F.col("id") % 890 + 110).cast("string"))
    from ..util import string_array_lit
    t_idx = (F.conv(F.substring(F.md5(F.concat(
        F.col("id").cast("string"), F.lit(":t"))), 1, 8), 16, 10)
        .cast("bigint") % len(TEMPLATES)).cast("int")
    template = F.element_at(
        string_array_lit([t for t, _ in TEMPLATES]), t_idx + 1)
    intent = F.element_at(
        string_array_lit([i for _, i in TEMPLATES]), t_idx + 1)
    query = template
    for slot, col in [
            ("{condition}", _pick(CONDITIONS, "c")),
            ("{procedure}", _pick(PROCEDURES, "p")),
            ("{labtest}", _pick(LABTESTS, "l")),
            ("{cpt}", _pick(CPTS, "cpt")),
            ("{icd}", _pick(ICDS, "icd")),
            ("{pid}", (F.col("id") % 900 + 100).cast("string")),
            ("{age}", (F.col("id") % 40 + 40).cast("string")),
            ("{name}", name)]:
        query = F.replace(query, F.lit(slot), col)
    return (spark.range(n)
            .select(F.col("id").alias("qid"), query.alias("query"),
                    intent.alias("intent")))


# ---------------------------------------------------------------- NER corpus
# Span-labeled NER training corpus (reference app/train_ner.py:237-675:
# 400 templates slot-filled from Synthea pools; fill() at :789-851 computes
# character spans). Same structure here, engine-portable: each template is
# a (parts, labels) pair — text = parts[0]+v1+parts[1]+...+parts[m] — and
# spans come from POSITIONAL arithmetic over the part/value lengths (the
# reference's text.index(val) mis-anchors when a value also occurs earlier
# in the template; running offsets cannot). Values are md5-picked like the
# intent corpus, so the whole corpus is reproducible bit-for-bit in SQL.

NER_TEMPLATES: list[tuple[list[str], list[str]]] = [
    # simple one-slot families (app/train_ner.py:239-655 structure)
    (["Get details for patient ", "."], ["PERSON"]),
    (["Show clinical summary for ", "."], ["PERSON"]),
    (["Retrieve chart of ", "."], ["PERSON"]),
    (["Find patients with ", "."], ["CONDITION"]),
    (["List complications of ", "."], ["CONDITION"]),
    (["Show info for drug ", "."], ["MEDICATION"]),
    (["Provide dosage of ", "."], ["MEDICATION"]),
    (["Show patients who had ", "."], ["PROCEDURE"]),
    (["Display latest ", " readings."], ["LABTEST"]),
    (["Provide ICD-10 code ", " details."], ["ICD10_CODE"]),
    (["List all procedures with CPT code ", "."], ["CPT_CODE"]),
    (["Show results for LOINC ", "."], ["LOINC_CODE"]),
    (["Show encounters on ", "."], ["DATE"]),
    (["Locate the phone number ", "."], ["PHONE"]),
    (["Email ", " regarding the visit."], ["EMAIL"]),
    (["Show visits at ", "."], ["ORGANIZATION"]),
    (["Flag ", " patients for review."], ["GENDER"]),
    (["List adverse reactions to ", "."], ["ALLERGY"]),
    (["Show notes written by ", "."], ["DOCTOR"]),
    # multi-slot (app/train_ner.py COMPLEX_LABELS structure, :703-781)
    (["Compare ", " results for ", " before and after ", "."],
     ["LABTEST", "PERSON", "DATE"]),
    (["Retrieve encounters where ", " was treated with ", " on ", "."],
     ["CONDITION", "MEDICATION", "DATE"]),
    (["Which cases of ", " have CPT code ", " recorded by ", "?"],
     ["CONDITION", "CPT_CODE", "DOCTOR"]),
    (["Has ", " experienced ", " severity ", " this year?"],
     ["PERSON", "CONDITION", "SEVERITY"]),
]

NER_POOLS: dict[str, list[str]] = {
    "PERSON": ["Julian Stamm", "Emma Turner", "Liam Smith", "Olivia Johnson",
               "Noah Brown", "Ava Turner"],
    "DOCTOR": ["Dr. Julian", "Dr. Emma", "Dr. Liam"],
    "CONDITION": CONDITIONS,
    "MEDICATION": ["lisinopril", "metformin", "ibuprofen", "aspirin"],
    "PROCEDURE": PROCEDURES,
    "LABTEST": LABTESTS,
    "ICD10_CODE": ICDS,
    "CPT_CODE": CPTS,
    "LOINC_CODE": ["4548-4", "718-7", "2093-3"],
    "DATE": ["2023-01-15", "2024-06-30", "2022-11-02"],
    "GENDER": ["male", "female"],
    "PHONE": ["555-867-5309", "555-123-4567"],
    "EMAIL": ["julian@example.org", "emma@example.org"],
    "ORGANIZATION": ["General Hospital", "Springfield Clinic"],
    "SEVERITY": ["mild", "moderate", "severe"],
    "ALLERGY": ["penicillin", "peanuts", "latex"],
}

_MAX_SLOTS = 3


def _tpl_part(j: int) -> list[str]:
    return [parts[j] if j < len(parts) else ""
            for parts, _ in NER_TEMPLATES]


def _tpl_label(k: int) -> list[str]:
    return [labels[k] if k < len(labels) else ""
            for _, labels in NER_TEMPLATES]


def ner_corpus(spark: SparkSession, n: int = 10000) -> DataFrame:
    """One row per labeled SPAN: (qid, text, span_idx, label, span_start,
    span_end, value); span_start/span_end are 0-based character offsets,
    end-exclusive — the reference fill() convention. Deterministic in qid;
    generating 10B rows is a single narrow stage.

    Value picks use ONE md5 hash per slot (salt ':n{k}') with a
    CASE-of-array-literals lookup on the slot's label — one hash per
    slot x 16 hashes-per-slot would blow the projection past the JVM
    method-size limit and drop the whole stage out of codegen (observed:
    failed compile + interpreted fallback, ~3x slower per call)."""
    nt = len(NER_TEMPLATES)
    t_idx = (F.conv(F.substring(F.md5(F.concat(
        F.col("id").cast("string"), F.lit(":nt"))), 1, 8), 16, 10)
        .cast("bigint") % nt).cast("int")
    from ..util import sql_quote, string_array_lit

    def at(vals: list[str]):
        return F.element_at(string_array_lit(vals), t_idx + 1)

    base = spark.range(n).select(
        "id",
        *[at(_tpl_part(j)).alias(f"_p{j}") for j in range(_MAX_SLOTS + 1)],
        *[at(_tpl_label(k)).alias(f"_l{k}") for k in range(_MAX_SLOTS)])

    def val_expr(k: int):
        arr = " ".join(
            f"WHEN {sql_quote(lab)} THEN array("
            + ",".join(sql_quote(x) for x in pool) + ")"
            for lab, pool in NER_POOLS.items())
        size = " ".join(f"WHEN {sql_quote(lab)} THEN {len(pool)}"
                        for lab, pool in NER_POOLS.items())
        h = (f"cast(conv(substring(md5(concat(cast(id as string), "
             f"':n{k}')), 1, 8), 16, 10) as bigint)")
        return F.expr(
            f"element_at(CASE _l{k} {arr} ELSE array('') END, "
            f"cast({h} % (CASE _l{k} {size} ELSE 1 END) + 1 as int))")

    withv = base.select(
        "id", *[f"_p{j}" for j in range(_MAX_SLOTS + 1)],
        *[f"_l{k}" for k in range(_MAX_SLOTS)],
        *[val_expr(k).alias(f"_v{k}") for k in range(_MAX_SLOTS)])

    parts = [F.col(f"_p{j}") for j in range(_MAX_SLOTS + 1)]
    labs = [F.col(f"_l{k}") for k in range(_MAX_SLOTS)]
    vals = [F.col(f"_v{k}") for k in range(_MAX_SLOTS)]
    text = F.concat(parts[0], vals[0], parts[1], vals[1],
                    parts[2], vals[2], parts[3])
    starts, ends, off = [], [], F.lit(0)
    for k in range(_MAX_SLOTS):
        s = off + F.length(parts[k])
        e = s + F.length(vals[k])
        starts.append(s)
        ends.append(e)
        off = e
    spans = F.array(*[
        F.struct(F.lit(k).alias("span_idx"), labs[k].alias("label"),
                 starts[k].alias("span_start"), ends[k].alias("span_end"),
                 vals[k].alias("value"))
        for k in range(_MAX_SLOTS)])
    return (withv
            .select(F.col("id").alias("qid"), text.alias("text"),
                    F.explode(spans).alias("s"))
            .filter(F.col("s.label") != "")
            .select("qid", "text", "s.span_idx", "s.label",
                    "s.span_start", "s.span_end", "s.value"))


def ner_corpus_sql(n: int = 10000) -> str:
    """DuckDB twin of ner_corpus — same templates, pools, md5 picks, and
    positional span arithmetic."""
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def arr(vals: list[str]) -> str:
        return "[" + ", ".join(q(x) for x in vals) + "]"

    def pick(pool: list[str], salt: str) -> str:
        h = (f"CAST('0x' || substr(md5(CAST(id AS VARCHAR) || {q(':' + salt)}"
             f"), 1, 8) AS BIGINT)")
        return f"{arr(pool)}[CAST({h} % {len(pool)} + 1 AS INT)]"

    nt = len(NER_TEMPLATES)
    t_h = ("CAST('0x' || substr(md5(CAST(id AS VARCHAR) || ':nt'), 1, 8) "
           "AS BIGINT)")
    tidx = f"CAST({t_h} % {nt} AS INT)"
    p = [f"{arr(_tpl_part(j))}[{tidx} + 1]" for j in range(_MAX_SLOTS + 1)]
    l = [f"{arr(_tpl_label(k))}[{tidx} + 1]" for k in range(_MAX_SLOTS)]
    v = []
    for k in range(_MAX_SLOTS):
        # ONE hash per slot (salt ':n{k}'), branch-indexed into the pool —
        # mirrors the codegen-sized Spark expression exactly
        h = (f"CAST('0x' || substr(md5(CAST(id AS VARCHAR) || ':n{k}'), "
             f"1, 8) AS BIGINT)")
        whens = " ".join(
            f"WHEN {q(lab)} THEN "
            f"{arr(pool)}[CAST({h} % {len(pool)} + 1 AS INT)]"
            for lab, pool in NER_POOLS.items())
        v.append(f"CASE l{k} {whens} ELSE '' END")
    span_rows = "\nUNION ALL\n".join(
        f"SELECT qid, text, {k} AS span_idx, l{k} AS label, "
        f"s{k} AS span_start, e{k} AS span_end, v{k} AS value "
        f"FROM t WHERE l{k} <> ''"
        for k in range(_MAX_SLOTS))
    return f"""
WITH b AS (
  SELECT id, {', '.join(f'{p[j]} AS p{j}' for j in range(_MAX_SLOTS + 1))},
         {', '.join(f'{l[k]} AS l{k}' for k in range(_MAX_SLOTS))}
  FROM generate_series(0, {n - 1}) g(id)),
c AS (
  SELECT *, {', '.join(f'{v[k]} AS v{k}' for k in range(_MAX_SLOTS))}
  FROM b),
t AS (
  SELECT id AS qid,
         p0 || v0 || p1 || v1 || p2 || v2 || p3 AS text,
         l0, l1, l2, v0, v1, v2,
         length(p0) AS s0, length(p0) + length(v0) AS e0,
         length(p0) + length(v0) + length(p1) AS s1,
         length(p0) + length(v0) + length(p1) + length(v1) AS e1,
         length(p0) + length(v0) + length(p1) + length(v1) + length(p2)
           AS s2,
         length(p0) + length(v0) + length(p1) + length(v1) + length(p2)
           + length(v2) AS e2
  FROM c)
{span_rows}
"""


def intent_corpus_sql(n: int = 2000) -> str:
    """The DuckDB twin of intent_corpus — same md5 selection, same pools."""
    def pick(pool: list[str], salt: str) -> str:
        arr = "[" + ", ".join(f"'{x}'" for x in pool) + "]"
        h = (f"CAST('0x' || substr(md5(CAST(id AS VARCHAR) || ':{salt}'), "
             f"1, 8) AS BIGINT)")
        return f"{arr}[CAST({h} % {len(pool)} + 1 AS INT)]"

    t_arr = "[" + ", ".join("'" + t.replace("'", "''") + "'"
                            for t, _ in TEMPLATES) + "]"
    i_arr = "[" + ", ".join(f"'{i}'" for _, i in TEMPLATES) + "]"
    t_h = ("CAST('0x' || substr(md5(CAST(id AS VARCHAR) || ':t'), 1, 8) "
           "AS BIGINT)")
    name = (f"{pick(FIRST, 'fn')} || CAST(id % 900 + 100 AS VARCHAR) || ' ' "
            f"|| {pick(LAST, 'ln')} || CAST(id % 890 + 110 AS VARCHAR)")
    q = f"{t_arr}[CAST({t_h} % {len(TEMPLATES)} + 1 AS INT)]"
    for slot, expr in [
            ("{condition}", pick(CONDITIONS, "c")),
            ("{procedure}", pick(PROCEDURES, "p")),
            ("{labtest}", pick(LABTESTS, "l")),
            ("{cpt}", pick(CPTS, "cpt")),
            ("{icd}", pick(ICDS, "icd")),
            ("{pid}", "CAST(id % 900 + 100 AS VARCHAR)"),
            ("{age}", "CAST(id % 40 + 40 AS VARCHAR)"),
            ("{name}", name)]:
        q = f"replace({q}, '{slot}', {expr})"
    return f"""
SELECT id AS qid, {q} AS query,
       {i_arr}[CAST({t_h} % {len(TEMPLATES)} + 1 AS INT)] AS intent
FROM generate_series(0, {n - 1}) t(id)
"""
