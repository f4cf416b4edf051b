"""The /ask query lifecycle (SURVEY.md §3.1) as a Spark pipeline.

Reference: ``ask()`` (app/main.py:2750-2964): auth -> NER -> intent ->
patient-name resolution -> chat history -> query embedding -> intent-routed
search -> context assembly -> LLM answer -> persist messages. The LLM call
is out-of-engine (pluggable ``generate_fn``; default echoes the context so
the pipeline is deterministic end-to-end); everything else is engine work.

The corpus spec mirrors the reference's hardcoded FHIR field groups
(app/main.py:1403-1468); intent routing mirrors ``search_methods``
(app/main.py:2858-2871).
"""

from __future__ import annotations

import datetime as dt
import uuid
from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DateType, StructType,
                               TimestampType)

from ..config import EngineConfig, DEFAULT
from ..ml.embed import EmbedFn, embed_query
from ..ml.intent import classify_intent
from ..ml.ner import ner_filter, tag_entities
from ..operators import search as ops
from ..operators.search import CorpusSpec, NameMatch
from ..operators.windows import last_n_per_key
from ..schemas import (DATE_FIELDS, KEYWORD_FIELDS, STRUCTURED_FIELDS,
                       TEXT_FIELDS)

# FHIR corpus spec — field groups from app/main.py:1403-1468; note/identity/
# compare boosts from the per-method DSL (app/main.py:1819-1826, 1929-1937,
# 2038-2045).
FHIR_SPEC = CorpusSpec(
    id_col="doc_id",
    text_fields=TEXT_FIELDS,
    keyword_fields=KEYWORD_FIELDS,
    date_fields=DATE_FIELDS,
    note_fields={"conditionNote": 3.0, "observationNote": 3.0,
                 "encounterNote": 3.0, "medRequestNote": 3.0,
                 "procedureNote": 3.0, "allergyNote": 3.0,
                 "unstructuredText": 2.0},
    structured_fields=STRUCTURED_FIELDS,
    identity_fields={"patientName": 4.0, "patientId": 4.0,
                     "patientGender": 3.0, "patientTelecom": 3.0,
                     "practitionerName": 3.0, "organizationName": 3.0},
    compare_fields={"conditionCodeText": 2.0, "observationValue": 1.0,
                    "observationUnit": 1.0,
                    "medRequestMedicationDisplay": 1.0,
                    "procedureCodeText": 1.0, "allergyCodeText": 1.0},
    embedding_col="embedding",
    partition_col="patientId",
)

GenerateFn = Callable[[str], str]


def _echo_generate(prompt: str) -> str:
    """Deterministic default 'LLM': returns the retrieved-context section so
    the full pipeline is testable without a model service."""
    marker = "Context:\n"
    return prompt.split(marker, 1)[1] if marker in prompt else prompt


@dataclass
class AskResult:
    query: str
    intent: str
    answer: str
    rows: list[Row] | None = None      # the answer's hits, best first
    aggregations: dict | None = None
    patient_ids: list[str] = field(default_factory=list)
    schema: StructType | None = None   # of `rows`

    @cached_property
    def hits(self) -> DataFrame | None:
        """`rows` as a DataFrame, built on first use from the rows the ask
        collected (the route's plan does not run again)."""
        if self.rows is None:
            return None
        return SparkSession.active().createDataFrame(
            self.rows, self.schema, verifySchema=False)


# helper columns that ride along with an ask's collected rows
_HELPERS = ("_name", "_nmax", "_rank")

# routes that resolve a named patient inside their own plan (ops.NameMatch):
# their score is positive on few rows, and only those rows and the name's
# rows reach the per-patient shuffle. A kNN score is positive on nearly
# every embedded row and AGGREGATE counts every row, so the other routes
# resolve the name in an action of its own and run for the top patient.
_NAME_IN_PLAN = ("KEYWORD", "STRUCTURED", "COMPARISON", "TEMPORAL",
                 "EXPLANATORY", "ENTITY_SPECIFIC", "DOCUMENT_FETCH")


def _session_tz() -> dt.tzinfo:
    """The session time zone, as Spark resolves its setting (region ids,
    offsets such as 'Z' or '+5:30', and short ids such as 'PST')."""
    spark = SparkSession.active()
    zone = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils \
        .getZoneId(spark.conf.get("spark.sql.session.timeZone")).normalized()
    rules = zone.getRules()
    if rules.isFixedOffset():
        return dt.timezone(dt.timedelta(seconds=rules.getOffset(
            spark._jvm.java.time.Instant.EPOCH).getTotalSeconds()))
    return ZoneInfo(zone.getId())


def _spark_str(v, dtype, tz: dt.tzinfo | None) -> str:
    """`v` as Spark's CAST(v AS STRING) prints it. Doubles print as Python
    does, which is Spark's form for magnitudes in [1e-3, 1e7)."""
    if isinstance(dtype, TimestampType):   # collected as local wall time
        v = v.astimezone(tz)
        frac = f".{v.microsecond:06d}".rstrip("0") if v.microsecond else ""
        return f"{v.year:04d}-{v:%m-%d %H:%M:%S}{frac}"
    if isinstance(dtype, DateType):
        return f"{v.year:04d}-{v:%m-%d}"
    return str(v).lower() if isinstance(v, bool) else str(v)


def render_context(rows: list[Row], schema: StructType,
                   id_col: str = "doc_id",
                   text_col: str = "unstructuredText") -> str:
    """Stage 10 (app/main.py:2894-2921): per-hit snippet — raw text for
    unstructured docs, 'k: v | k: v' of the non-null fields for structured
    ones — deduped by doc_id, joined by newlines. It formats the rows the
    ask collected, so it runs no Spark job."""
    exclude = {id_col, "doc_type", "resourceType", "embedding", "score",
               "user_id", "file_path", "file_type"}
    fields = [f for f in schema.fields if f.name not in exclude
              and not isinstance(f.dataType, ArrayType)]
    tz = (_session_tz() if any(isinstance(f.dataType, TimestampType)
                               for f in fields) else None)
    has_text = text_col in schema.fieldNames()
    seen: dict[str, str] = {}
    for r in rows:                       # D1 dedup-concat (app/main.py:2894)
        text = r[text_col] if has_text else None
        if text is None:
            text = " | ".join(
                f"{f.name}: {_spark_str(r[f.name], f.dataType, tz)}"
                for f in fields if r[f.name] is not None)
        i = r[id_col]
        if i in seen and seen[i] != text:
            seen[i] += "\n" + text
        else:
            seen.setdefault(i, text)
    return "\n".join(seen.values())


def build_prompt(query: str, context: str, history: str = "") -> str:
    """Stage 11 (app/main.py:2924-2940)."""
    return (
        "You are a medical records assistant. Answer strictly from the "
        "provided context; say so when the context is insufficient.\n"
        f"Chat history:\n{history}\n"
        f"Context:\n{context}\n"
        f"Question: {query}\nAnswer:")


class AskPipeline:
    """Composable /ask engine over (documents, chunks, chats, messages)."""

    def __init__(self, documents: DataFrame, chunks: DataFrame,
                 chats: DataFrame | None = None,
                 messages: DataFrame | None = None,
                 config: EngineConfig = DEFAULT,
                 spec: CorpusSpec = FHIR_SPEC,
                 embed_fn: EmbedFn | None = None, dim: int = 64,
                 generate_fn: GenerateFn = _echo_generate,
                 rerank: bool | object = False,
                 rerank_depth: int = 4):
        self.documents = documents
        self.chunks = chunks
        self.chats = chats
        self.messages = messages
        self.cfg = config
        self.spec = spec
        self.embed_fn = embed_fn
        self.dim = dim
        self.generate_fn = generate_fn
        # optional second-stage rerank (ml/rerank.py): True = deterministic
        # term-Jaccard; a RerankFn (e.g. plugins.hf_cross_encoder) = model
        # scoring. First stage over-fetches k*rerank_depth candidates.
        self.rerank = rerank
        self.rerank_depth = rerank_depth
        # union view: the reference queries ONE index holding both kinds
        self.corpus = documents.unionByName(
            chunks, allowMissingColumns=True)

    # ---- stage 2: auth (C1, app/main.py:2764-2767)
    def check_chat_ownership(self, chat_id: str, user_id: str) -> bool:
        if self.chats is None:
            return True
        return (self.chats.filter((F.col("id") == chat_id) &
                                  (F.col("userId") == user_id))
                .limit(1).count() > 0)

    # ---- stage 6: history (W2/C2, app/main.py:2786-2798)
    def chat_history(self, chat_id: str, n: int | None = None) -> str:
        if self.messages is None:
            return ""
        n = n or self.cfg.max_chat_history
        hist = last_n_per_key(
            self.messages.filter(F.col("chatId") == chat_id),
            "chatId", "createdAt", "id", n)
        return "\n".join(f"{r['role']}: {r['content']}"
                         for r in hist.select("role", "content").collect())

    # ---- stage 5: name resolution (Q13, app/main.py:2774-2778)
    def resolve_patients(self, query: str, k: int = 3) -> NameMatch | None:
        """The patient scope of a query that names a person. It runs no
        job: the route resolves the name (see `_NAME_IN_PLAN`)."""
        persons = [e.text for e in tag_entities(query)
                   if e.label == "PERSON"]
        return NameMatch(persons[0], "patientName", k) if persons else None

    # ---- stage 9: dispatch (app/main.py:2858-2892)
    def dispatch(self, intent: str, query: str, qvec: list[float],
                 k: int, filter_expr: Column | None,
                 patient_id: str | NameMatch | None,
                 corpus: DataFrame | None = None) -> DataFrame:
        c = self.corpus if corpus is None else corpus
        s = self.spec

        def hybrid(frame):
            return ops.hybrid_search(frame, s, query, qvec, k, filter_expr,
                                     patient_id, round_to=6)

        if intent == "KEYWORD":
            return ops.exact_match_search(c, s, query, k, filter_expr,
                                          patient_id)
        if intent == "SEMANTIC":
            # union corpus: rows without an embedding score null -> dropped,
            # matching kNN-only-matches-vector-docs semantics
            return ops.semantic_search(c, s, qvec, k, filter_expr,
                                       patient_id, round_to=6)
        if intent == "HYBRID":
            return hybrid(c)
        structured = F.col("doc_type") == "structured"          # P3
        if intent == "STRUCTURED":
            return ops.structured_search(c.filter(structured), s, query, k,
                                         filter_expr, patient_id)
        if intent == "HYBRID_STRUCTURED":
            return ops.hybrid_structured_search(
                c.filter(structured), s, query, qvec, k, filter_expr,
                patient_id, round_to=6)
        if intent == "COMPARISON":
            return ops.comparison_search(c, s, query, k, filter_expr,
                                         patient_id)
        if intent == "TEMPORAL":
            return ops.temporal_search(c, s, query, k, now=self.cfg.now,
                                       filter_expr=filter_expr,
                                       partition_key=patient_id)
        if intent == "EXPLANATORY":
            return ops.explanatory_search(c, s, query, k, filter_expr,
                                          patient_id)
        if intent == "MULTI_INTENT":
            return ops.multi_intent_search(c, s, query, qvec, k,
                                           now=self.cfg.now,
                                           filter_expr=filter_expr,
                                           partition_key=patient_id,
                                           round_to=6)
        if intent == "ENTITY_SPECIFIC":
            # intended semantics: phrase-search the extracted PERSON span
            # when present — the reference phrase-matches the raw query,
            # which can never hit for sentence-shaped queries
            # (app/main.py:2047-2056; SURVEY.md §7.3 risk 2)
            persons = [e.text for e in tag_entities(query)
                       if e.label == "PERSON"]
            phrase = persons[0] if persons else query
            return ops.entity_specific_search(c, s, phrase, k, filter_expr,
                                              patient_id)
        return hybrid(c)                                   # default route

    def ask(self, query: str, user_id: str, chat_id: str | None = None,
            top_k: int | None = None) -> AskResult:
        """The full §3.1 lifecycle over `user_id`'s rows, LLM pluggable.
        The route, the name resolution and the context come from one
        Spark action on the routes of `_NAME_IN_PLAN`; a second runs when
        the query names a person nobody matches, on the other routes when
        it names one, and for the rerank stage."""
        if not query.strip():
            raise ValueError("query must be non-empty")   # app/main.py:2756
        if not user_id:
            raise ValueError("user_id must be non-empty")
        if chat_id and not self.check_chat_ownership(chat_id, user_id):
            raise PermissionError("chat does not belong to user")
        k = top_k or self.cfg.top_k
        filter_expr = ner_filter(query)                   # stage 3 (P2)
        intent = classify_intent(query)                   # stage 4 (M1)
        name = self.resolve_patients(query)               # stage 5 (Q13)
        history = self.chat_history(chat_id) if chat_id else ""
        qvec = embed_query(query, self.embed_fn, self.dim)  # stage 7 (M5)
        corpus = self.corpus.filter(F.col("user_id") == user_id)
        pc = self.spec.partition_col

        def collect(frame_of):
            """(patient ids, rows, frame) of the route frame_of(key); when
            nobody matches the name, the route runs over the whole tenant."""
            pids, key = [], name
            if name is not None and intent not in _NAME_IN_PLAN:
                pids = [r[0] for r in ops.resolve_ids_from_name(
                    corpus, name.name_col, pc, name.name, name.ids).collect()]
                key = pids[0] if pids else None
            frame = frame_of(key)
            rows = frame.collect()
            if isinstance(key, NameMatch):
                pids = ops.matched_ids(rows, pc, key.ids)
                if not pids:
                    frame = frame_of(None)
                    rows = frame.collect()
            return pids, rows, frame

        if intent == "AGGREGATE":                         # app/main.py:2872
            dims = ["conditionCodeText", "resourceType", "patientId"]
            pids, rows, _ = collect(lambda key: ops.aggregate_search(
                corpus, self.spec, dims, 5, filter_expr, key))
            buckets: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (dims.index(r["dim"]),
                                                 -r["cnt"], r["key"])):
                buckets.setdefault(r["dim"], []).append((r["key"], r["cnt"]))
            return AskResult(query, intent, answer=str(buckets),
                             aggregations=buckets, patient_ids=pids)

        # the rerank stage over-fetches k * rerank_depth first-stage rows.
        # Structured routes skip it: their hits carry no free-text column,
        # so every rerank score would be 0.0 and the re-order would
        # silently discard first-stage relevance.
        rerank = self.rerank and intent not in ("STRUCTURED",
                                                "HYBRID_STRUCTURED")

        def route(key):
            if intent == "DOCUMENT_FETCH" and key is not None:
                return ops.document_fetch_search(corpus, self.spec, key)
            return self.dispatch(                         # app/main.py:2804
                intent, query, qvec, k * self.rerank_depth if rerank else k,
                filter_expr, key, corpus)

        pids, rows, frame = collect(route)
        if pids and intent == "DOCUMENT_FETCH":   # the k lowest ids fetched
            rows = sorted(rows, key=lambda r: r[self.spec.id_col])[:k]
        elif pids:     # the first patient's rows: the `score > 0` cut
            # (rows of a route run for one patient id already pass it)
            rows = [r for r in rows if r[pc] == pids[0]
                    and r["score"] is not None and r["score"] > 0]
        schema = StructType([f for f in frame.schema.fields
                             if f.name not in _HELPERS])
        hit = Row(*schema.fieldNames())
        rows = [hit(*(r[c] for c in schema.fieldNames())) for r in rows]
        if rerank and not (pids and intent == "DOCUMENT_FETCH"):
            rows, schema = self._rerank(query, rows, schema, k)
        context = render_context(rows, schema, self.spec.id_col)  # stage 10
        prompt = build_prompt(query, context, history)    # stage 11
        answer = self.generate_fn(prompt)                 # stage 12
        return AskResult(query, intent, answer, rows=rows,
                         patient_ids=pids, schema=schema)

    def _rerank(self, query: str, rows: list[Row], schema: StructType,
                k: int) -> tuple[list[Row], StructType]:
        """Second-stage re-score (ml/rerank.py) of the first stage's
        collected rows, a second action over those rows only."""
        from ..ml.rerank import rerank_topk
        first = SparkSession.active().createDataFrame(rows, schema,
                                                      verifySchema=False)
        text_col = (self.spec.text_fields[0] if self.spec.text_fields
                    else self.spec.id_col)
        hits = rerank_topk(first, query, text_col, self.spec.id_col, k=k,
                           rerank_fn=None if self.rerank is True
                           else self.rerank)
        return hits.collect(), hits.schema

    # ---- stage 13: persist (C3, app/main.py:2948-2963)
    def persist_turn(self, spark: SparkSession, messages_path: str,
                     chat_id: str, query: str, answer: str) -> None:
        rows = [(str(uuid.uuid4()), chat_id, "user", query),
                (str(uuid.uuid4()), chat_id, "assistant", answer)]
        (spark.createDataFrame(
            rows, "id string, chatId string, role string, content string")
         .withColumn("createdAt", F.current_timestamp())
         .withColumn("updatedAt", F.current_timestamp())
         .write.mode("append").parquet(messages_path))
