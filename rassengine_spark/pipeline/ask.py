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

import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig, DEFAULT
from ..ml.embed import EmbedFn, embed_query
from ..ml.intent import classify_intent
from ..ml.ner import ner_filter, tag_entities
from ..operators import search as ops
from ..operators.search import CorpusSpec
from ..operators.windows import last_n_per_key
from ..schemas import (DATE_FIELDS, KEYWORD_FIELDS, STRUCTURED_FIELDS,
                       TEXT_FIELDS)
from ..util import qident, sql_quote

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
    hits: DataFrame | None = None
    aggregations: dict | None = None
    patient_ids: list[str] = field(default_factory=list)


def render_context(hits: DataFrame, id_col: str = "doc_id",
                   text_col: str = "unstructuredText") -> str:
    """Stage 10 (app/main.py:2894-2921): per-hit snippet — raw text for
    unstructured docs, 'k: v | k: v' of non-null fields for structured —
    deduped by doc_id, joined by newlines. Runs on the already-limited top-k
    frame, so the collect is k rows, not a corpus scan."""
    exclude = {id_col, "doc_type", "resourceType", "embedding", "score",
               "user_id", "file_path", "file_type"}
    dtypes = hits.dtypes
    kvs = [f"CASE WHEN {qident(c)} IS NOT NULL THEN "
           f"concat({sql_quote(c + ': ')}, CAST({qident(c)} AS STRING)) END"
           for c, t in dtypes
           if c not in exclude and not t.startswith("array")]
    snippet = f"array_join(array_compact(array({', '.join(kvs)})), ' | ')"
    if any(c == text_col for c, _ in dtypes):
        snippet = f"coalesce({qident(text_col)}, {snippet})"
    rows = hits.select(id_col, F.expr(snippet)).collect()
    seen: dict[str, str] = {}
    for r in rows:                       # D1 dedup-concat (app/main.py:2894)
        if r[0] in seen and seen[r[0]] != r[1]:
            seen[r[0]] += "\n" + r[1]
        else:
            seen.setdefault(r[0], r[1])
    return "\n".join(seen.values())


def build_prompt(query: str, context: str, history: str = "") -> str:
    """Stage 11 (app/main.py:2924-2940)."""
    return (
        "You are a medical records assistant. Answer strictly from the "
        "provided context; say so when the context is insufficient.\n"
        f"Chat history:\n{history}\n"
        f"Context:\n{context}\n"
        f"Question: {query}\nAnswer:")


def check_user_exists(users: DataFrame, user_id: str) -> bool:
    """C4 (app/embedding_gen.py:1225-1227): the upload endpoint's auth —
    the user row must exist before ingestion proceeds. Same limit(1)
    existence-probe shape as chat ownership (C1)."""
    return users.filter(F.col("id") == user_id).limit(1).count() > 0


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
    def resolve_patients(self, query: str, k: int = 3) -> list[str]:
        persons = [e.text for e in tag_entities(query)
                   if e.label == "PERSON"]
        if not persons:
            return []
        resolved = ops.resolve_ids_from_name(
            self.documents, "patientName", "patientId", persons[0], k)
        return [r[0] for r in resolved.select("patientId").collect()]

    # ---- stage 9: dispatch (app/main.py:2858-2892)
    def dispatch(self, intent: str, query: str, qvec: list[float],
                 k: int, filter_expr: Column | None,
                 patient_id: str | None) -> DataFrame:
        c, s = self.corpus, self.spec

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
        structured = c.filter(F.col("doc_type") == "structured")  # P3
        if intent == "STRUCTURED":
            return ops.structured_search(structured, s, query, k,
                                         filter_expr, patient_id)
        if intent == "HYBRID_STRUCTURED":
            return ops.hybrid_structured_search(
                structured, s, query, qvec, k, filter_expr, patient_id,
                round_to=6)
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

    def ask(self, query: str, user_id: str = "", chat_id: str | None = None,
            top_k: int | None = None) -> AskResult:
        """The full §3.1 lifecycle, LLM pluggable."""
        if not query.strip():
            raise ValueError("query must be non-empty")   # app/main.py:2756
        if chat_id and not self.check_chat_ownership(chat_id, user_id):
            raise PermissionError("chat does not belong to user")
        k = top_k or self.cfg.top_k
        filter_expr = ner_filter(query)                   # stage 3 (P2)
        intent = classify_intent(query)                   # stage 4 (M1)
        pids = self.resolve_patients(query)               # stage 5 (Q13)
        history = self.chat_history(chat_id) if chat_id else ""
        qvec = embed_query(query, self.embed_fn, self.dim)  # stage 7 (M5)

        if intent == "AGGREGATE":                         # app/main.py:2872
            aggs = ops.aggregate_search(
                self.corpus, self.spec,
                ["conditionCodeText", "resourceType", "patientId"],
                size=5, filter_expr=filter_expr,
                partition_key=pids[0] if pids else None)
            buckets: dict[str, list] = {}
            for r in aggs.collect():
                buckets.setdefault(r["dim"], []).append((r["key"], r["cnt"]))
            return AskResult(query, intent, answer=str(buckets),
                             aggregations=buckets, patient_ids=pids)

        if intent == "DOCUMENT_FETCH" and pids:           # app/main.py:2804
            hits = ops.document_fetch_search(
                self.corpus.withColumn("score", F.lit(1.0)), self.spec,
                pids, "score", k, self.cfg.max_files_per_patient)
        elif self.rerank and intent not in ("STRUCTURED",
                                            "HYBRID_STRUCTURED"):
            # over-fetch, then second-stage re-score of only those rows.
            # Structured routes are excluded: their hits carry no free-text
            # column, so every rerank score would be 0.0 and the re-order
            # would silently discard first-stage relevance.
            from ..ml.rerank import rerank_topk
            first = self.dispatch(intent, query, qvec,
                                  k * self.rerank_depth, filter_expr,
                                  pids[0] if pids else None)
            fn = None if self.rerank is True else self.rerank
            text_col = (self.spec.text_fields[0] if self.spec.text_fields
                        else self.spec.id_col)
            hits = rerank_topk(first, query, text_col,
                               self.spec.id_col, k=k, rerank_fn=fn)
        else:
            hits = self.dispatch(intent, query, qvec, k, filter_expr,
                                 pids[0] if pids else None)

        context = render_context(hits, self.spec.id_col)  # stage 10
        prompt = build_prompt(query, context, history)    # stage 11
        answer = self.generate_fn(prompt)                 # stage 12
        return AskResult(query, intent, answer, hits=hits,
                         patient_ids=pids)

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
