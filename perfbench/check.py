"""Independent output checker.

Runs after the timed interval, on recorded results. It never calls the
engine's operators: asks are re-answered by a DuckDB twin of each search
route over the same stored parquet, batch retrieval by DuckDB BM25 over
the generated texts and by numpy cosine over the stored vectors. Only
configuration data (field lists and boosts of the FHIR corpus spec, the
NER label -> field map) is shared with the engine.

Scores are compared after rounding to 6 decimals HALF_UP on the shortest
decimal form of the double, which is how the engine's ``round`` works.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pyarrow as pa

from rassengine_spark.ml.ner import ENTITY_FIELD_MAP
from rassengine_spark.pipeline.ask import FHIR_SPEC

K1, B = 1.2, 0.75


def round6(x: float) -> float:
    r = float(Decimal(repr(float(x))).quantize(Decimal("0.000001"),
                                               rounding=ROUND_HALF_UP))
    return 0.0 if r == 0.0 else r


def terms(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _c(col: str) -> str:
    return f'"{col}"'


def _d(v: float) -> str:
    return f"CAST({float(v)!r} AS DOUBLE)"


def _tok(col: str) -> str:
    return (f"list_filter(string_split_regex(lower({_c(col)}), "
            f"'[^a-z0-9]+'), x -> len(x) > 0)")


def _fuzzy(col: str, t: str) -> str:
    d = 0 if len(t) <= 2 else (1 if len(t) <= 5 else 2)
    if d == 0:
        return f"COALESCE(list_contains({_tok(col)}, {_q(t)}), false)"
    return (f"COALESCE(len(list_filter({_tok(col)}, "
            f"x -> levenshtein(x, {_q(t)}) <= {d})) > 0, false)")


def _count(col: str, ts: list[str], fuzzy: bool) -> str:
    if not ts:
        return "0"
    parts = [f"CAST({_fuzzy(col, t)} AS INTEGER)" if fuzzy else
             f"CAST(COALESCE(list_contains({_tok(col)}, {_q(t)}), false)"
             f" AS INTEGER)" for t in ts]
    return "(" + " + ".join(parts) + ")"


def _best(per: list[str], boost: float) -> str:
    if not per:
        return _d(0.0)
    return f"(GREATEST({', '.join(per)}, {_d(0.0)}) * {_d(boost)})"


def fuzzy_best(fields, ts, boost, fboosts=None) -> str:
    fboosts = fboosts or {}
    return _best([f"CAST({_count(f, ts, True)} AS DOUBLE) * "
                   f"{_d(fboosts.get(f, 1.0))}" for f in fields], boost)


def exact_term_best(fields, ts, boost) -> str:
    return _best([f"CAST({_count(f, ts, False)} AS DOUBLE)"
                  for f in fields], boost)


def _ind(pred: str) -> str:
    return f"(CASE WHEN COALESCE({pred}, false) THEN 1.0 ELSE 0.0 END)"


def phrase_best(fields, text, boost) -> str:
    norm = " ".join(terms(text))
    return _best([_ind(f"contains(lower({_c(f)}), {_q(norm)})")
                  for f in fields], boost)


def keyword_exact_best(fields, ts, boost) -> str:
    joined = " ".join(ts)
    inlist = ", ".join(_q(t) for t in ts)
    return _best([_ind(f"(lower({_c(f)}) IN ({inlist}) OR "
                       f"contains(lower({_c(f)}), {_q(joined)}))")
                  for f in fields], boost)


def prefix_and_best(fields, ts, boost) -> str:
    def one(f):
        preds = " AND ".join(
            f"COALESCE(len(list_filter({_tok(f)}, "
            f"x -> starts_with(x, {_q(t)}))) > 0, false)" for t in ts)
        return f"(CASE WHEN {preds or 'true'} THEN 1.0 ELSE 0.0 END)"
    return _best([one(f) for f in fields], boost)


def identity_best(spec, phrase) -> str:
    norm = " ".join(terms(phrase))
    per = [f"{_ind(f'contains(lower({_c(f)}), {_q(norm)})')} * {_d(b)}"
           for f, b in spec.identity_fields.items()]
    return f"GREATEST({', '.join(per)}, {_d(0.0)})"


def ner_where(entities: list[tuple[str, str]]) -> str:
    """AND of the entity predicates (labels outside the map are dropped)."""
    out = []
    for text, label in entities:
        mapped = ENTITY_FIELD_MAP.get(label)
        if mapped is None:
            continue
        if label == "DATE":
            out.append("(" + " OR ".join(
                f"CAST({_c(f)} AS DATE) IS NOT DISTINCT FROM "
                f"DATE {_q(text)}" for f in mapped) + ")")
        else:
            out.append(f"contains(lower({_c(mapped)}), {_q(text.lower())})")
    return " AND ".join(out) if out else "true"


def _minus_months(ts: str, months: int) -> str:
    d = dt.datetime.fromisoformat(ts)
    y, m = divmod(d.year * 12 + d.month - 1 - months, 12)
    return d.replace(year=y, month=m + 1).isoformat(sep=" ")


class AskTwin:
    """DuckDB twin of the ask pipeline's retrieval over one stored corpus
    (documents + chunks parquet, partitioned by user_id)."""

    def __init__(self, store: str, now: str, top_k: int):
        self.con = duckdb.connect()
        self.spec = FHIR_SPEC
        self.now = now
        self.lo = _minus_months(now, 12)
        self.k = top_k
        self.store = store
        self._loaded: set[str] = set()
        self.dots: dict[str, tuple[list[str], np.ndarray]] = {}

    def _table(self, user: str) -> str:
        name = "t_" + re.sub(r"\W", "_", user)
        if user not in self._loaded:
            src = (f"read_parquet('{self.store}/{{}}/**/*.parquet', "
                   f"hive_partitioning = true)")
            self.con.execute(
                f"CREATE TABLE {name} AS "
                f"SELECT * FROM {src.format('documents')} "
                f"WHERE user_id = {_q(user)} UNION ALL BY NAME "
                f"SELECT * FROM {src.format('chunks')} "
                f"WHERE user_id = {_q(user)}")
            rows = self.con.execute(
                f"SELECT doc_id, embedding FROM {name} "
                f"WHERE embedding IS NOT NULL ORDER BY doc_id").fetchall()
            mat = np.array([r[1] for r in rows], dtype=np.float32)
            self.dots[user] = ([r[0] for r in rows],
                               mat.astype(np.float64))
            self._loaded.add(user)
        return name

    def _dot(self, user: str, qvec: list[float]) -> dict[str, float]:
        """Left-to-right float64 dot of every stored vector with qvec."""
        ids, mat = self.dots[user]
        acc = np.zeros(len(ids))
        for j, qj in enumerate(qvec):
            acc = acc + mat[:, j] * qj
        return dict(zip(ids, acc.tolist()))

    def resolve(self, user: str, name: str) -> list[str]:
        t = self._table(user)
        ts = terms(name)
        norm = " ".join(ts)
        fuzzy = " AND ".join(_fuzzy("patientName", x) for x in ts) or "true"
        sql = f"""
          SELECT "patientId", MAX(score) AS s FROM (
            SELECT "patientId", GREATEST(
              CASE WHEN lower("patientName") = {_q(norm)} THEN 3.0
                   WHEN "patientName" IS NULL THEN NULL ELSE 0.0 END,
              {_ind(f'contains(lower("patientName"), {_q(norm)})')} * 2.0,
              CASE WHEN {fuzzy} THEN 1.0 ELSE 0.0 END) AS score
            FROM {t} WHERE doc_type = 'structured')
          WHERE score > 0 GROUP BY "patientId"
          ORDER BY s DESC, "patientId" ASC LIMIT 3"""
        return [r[0] for r in self.con.execute(sql).fetchall()]

    def answer(self, user: str, query: str, intent: str,
               entities: list[tuple[str, str]], pids: list[str],
               qvec: list[float]) -> dict:
        """Expected {'hits': [(doc_id, score6)], 'aggs': {...}} for one
        ask routed to `intent` with the given NER entities, resolved
        patient ids and query vector."""
        s, t = self.spec, self._table(user)
        ts = terms(query)
        pk = pids[0] if pids else None
        where = [ner_where(entities)]
        if pk is not None:
            where.append(f'"patientId" = {_q(pk)}')
        cond = " AND ".join(where)
        k = self.k

        if intent == "AGGREGATE":
            aggs = {}
            for gf in ["conditionCodeText", "resourceType", "patientId"]:
                rows = self.con.execute(
                    f"SELECT CAST({_c(gf)} AS VARCHAR) AS key, COUNT(*) AS "
                    f"cnt FROM {t} WHERE {cond} AND {_c(gf)} IS NOT NULL "
                    f"GROUP BY key ORDER BY cnt DESC, key ASC LIMIT 5"
                ).fetchall()
                if rows:
                    aggs[gf] = [(r[0], r[1]) for r in rows]
            return {"aggs": aggs}

        if intent == "DOCUMENT_FETCH" and pids:
            inlist = ", ".join(_q(p) for p in pids)
            rows = self.con.execute(
                f'SELECT MIN(doc_id) FROM {t} WHERE "patientId" IN '
                f'({inlist}) GROUP BY "patientId"').fetchall()
            ids = sorted(r[0] for r in rows)[:k]
            return {"hits": [(i, 1.0) for i in ids]}

        dots = self._dot(user, qvec)
        structured_only = intent in ("STRUCTURED", "HYBRID_STRUCTURED")
        base = f"FROM {t} WHERE {cond}" + (
            " AND doc_type = 'structured'" if structured_only else "")
        in_range = "(" + " OR ".join(
            f"{_c(f)} BETWEEN TIMESTAMP {_q(self.lo)} AND "
            f"TIMESTAMP {_q(self.now)}" for f in s.date_fields) + ")"
        rec = f"(CASE WHEN {in_range} THEN 1 ELSE 0 END)"

        def rows(*cols: str) -> list[tuple]:
            return self.con.execute(
                f"SELECT doc_id, {', '.join(cols)} {base}").fetchall()

        def knn(doc_id, boost):
            v = dots.get(doc_id)
            return 0.0 if v is None else v * boost

        scored: list[tuple] = []
        if intent == "KEYWORD":
            for d, a, b in rows(phrase_best(s.text_fields, query, 2.0),
                                keyword_exact_best(s.keyword_fields, ts,
                                                   1.0)):
                scored.append((d, (0.0 + a) + b))
        elif intent == "SEMANTIC":
            for d, _ in rows("1"):
                if d in dots:
                    scored.append((d, round6(dots[d])))
        elif intent == "STRUCTURED":
            for d, a in rows(prefix_and_best(s.structured_fields, ts, 1.0)):
                scored.append((d, a))
        elif intent == "HYBRID_STRUCTURED":
            for d, a in rows(prefix_and_best(s.structured_fields, ts, 1.5)):
                scored.append((d, round6((0.0 + a) + knn(d, 2.0))))
        elif intent == "COMPARISON":
            for d, a in rows(fuzzy_best(list(s.compare_fields), ts, 1.0,
                                        s.compare_fields)):
                scored.append((d, a))
        elif intent == "EXPLANATORY":
            for d, a in rows(fuzzy_best(list(s.note_fields), ts, 1.0,
                                        s.note_fields)):
                scored.append((d, a))
        elif intent == "ENTITY_SPECIFIC":
            persons = [e for e, lab in entities if lab == "PERSON"]
            for d, a in rows(identity_best(s, persons[0] if persons
                                           else query)):
                scored.append((d, a))
        elif intent == "TEMPORAL":
            sort = s.date_fields[0]
            got = self.con.execute(
                f"SELECT doc_id, {fuzzy_best(s.text_fields, ts, 1.0)}, "
                f"{exact_term_best(s.keyword_fields, ts, 1.0)}, "
                f"{_c(sort)} {base} AND {in_range}").fetchall()
            cand = [(d, (0.0 + a) + b, ts_) for d, a, b, ts_ in got
                    if (0.0 + a) + b > 0]
            # date desc with nulls last, then doc_id asc (stable sorts)
            cand.sort(key=lambda r: r[0])
            cand.sort(key=lambda r: (r[2] is not None,
                                     r[2] or dt.datetime.min), reverse=True)
            return {"hits": [(d, round6(v)) for d, v, _ in cand[:k]]}
        elif intent == "MULTI_INTENT":
            for d, a, b, r in rows(fuzzy_best(s.text_fields, ts, 1.0),
                                   exact_term_best(s.keyword_fields, ts,
                                                   0.5), rec):
                scored.append((d, round6((((0.0 + a) + b) + knn(d, 1.5))
                                         + (0.5 if r else 0.0))))
        else:    # HYBRID, and the default route
            for d, a, b in rows(fuzzy_best(s.text_fields, ts, 1.5),
                                exact_term_best(s.keyword_fields, ts, 1.0)):
                scored.append((d, round6(((0.0 + a) + b) + knn(d, 2.0))))
        top = sorted((r for r in scored if r[1] > 0),
                     key=lambda r: (-r[1], r[0]))[:k]
        return {"hits": [(d, round6(v)) for d, v in top]}


def compare_ask(rec: dict, exp: dict) -> str | None:
    """None when the recorded ask equals the twin, else a reason."""
    if rec["intent"] != rec["expected_intent"]:
        return f"intent {rec['intent']} != {rec['expected_intent']}"
    if rec["pids"] != exp["pids"]:
        return f"patient ids {rec['pids']} != {exp['pids']}"
    if "aggs" in exp:
        got = {k: [tuple(x) for x in v] for k, v in rec["aggs"].items()}
        return None if got == exp["aggs"] else f"aggs {got} != {exp['aggs']}"
    got = [(d, round6(v)) for d, v in rec["hits"]]
    if got != exp["hits"]:
        return f"hits {got} != {exp['hits']}"
    return None


# ------------------------------------------------------------ batch retrieve
def load_corpus(con, docs: list[tuple[int, str]]) -> None:
    """Tokenized corpus table `tok(id, toks)` for bm25_expected."""
    raw = pa.table({"id": pa.array([d[0] for d in docs], pa.int64()),
                    "text": pa.array([d[1] for d in docs], pa.string())})
    con.register("raw", raw)
    con.execute("""
      CREATE OR REPLACE TABLE tok AS
      SELECT id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> len(x) > 0) AS toks FROM raw""")
    con.unregister("raw")


def bm25_expected(con, query: str, k: int = 10) -> list[tuple[int, float]]:
    """Top-k (id, score6) by BM25 over the `tok` table — DuckDB computes
    tf, df, dl, n and avgdl; the per-occurrence fold, in query order, is
    the same expression the engine evaluates."""
    ts = terms(query)
    uniq = sorted(set(ts))
    tf = ", ".join(f"len(list_filter(toks, x -> x = {_q(t)})) AS tf_{i}"
                   for i, t in enumerate(uniq))
    dfs = ", ".join(f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
                    for i in range(len(uniq)))
    any_ = " OR ".join(f"tf_{i} > 0" for i in range(len(uniq)))
    sql = f"""
      WITH tf AS (SELECT id, len(toks) AS dl, {tf} FROM tok),
      s AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl, {dfs} FROM tf)
      SELECT tf.*, s.* FROM tf, s WHERE {any_}"""
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    out = []
    for row in cur.fetchall():
        r = dict(zip(cols, row))
        raw = 0.0
        for t in ts:
            i = uniq.index(t)
            f = float(r[f"tf_{i}"])
            if f == 0:
                raw = raw + 0.0
                continue
            dfreq = r[f"df_{i}"]
            idf = math.log(1.0 + (r["n"] - dfreq + 0.5) / (dfreq + 0.5))
            raw = raw + idf * f * (K1 + 1.0) / (
                f + K1 * (1.0 - B + B * float(r["dl"])
                          / max(r["avgdl"], 1e-12)))
        if raw > 0:
            out.append((r["id"], round6(raw)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def cosine_rows(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row with q, summed left to right in float64."""
    dot = np.zeros(len(mat))
    na = np.zeros(len(mat))
    nb = 0.0
    for j in range(mat.shape[1]):
        col = mat[:, j]
        dot = dot + col * q[j]
        na = na + col * col
        nb = nb + q[j] * q[j]
    return dot / (np.sqrt(na) * math.sqrt(nb) + 1e-9)


def check_ann(rows: list[tuple[int, float, int]], ids: np.ndarray,
              mat: np.ndarray, q: np.ndarray, k: int = 10
              ) -> tuple[str | None, float]:
    """(failure reason or None, recall@k) for one query's ANN result
    rows (id, score, rank) against the vectors indexed so far."""
    sims = cosine_rows(mat, q)
    pos = {int(i): n for n, i in enumerate(ids)}
    want = min(k, len(ids))
    if len(rows) != want:
        return f"{len(rows)} ANN rows, expected {want}", 0.0
    if len({r[0] for r in rows}) != len(rows):
        return "duplicate ANN ids", 0.0
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)):
        return "ANN ranks not 1..k", 0.0
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    if [r[0] for r in order] != [r[0] for r in rows]:
        return "ANN rows not ordered by (score desc, id asc)", 0.0
    for i, sc, _ in rows:
        if i not in pos:
            return f"ANN id {i} not indexed", 0.0
        if round6(sims[pos[i]]) != sc:
            return f"ANN score {sc} != cosine {round6(sims[pos[i]])}", 0.0
    # exact top-k: round only a generous raw-score shortlist
    short = np.argsort(-sims, kind="stable")[:max(5 * want, 50)]
    exact = sorted(((round6(sims[j]), int(ids[j])) for j in short),
                   key=lambda t: (-t[0], t[1]))[:want]
    recall = len({i for _, i in exact} & {r[0] for r in rows}) / want
    return None, recall


def mutations(hits: list) -> list[list]:
    """Two corruptions of a result list that any correct check rejects:
    the first two hits swapped, and the last hit dropped."""
    out = []
    if len(hits) >= 2 and hits[0] != hits[1]:
        out.append([hits[1], hits[0]] + hits[2:])
    if hits:
        out.append(hits[:-1])
    return out
