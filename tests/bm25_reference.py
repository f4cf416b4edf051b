"""Independent BM25 reference for the lexical tests: Lucene BM25
(k1=1.2, b=0.75) written from scratch in plain Python over (id, text)
rows. It shares no code with the engine — its own tokenizer (lowercase,
split on [^a-z0-9]+), corpus statistics, a left-to-right sum over the
query's term occurrences, and Spark's rounding rule (HALF_UP on the
shortest decimal form of the double)."""

import math
import re
from decimal import ROUND_HALF_UP, Decimal

K1, B = 1.2, 0.75


def tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def reference_scores(rows, query: str) -> dict:
    """{id: unrounded BM25 score} for every row scoring above 0."""
    docs = {i: tokens(t) for i, t in rows}
    n = len(docs)
    # an all-empty corpus (avgdl 0) scores nothing, as in the engine
    avgdl = max(sum(len(ws) for ws in docs.values()) / n, 1e-12)
    qterms = tokens(query)
    dfreq = {t: sum(1 for ws in docs.values() if t in ws)
             for t in set(qterms)}
    out = {}
    for i, ws in docs.items():
        s = 0.0
        for t in qterms:
            tf = ws.count(t)
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * len(ws) / avgdl))
        if s > 0:
            out[i] = s
    return out


def reference_topk(rows, query: str, k: int = 10,
                   round_to: int = 6) -> list[tuple]:
    """Top-k [(id, rounded score)], by score desc then id asc."""
    step = Decimal(1).scaleb(-round_to)
    scored = [(i, float(Decimal(repr(s)).quantize(step, ROUND_HALF_UP)))
              for i, s in reference_scores(rows, query).items()]
    return sorted(scored, key=lambda r: (-r[1], r[0]))[:k]
