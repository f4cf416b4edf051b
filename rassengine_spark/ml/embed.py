"""S7/S8/M5: embedding generation — pluggable, Arrow-batched, deterministic
by default.

Reference: per-text HTTP calls to Ollama ``/embeddings`` batched 64 with
concurrency 5 (app/main.py:225-263); empty text -> zero vector
(app/main.py:227-228); L2-normalize before indexing and querying
(app/main.py:1250-1251, 1536-1537) so cosine == dot.

Spark-first: ``mapInPandas`` Arrow batches replace the manual batching and
semaphore — parallelism comes from partitions, batch size from
``spark.sql.execution.arrow.maxRecordsPerBatch``. The default embedder is a
seeded hash n-gram projection (pure numpy, no services): deterministic across
engines, so vector top-k is oracle-checkable; a real model (Ollama/HF) drops
in by passing ``embed_fn`` with the same ``list[str] -> np.ndarray``
contract.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EmbedFn = Callable[[list[str]], "np.ndarray"]   # (n texts) -> (n, dim)


_SPLITMIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def hash_ngram_embedder(dim: int = 64, seed: int = 42,
                        ngram: int = 3) -> EmbedFn:
    """Deterministic stand-in for a text-embedding model: character (byte)
    n-grams hashed into `dim` buckets with +/-1 signs, L2-normalized.
    Similar texts share n-grams -> high cosine, so near-dup and topk
    semantics behave like a real embedding space.

    Fully numpy-vectorized: each text's UTF-8 bytes become integer gram
    codes via shifted adds, mixed with a splitmix64 finalizer (wrapping
    uint64 arithmetic, deterministic everywhere numpy runs) — no per-gram
    Python loop, so throughput is memory-bound, ~30x the hashlib-per-gram
    version."""
    shifts = [np.uint64(8 * (ngram - 1 - j)) for j in range(ngram)]
    seed64 = np.uint64(seed)

    def embed(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float32)
        with np.errstate(over="ignore"):
            for row, text in enumerate(texts):
                t = (text or "").lower()
                if not t.strip():
                    continue                 # zero vector (app/main.py:227)
                b = np.frombuffer(f" {t} ".encode("utf-8"), dtype=np.uint8)
                if len(b) < ngram:
                    continue
                a = b.astype(np.uint64)
                g = a[: len(a) - ngram + 1] << shifts[0]
                for j in range(1, ngram):
                    end = len(a) - ngram + 1 + j
                    g = g | (a[j:end] << shifts[j])
                # splitmix64 finalizer over (gram code + seed)
                h = (g + seed64) * _GOLDEN
                h ^= h >> np.uint64(30)
                h *= _SPLITMIX_C1
                h ^= h >> np.uint64(27)
                h *= _SPLITMIX_C2
                h ^= h >> np.uint64(31)
                bucket = (h % np.uint64(dim)).astype(np.int64)
                sign = np.where((h >> np.uint64(32)) & np.uint64(1),
                                np.float32(1.0), np.float32(-1.0))
                vec = out[row]
                np.add.at(vec, bucket, sign)
                n = float(np.linalg.norm(vec))
                if n > 0:
                    out[row] = vec / (n + 1e-9)  # S8 (app/main.py:1250-1251)
        return out

    return embed


def md5_ngram_embedder(dim: int = 16, ngram: int = 3) -> EmbedFn:
    """Oracle-exact sibling of `hash_ngram_embedder`: CHARACTER n-grams
    (not bytes — `substr` in every SQL dialect is character-based) hashed
    with md5, bucket = first-15-hex-digits % dim, sign = parity of hex
    digit 16. The output is the UNNORMALIZED integer count vector (exact
    in float32 up to 2^24 grams/doc), so every component, the squared
    norm, and md5(concat_ws(',', components)) are integer-exact and
    reproducible in ANSI SQL via the repo's established
    `CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)` pattern — this is
    what lets the S7 embedding entry carry a full value-hash oracle
    instead of a rows-only stamp.

    Blank handling matches the default embedder's zero-vector contract
    (app/main.py:227-228) but with an EXPLICIT whitespace set
    (space/tab/CR/LF): Python's argless str.strip() also eats exotic
    Unicode spaces, which SQL trim() does not — the parity boundary is
    pinned to the four ASCII whitespace chars both engines agree on.

    Per-gram hashlib is the slow path (~1 µs/gram) — fine for the
    oracle entry's corpus; the splitmix64 embedder stays the default for
    every other pipeline. Grams memoized per batch (texts share grams
    heavily, the minhash memo lesson)."""
    import hashlib

    def embed(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float32)
        memo: dict[str, tuple[int, float]] = {}
        for row, text in enumerate(texts):
            t = text or ""
            if t.strip(" \t\r\n") == "":
                continue                     # zero vector, like the default
            p = f" {t} "
            vec = out[row]
            for i in range(len(p) - ngram + 1):
                g = p[i:i + ngram]
                hit = memo.get(g)
                if hit is None:
                    hx = hashlib.md5(g.encode("utf-8")).hexdigest()
                    hit = (int(hx[:15], 16) % dim,
                           1.0 if int(hx[15], 16) % 2 else -1.0)
                    if len(memo) < 1_000_000:
                        memo[g] = hit
                vec[hit[0]] += hit[1]
        return out

    return embed


def embed_query(text: str, embed_fn: EmbedFn | None = None,
                dim: int = 64) -> list[float]:
    """M5 single-query embedding (app/main.py:266-274)."""
    fn = embed_fn or hash_ngram_embedder(dim)
    return [float(x) for x in fn([text])[0]]


def with_embeddings(df: DataFrame, text_col: str,
                    embed_fn: EmbedFn | None = None, dim: int = 64,
                    out_col: str = "embedding") -> DataFrame:
    """Attach an embedding column via mapInPandas (Arrow batches).

    The embed closure is shipped once per executor; each Arrow batch embeds
    vectorized. At 100 TB this is the one place Python touches the corpus —
    everything downstream (normalize, dot, topk) is JVM expressions.
    """
    from ..util import spread

    fn = embed_fn or hash_ngram_embedder(dim)
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = f"{fields}, `{out_col}` array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = fn(pdf[text_col].fillna("").tolist())
            pdf = pdf.copy()
            pdf[out_col] = [v.tolist() for v in vecs]
            yield pdf

    # spread(): a small-file corpus otherwise embeds on 1-2 Python
    # workers while the rest idle (the _shingle_index_pandas lesson);
    # no-op at real scale where input splits >= cores
    return spread(df).mapInPandas(run, schema=out_schema)

