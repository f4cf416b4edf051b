"""Engine configuration — the reference's operating points as one dataclass.

Values mirror the reference env-var defaults (reference: app/main.py:67-108),
so a user of the reference finds the same knobs here. ``now`` is
parameterized because the reference's temporal operators use relative
``now-1y`` ranges (app/main.py:1875-1883); tests pin it for determinism
(SURVEY.md §7.3 risk 5).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # Retrieval (reference: app/main.py:79-108)
    top_k: int = 3
    embed_dim: int = 1024
    chunk_size: int = 512           # words per chunk, no overlap
    max_chat_history: int = 10

    # Ingestion caps (reference: app/embedding_gen.py:68-70)
    max_files_per_request: int = 5
    max_file_size_bytes: int = 10 * 1024 * 1024

    # Temporal anchor: None -> current_timestamp(); ISO string pins it.
    now: str | None = None

    # Scoring boosts (reference DSL boosts, app/main.py:1480-2074)
    boosts: dict = field(default_factory=lambda: {
        "keyword_text": 2.0,        # Q1 exact_match text fields
        "keyword_kw": 1.0,
        "hybrid_text": 1.5,         # Q3 hybrid
        "hybrid_kw": 1.0,
        "hybrid_knn": 2.0,
        "hybrid_structured_lex": 1.5,   # Q5
        "hybrid_structured_knn": 2.0,
        "multi_text": 1.0,          # Q10 multi-intent
        "multi_kw": 0.5,
        "multi_knn": 1.5,
        "multi_recency": 0.5,
    })


DEFAULT = EngineConfig()
