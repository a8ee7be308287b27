"""Engine configuration.

Mirrors the reference's config objects (TreeBuilderConfig
/root/reference/raptor/tree_builder.py:24-103, TreeRetrieverConfig
/root/reference/raptor/tree_retriever.py:22-83) as one validated
dataclass; scalar defaults trace to the reference where they exist.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # chunking (reference: tree_builder.py:31 max_tokens=100)
    max_tokens: int = 100

    # embedding (tests use 64-dim; reference e5-large is 1024-dim,
    # embedding_service/production_test_report.json:66)
    embedding_dim: int = 64

    # tiling ladder: resolution r quantizes the 2-D reduced space into
    # a 2^(r+1) x 2^(r+1) grid; quadkey cell ids have r+1 digits so a
    # child id is prefixed by its parent id.
    max_resolution: int = 6
    # soft multi-assignment (recast of GMM prob>0.1 multi-membership,
    # reference cluster_utils.py:65,:139): emit neighbor cell when the
    # point is within soft_eps * cell_width of that cell's border.
    soft_eps: float = 0.15

    # tree build (reference cluster_utils.py:167 max_length_in_cluster=3500)
    max_tokens_in_cluster: int = 3500
    summary_max_tokens: int = 100  # reference tree_builder.py:32 summarization_length
    # stop when a level has <= this many nodes (reference
    # cluster_tree_builder.py:95-100: len(layer) <= reduction_dimension + 1, rd=10)
    min_level_nodes: int = 11

    # retrieval (reference tree_retriever.py:370-371, main.py:48)
    top_k: int = 5
    retrieve_max_tokens: int = 3500
    threshold: float = 0.5

    # determinism
    seed: int = 224  # reference RANDOM_SEED, cluster_utils.py:19

    # summarizer seam (reference SummarizationModels.py:17-44): a
    # ``(texts: list[str], max_tokens: int) -> str`` callable used by
    # EVERY build path — full build, resume, AND incremental recompute
    # (a tree must never mix summarizer dialects across appends).
    # None -> the deterministic extractive summarizer; plug
    # ``operators.tree.http_summarize_fn(...)`` for a live LLM.
    # Compared by identity in __eq__/hash (dataclass default).
    summarize_fn: Callable[[list[str], int], str] | None = None

    # tokenizer seam (reference utils.py:43,62 — tiktoken cl100k_base):
    # a zero-arg factory returning an object with ``encode(str) ->
    # list``, constructed ONCE PER WORKER inside chunking UDFs (the
    # tokenizer itself may be unpicklable/heavy; the factory is what
    # ships). None -> the deterministic 3-engine regex tokenizer. For
    # exact reference chunk boundaries plug
    # ``functions.bpe.bpe_tokenizer_factory("cl100k_base.tiktoken")``
    # (ship the public vocab file via spark-submit --files).
    tokenizer_factory: Callable[[], object] | None = None

    def __post_init__(self) -> None:
        if self.max_tokens <= 0:
            raise ValueError("max_tokens must be positive")
        if self.embedding_dim <= 0:
            raise ValueError("embedding_dim must be positive")
        if not (0 <= self.max_resolution <= 14):
            raise ValueError("max_resolution must be in [0, 14]")
        if self.top_k <= 0:
            raise ValueError("top_k must be positive")
        if not (0.0 <= self.soft_eps < 0.5):
            raise ValueError("soft_eps must be in [0, 0.5)")


DEFAULT_CONFIG = EngineConfig()
