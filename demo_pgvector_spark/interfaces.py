"""Engine API surface — the Spark-native counterparts of the reference's
extension interfaces (src/lib/interfaces.py:1-62, including the four
commented-out *planned* interfaces at :16-50, which SURVEY §2.9 treats as
evidence of the intended surface).

The reference's interfaces are row-iterator ABCs bound to a Postgres
connection; the engine's are Protocols over DataFrames — set-oriented,
engine-agnostic, and satisfied structurally (no inheritance needed).
Concrete providers live in pipeline.py / functions/embedding.py; the
conformance test (tests/test_interfaces.py) asserts the bindings.

| reference interface (file:line)            | engine protocol        |
|--------------------------------------------|------------------------|
| EmbeddingGenerator (:5-13)                 | EmbeddingGenerator     |
| EmbeddingIngestor.bulk_ingest (:22-33)     | EmbeddingIngestor      |
| EmbeddingQueryProvider.similar (:36-44)    | EmbeddingQueryProvider |
| SettingsProvider (:59-62)                  | EngineSettings (data)  |
| PostgresqlConnectionProvider (:53-56)      | — (no wire protocol: storage is Parquet) |
| TextGenerator / LLMModelProvider (:16-19,:47-50) | LLMClient (generation sink) |
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Protocol, runtime_checkable

from pyspark.sql import Column, DataFrame, SparkSession


@runtime_checkable
class EmbeddingGenerator(Protocol):
    """Text column → embedding column (the reference generates per-text
    iterators; the engine generates a column, batched by Arrow)."""

    def __call__(self, c: Column, dim: int = ...) -> Column: ...


@runtime_checkable
class EmbeddingIngestor(Protocol):
    """Bulk ingest: documents in, the rows they add to each engine table
    out — the set-oriented ``bulk_ingest`` the reference planned
    (:29-33). The updated table is ``state[t].unionByName(out[t])``; an
    add-file commit writes ``out[t]`` alone."""

    def __call__(
        self,
        spark: SparkSession,
        files: DataFrame,
        sidecars: DataFrame,
        state: dict[str, DataFrame],
    ) -> dict[str, DataFrame]: ...


@runtime_checkable
class EmbeddingQueryProvider(Protocol):
    """``similar(embedding, limit, fields)`` (:36-44): the engine form
    takes the query text (embedding computed by the bound generator) and
    returns a DataFrame of hits."""

    def __call__(
        self,
        state: dict[str, DataFrame],
        query_text: str,
        top_k: int = ...,
        threshold: float = ...,
    ) -> DataFrame: ...


@runtime_checkable
class LLMClient(Protocol):
    """The generation sink — the reference's planned ``TextGenerator`` /
    ``LLMModelProvider`` (src/lib/interfaces.py:16-19, :47-50), realized
    there by a vLLM singleton (src/lib/llms.py:14-30). The engine form is
    batch-oriented: a list of fully-assembled prompts in, one completion
    per prompt out, so one client call amortizes model overhead across an
    Arrow batch. Generation itself stays EXTERNAL to the relational
    correctness surface (nondeterministic sampling, GPU residency);
    everything up to the prompt string is exact and oracle-checked."""

    def generate(
        self, prompts: list[str], max_tokens: int = ..., temperature: float = ...
    ) -> list[str]: ...


@dataclass(frozen=True)
class EngineSettings:
    """The engine's settings record (reference: env-selected YAML with DB
    connection info, src/lib/settings.py:10-18 / settings/demo.yml:2-7 —
    connection params have no Parquet analog; what remains are the
    pipeline parameters)."""

    data_dir: str = "/root/testdata/sf0.01"
    embedding_dim: int = 64
    max_chunk_tokens: int = 512
    search_top_k: int = 10
    search_threshold: float = 0.7  # cli/search_doc_chunks.py:37
    rag_top_k: int = 5  # cli/generate_text.py:96
    rag_threshold: float = 0.01  # cli/generate_text.py:13
    model_name: str = "deepseek-ai/DeepSeek-R1-Distill-Qwen-1.5B"
    extra: dict = field(default_factory=dict)
