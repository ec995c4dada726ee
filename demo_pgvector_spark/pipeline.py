"""End-to-end pipelines: the reference's three CLI workflows composed
from the engine's operators.

Mirrors `example.load_and_query_1` (reference tasks.py:154-177): purge →
import the corpus → search / RAG-generate — but set-oriented: ONE import
job handles the whole corpus (the reference loops per file per chunk
with a DB round-trip each, cli/import_doc.py:48-73).

``import_documents`` is the full ingest lineage:

    route (drop rejected) → sidecar metadata join → U1 model upsert →
    source rows (classify type, extract year) → U2 source upsert →
    chunk + enrich → hash-embed each chunk → two-table chunk append

Every stage is one of the tested operators; this module only wires
them. All tables are plain DataFrames in and out. ``import_documents``
returns only the rows the import ADDS to each table, which is what an
add-file commit writes (cli.import_doc); a caller that needs a full
table unions them with the state it passed in. Re-running an import of
the same corpus adds no dimension rows (anti-join upserts) — proven in
tests/test_pipeline_e2e.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_pgvector_spark.functions import embedding as emb_fns
from demo_pgvector_spark.functions import text as text_fns
from demo_pgvector_spark.operators import chunking, ingest, rag, write
from demo_pgvector_spark.operators.similarity import sim_topk
from demo_pgvector_spark.session import local_frame

DEFAULT_MODEL_NAME = chunking.DEFAULT_TOKENIZER_MODEL
EMBEDDING_DIM = 64  # testdata dim; the reference default is 1536


def empty_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Fresh empty engine tables (schemas from tables.py / init.sql)."""
    from demo_pgvector_spark import tables as t

    return {
        "models": local_frame(spark, [], t.MODELS_SCHEMA),
        "sources": local_frame(spark, [], t.SOURCES_SCHEMA),
        "chunks": local_frame(spark, [], t.SOURCE_CHUNKS_SCHEMA),
        "chunk_data": local_frame(spark, [], t.SOURCE_CHUNK_DATA_SCHEMA),
    }


def import_documents(
    spark: SparkSession,
    files: DataFrame,
    sidecars: DataFrame,
    state: dict[str, DataFrame],
    model_name: str = DEFAULT_MODEL_NAME,
    max_tokens: int = 32,
    tokenizer: str = "words",
) -> dict[str, DataFrame]:
    """Batch import. ``files``: (doc_id, filepath, text); ``sidecars``:
    (filepath, author, title, genre, text_type, publication_date) — the
    ``*.meta.yml`` analog. Returns, per engine table, the rows the import
    adds to ``state`` (``state[t] ∪ result[t]`` is the updated table),
    plus ``chunk_batch``: the embedded chunk rows both chunk tables are
    allocated from. Both chunk tables re-run its lineage (parse, chunk,
    embed) unless the caller persists it while it writes them.

    ``tokenizer``: ``"words"`` budgets chunks by whitespace words (the
    deterministic stand-in); ``"bpe"`` budgets by REAL learned BPE token
    counts through the pinned Arrow slot (golden/bpe_merges.txt) — the
    tokenizer-faithful mirror of the reference's HF-tokenizer-driven
    HybridChunker (src/lib/documents.py:67-90). Out-of-vocabulary pieces
    cost their post-merge symbol count (upper-bounded by length), exactly
    how real BPE prices OOV text.
    """
    kept = ingest.ingestion_ready(files)  # route; rejected rows dropped (Q6 side output available)

    docs = kept.join(F.broadcast(sidecars), "filepath", "left")

    # U1: model dimension
    incoming_model = local_frame(
        spark, [(model_name, EMBEDDING_DIM)], "name string, embedding_dim int"
    )
    new_models = write.upsert_allocated(state["models"], incoming_model, keys=["name"])
    models = state["models"].unionByName(new_models)
    model_id = F.broadcast(
        models.filter(F.col("name") == model_name).select(
            F.col("id").alias("model_id")
        )
    )

    # U2: source dimension — classify + year-extract from sidecar metadata
    src_batch = (
        docs.crossJoin(model_id)
        .select(
            "author",
            "title",
            text_fns.classify_source_type(
                F.col("text_type"), F.col("genre")
            ).alias("source_type"),
            F.lit(None).cast("string").alias("url"),
            "genre",
            F.lit(None).cast("string").alias("subgenre"),
            text_fns.extract_year(F.col("publication_date")).alias("year"),
            "model_id",
        )
    )
    new_sources = write.upsert_allocated(
        state["sources"], src_batch, keys=list(write.SOURCE_UNIQUE_KEYS)
    )
    sources = state["sources"].unionByName(new_sources)

    # resolve each doc's source_id through the upserted dimension
    doc_sources = docs.crossJoin(model_id).withColumn(
        "year", text_fns.extract_year(F.col("publication_date"))
    )
    resolved = doc_sources.join(
        sources.select(F.col("id").alias("source_id"), "model_id", "author", "title", "year"),
        on=[
            doc_sources["model_id"].eqNullSafe(sources["model_id"]),
            doc_sources["author"].eqNullSafe(sources["author"]),
            doc_sources["title"].eqNullSafe(sources["title"]),
            doc_sources["year"].eqNullSafe(sources["year"]),
        ],
    ).select(
        "doc_id",
        "filepath",
        "text",
        "source_id",
        doc_sources["model_id"],
        doc_sources["author"],
        doc_sources["title"],
        doc_sources["publication_date"],
    )

    # chunk + enrich + embed
    if tokenizer == "bpe":
        import os as _os

        from demo_pgvector_spark.functions import bpe as bpe_fns

        merges = bpe_fns.load_merges(
            _os.path.join(
                _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                "golden", "bpe_merges.txt",
            )
        )
        split = chunking.chunk_bpe_real(
            resolved.select("doc_id", "text"), merges,
            max_bpe_tokens=max_tokens, id_col="doc_id",
        ).join(F.broadcast(resolved.drop("text")), "doc_id")
        chunks = chunking.enrich_split(
            split, max_tokens=max_tokens, tokenizer_model=model_name,
            meta_cols=("author", "title", "publication_date"),
        )
    else:
        chunks = chunking.chunk_enrich(
            resolved, max_tokens=max_tokens, tokenizer_model=model_name,
            meta_cols=("author", "title", "publication_date"),
        )
    batch = chunks.select(
        "source_id",
        "model_id",
        emb_fns.hash_embed(F.col("chunk_text")).alias("embedding"),
        F.to_json("metadata").alias("metadata"),
        "chunk_text",
        "doc_id",
        "chunk_number",
    )
    # (source_id, doc_id, chunk_number) is a TOTAL order over the batch:
    # two documents upserted into the same source tie on
    # (source_id, chunk_number) alone, and a tied order would let the two
    # separately-executed projections of the allocation window (chunks /
    # chunk_data) disagree on which row got which id — silently pairing
    # one chunk's embedding with another's text.
    new_chunks, new_chunk_data = write.append_chunks(
        state["chunks"], batch, order_by=("source_id", "doc_id", "chunk_number")
    )
    return {
        "models": new_models,
        "sources": new_sources,
        "chunks": new_chunks.withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        ),
        # metadata contract: chunk_data.metadata is map<string,string>
        "chunk_data": new_chunk_data.select(
            F.col("chunk_id").alias("id"),
            "chunk_id",
            F.from_json("metadata", "map<string,string>").alias("metadata"),
            "chunk_text",
        ),
        "chunk_batch": batch,
    }


def search_chunks(
    state: dict[str, DataFrame],
    query_text: str,
    top_k: int = 10,
    threshold: float = 0.7,
) -> DataFrame:
    """The search CLI (cli/search_doc_chunks.py): embed the prompt with
    the same deterministic embedder, then the flagship retrieval."""
    qvec = emb_fns.hash_embed_py(query_text, EMBEDDING_DIM)
    hits = sim_topk(
        state["chunks"],
        state["chunk_data"].select("chunk_id", "metadata", "chunk_text"),
        qvec,
        top_k=top_k,
        threshold=threshold,
        id_col="id",
        vec_col="embedding",
        payload_id_col="chunk_id",
        normalized=True,  # stored embeddings are L2-normalized
    )
    return hits.select("chunk_id", "similarity_score", "metadata", "chunk_text")


def generate_prompt(
    state: dict[str, DataFrame],
    query_text: str,
    top_k: int = 5,
    threshold: float = 0.01,
) -> str:
    """The RAG CLI (cli/generate_text.py): retrieve top-5 at t=0.01,
    fold excerpts, choose the with/no-context template. Returns the
    final prompt string (generation itself is the pluggable LLM sink)."""
    from pyspark.sql import Window

    hits = search_chunks(state, query_text, top_k, threshold)
    w = Window.orderBy(F.col("similarity_score").desc(), F.col("chunk_id").asc())
    ranked = hits.select(
        F.row_number().over(w).alias("rank"),  # ≤k rows post-limit: tiny
        F.col("chunk_text"),
        F.coalesce(F.col("metadata").getItem("title"), F.lit("?")).alias("title"),
        F.coalesce(F.col("metadata").getItem("author"), F.lit("?")).alias("author"),
        F.coalesce(
            F.col("metadata").getItem("publication_date"), F.lit("?")
        ).alias("publication_date"),
    )
    agg = rag.aggregated_excerpts(ranked)
    prompt_df = rag.contextualized_prompt(agg, query_text)
    return prompt_df.collect()[0]["prompt"]
