"""End-to-end pipeline test: the reference's full
`example.load_and_query_1` workflow (tasks.py:154-177) — import a corpus,
search it, build the RAG prompt — run set-oriented through the engine's
composed operators (pipeline.py), including import idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark import pipeline

CORPUS = [
    # (doc_id, filepath, text) — .txt routes ready; .bin must be rejected
    (0, "/in/alpha.txt", "the dragons of autumn twilight flew over the silver "
        "mountains while the heroes of the lance gathered at the inn of the "
        "last home to plan their long journey to the towers of high sorcery"),
    (1, "/in/beta.txt", "a treatise on the cultivation of winter wheat in "
        "northern climates including crop rotation soil preparation and the "
        "timing of the harvest before the first deep frost of the season"),
    (2, "/in/gamma.bin", "binary payload that must be rejected by routing"),
]
SIDECARS = [
    ("/in/alpha.txt", "Margaret Weis", "Dragons of Autumn Twilight",
     "fantasy", "novel", "1984-11-01"),
    ("/in/beta.txt", "A. Farmer", "Winter Wheat", None, "reference",
     "1972-03-15"),
]


@pytest.fixture(scope="module")
def state(spark):
    files = spark.createDataFrame(CORPUS, "doc_id long, filepath string, text string")
    sidecars = spark.createDataFrame(
        SIDECARS,
        "filepath string, author string, title string, genre string,"
        " text_type string, publication_date string",
    )
    st = pipeline.empty_tables(spark)
    novel = pipeline.import_documents(spark, files, sidecars, st, max_tokens=16)
    return {k: st[k].unionByName(novel[k]).cache() for k in st}


def test_import_populates_all_tables(state):
    assert state["models"].count() == 1
    m = state["models"].first()
    assert m["name"] == pipeline.DEFAULT_MODEL_NAME and m["embedding_dim"] == 64
    # 2 kept docs (the .bin was rejected) → 2 sources
    srcs = {r["title"]: r for r in state["sources"].collect()}
    assert set(srcs) == {"Dragons of Autumn Twilight", "Winter Wheat"}
    assert srcs["Dragons of Autumn Twilight"]["source_type"] == 1  # fiction
    assert srcs["Winter Wheat"]["source_type"] == 2  # nonfiction ("reference")
    assert srcs["Dragons of Autumn Twilight"]["year"] == 1984
    assert state["chunks"].count() == state["chunk_data"].count() > 2


def test_chunks_are_normalized_and_joined(state):
    from demo_pgvector_spark.functions.vector import l2_norm

    norms = state["chunks"].select(
        F.round(l2_norm(F.col("embedding")), 5).alias("n")
    ).distinct().collect()
    assert {float(r["n"]) for r in norms} == {1.0}
    joined = state["chunks"].join(
        state["chunk_data"], state["chunks"].id == state["chunk_data"].chunk_id
    )
    assert joined.count() == state["chunks"].count()


def test_import_is_idempotent(spark, state):
    files = spark.createDataFrame(CORPUS, "doc_id long, filepath string, text string")
    sidecars = spark.createDataFrame(
        SIDECARS,
        "filepath string, author string, title string, genre string,"
        " text_type string, publication_date string",
    )
    novel = pipeline.import_documents(spark, files, sidecars, state, max_tokens=16)
    assert novel["models"].count() == novel["sources"].count() == 0
    again = {k: state[k].unionByName(novel[k]) for k in ("models", "sources")}
    # dimension tables unchanged: same ids, same rows
    assert sorted(map(tuple, again["models"].collect())) == sorted(
        map(tuple, state["models"].collect())
    )
    assert sorted(map(tuple, again["sources"].collect())) == sorted(
        map(tuple, state["sources"].collect())
    )


def test_search_finds_the_right_document(state):
    # query with a verbatim chunk's text → self-similarity 1.0, rank 1
    probe = state["chunk_data"].filter(
        F.col("chunk_text").contains("dragons")
    ).first()
    hits = pipeline.search_chunks(state, probe["chunk_text"], top_k=3, threshold=0.5)
    top = hits.orderBy(F.col("similarity_score").desc()).first()
    assert top["chunk_text"] == probe["chunk_text"]
    # storage casts embeddings to float32 (init.sql vector type), so the
    # float64 probe's self-dot lands within ~1e-7 of exactly 1
    assert top["similarity_score"] == pytest.approx(1.0, abs=1e-6)
    assert top["metadata"]["title"] == "Dragons of Autumn Twilight"


def test_rag_prompt_with_context(state):
    probe = state["chunk_data"].first()["chunk_text"]
    prompt = pipeline.generate_prompt(state, probe, top_k=5, threshold=0.01)
    assert "you found the following relevant information" in prompt
    assert 'Excerpt from "' in prompt
    assert probe in prompt


def test_rag_prompt_no_context(state):
    # an adversarial query: threshold 0.999 with non-corpus text → no hits
    prompt = pipeline.generate_prompt(
        state, "completely unrelated quantum chromodynamics lattice", top_k=5,
        threshold=0.999,
    )
    assert "you found no relevant information" in prompt


def test_import_with_bpe_tokenizer_budget(spark):
    """tokenizer='bpe' drives the import's chunk boundaries with REAL
    learned merge costs through the pinned Arrow slot: chunks respect
    the BPE-token budget (n_bpe_tokens-based packing, not word counts),
    the tables populate end-to-end, and search still retrieves."""
    files = spark.createDataFrame(CORPUS, "doc_id long, filepath string, text string")
    sidecars = spark.createDataFrame(
        SIDECARS,
        "filepath string, author string, title string, genre string,"
        " text_type string, publication_date string",
    )
    st = pipeline.import_documents(
        spark, files, sidecars, pipeline.empty_tables(spark),
        max_tokens=24, tokenizer="bpe",
    )
    assert st["chunks"].count() == st["chunk_data"].count() > 2
    # BPE packing differs from word packing of the same corpus
    words = pipeline.import_documents(
        spark, files, sidecars, pipeline.empty_tables(spark),
        max_tokens=24, tokenizer="words",
    )
    bpe_texts = {r["chunk_text"] for r in st["chunk_data"].collect()}
    word_texts = {r["chunk_text"] for r in words["chunk_data"].collect()}
    assert bpe_texts != word_texts
    # retrieval over the BPE-chunked corpus works end-to-end
    probe = st["chunk_data"].first()["chunk_text"]
    hits = pipeline.search_chunks(st, probe, top_k=1, threshold=0.5)
    assert hits.first()["chunk_text"] == probe


def test_rag_hybrid_prompt_shape(spark):
    """registry q_rag_hybrid_prompts: one row, 5 context excerpts in
    MMR-rank order, the query document excluded."""
    import re

    from demo_pgvector_spark import registry

    [row] = registry.q_rag_hybrid_prompts(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert row["n_context"] == 5
    ids = re.findall(r"Excerpt (\d+) \(doc (\d+),", row["prompt"])
    assert [int(r) for r, _ in ids] == [1, 2, 3, 4, 5]
    assert all(int(d) != 0 for _, d in ids)  # query doc never retrieved
    assert row["prompt"].startswith(
        "Answer the question using the retrieved context.\n\n"
    )
