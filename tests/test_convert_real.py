"""REAL-file ingestion: the reference's five example EPUBs
(/root/reference/examples, read-only) through the engine's genuine
EPUB→text converter (stdlib zip+XHTML parse inside mapInPandas — no
pandoc needed) and on through the full import→search pipeline.

This is the check VERDICT r2 called the one ingestion path a real user
hits first: not the deterministic SPKB container, but actual Project
Gutenberg files with their actual .meta.yml sidecars.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark.operators import convert

EXAMPLES = "/root/reference/examples"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(EXAMPLES), reason="reference examples not present"
)


@pytest.fixture(scope="module")
def converted(spark):
    media = convert.read_binary_dir(spark, EXAMPLES, glob="*.epub")
    return convert.convert_epub_real(media.select("path", "content")).cache()


def test_all_example_epubs_convert(spark, converted):
    rows = {os.path.basename(r["path"]): r for r in converted.collect()}
    assert len(rows) == 5
    for name, r in rows.items():
        assert r["n_spine_docs"] > 0, name            # no error rows
        assert r["n_chars"] > 20_000, (name, r["n_chars"])  # real book-length text
        assert r["n_chars"] == len(r["text"])


def test_conversion_extracts_the_actual_stories(spark, converted):
    """Spot-check content, not just size: each converted text must
    contain its story's title words (from the sidecar metadata)."""
    texts = {
        os.path.basename(r["path"]): r["text"].lower()
        for r in converted.collect()
    }
    assert "second variety" in texts["second-variety.epub"]
    assert "claws" in texts["second-variety.epub"]  # the story's machines
    assert "school" in texts["there-will-be-school-tomorrow.epub"]
    assert "robots" in texts["robots-of-the-world-arise.epub"]


def test_sidecars_join_and_classify(spark, converted):
    """Real .meta.yml sidecars: join on the derived filepath key and run
    the reference's fiction/nonfiction classifier — all five examples
    are fiction (source_type 1)."""
    from demo_pgvector_spark.functions import text as text_fns

    sidecars = convert.read_sidecar_yaml(
        spark, sorted(glob.glob(f"{EXAMPLES}/*.meta.yml"))
    )
    assert sidecars.count() == 5
    joined = converted.withColumnRenamed("path", "p").join(
        sidecars,
        F.col("p") == F.concat(F.lit("file:"), F.col("filepath")),
        "inner",
    )
    assert joined.count() == 5
    classified = joined.select(
        "title",
        text_fns.classify_source_type(
            F.col("text_type"), F.col("genre")
        ).alias("source_type"),
        text_fns.extract_year(F.col("publication_date")).alias("year"),
    ).collect()
    assert all(r["source_type"] == 1 for r in classified)
    years = {r["title"]: r["year"] for r in classified}
    assert years["Second Variety"] == 1953


def test_full_import_and_search_over_real_corpus(spark, converted):
    """The reference's headline demo (tasks.py example.load_and_query_1:
    import the example EPUBs, then search) end-to-end on the engine:
    convert → sidecar join → upserts → chunk → embed → two-table append
    → top-k retrieval, all from the five real files."""
    from demo_pgvector_spark import pipeline

    sidecars = convert.read_sidecar_yaml(
        spark, sorted(glob.glob(f"{EXAMPLES}/*.meta.yml"))
    )
    files = (
        converted.withColumn(
            "filepath", F.regexp_replace("path", "^file:", "")
        )
        .withColumn("doc_id", F.xxhash64("filepath"))
        .select("doc_id", "filepath", "text")
    )
    empty = pipeline.empty_tables(spark)
    novel = pipeline.import_documents(spark, files, sidecars, empty, max_tokens=256)
    state = {k: empty[k].unionByName(novel[k]) for k in empty}
    n_chunks = state["chunks"].count()
    assert n_chunks > 100  # five books at 256-token chunks
    assert state["chunk_data"].count() == n_chunks
    assert state["sources"].count() == 5
    assert state["models"].count() == 1

    hits = pipeline.search_chunks(
        state, "the robots and machines rise up", top_k=5, threshold=0.0
    ).collect()
    assert len(hits) == 5
    assert all(h["chunk_text"] for h in hits)
    # metadata carried through the whole lineage: every hit knows its book
    titles = {h["metadata"]["title"] for h in hits}
    assert titles <= {
        "Second Variety", "After World's End", "Let's Get Together",
        "Robots of the World! Arise!", "There Will Be School Tomorrow",
    }
