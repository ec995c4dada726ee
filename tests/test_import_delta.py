"""``cli.import_doc`` commits each table as an add-file delta from one
pass over the import lineage. Pinned here on a synthetic corpus:

- the committed tables equal, row for row, a full-version commit
  (``cli.save_state``) of the state unioned with
  ``pipeline.import_documents``' novel rows;
- every stored embedding is the embedding of its stored text;
- the converted input is computed once per import, however many
  tables the import commits;
- the import leaves no persisted RDD behind;
- every parquet file of every committed version has the first
  version's Arrow schema, nullability included.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from demo_pgvector_spark import cli, pipeline
from demo_pgvector_spark.functions.embedding import hash_embed_py
from demo_pgvector_spark.operators import convert
from tests.corpus import write_book

TABLES = ("models", "sources", "chunks", "chunk_data")


def _imports(books: str) -> list[list[str]]:
    """Three imports: two EPUBs and a plain-text book (one without a
    sidecar); then a new EPUB plus a re-import; then only re-imports."""
    b0, b1 = write_book(books, 0), write_book(books, 1)
    b2 = write_book(books, 2, kind="txt")
    b3 = write_book(books, 3, sidecar=False)
    b4 = write_book(books, 4)
    return [[b0, b1, b2, b3], [b4, b1], [b0, b4]]


def _save_state_import(spark, wh: str, files: list[str]) -> None:
    """The full-version commit of state ∪ the import's novel rows."""
    state = cli.load_state(spark, wh)
    sides = [f + ".meta.yml" for f in files if os.path.exists(f + ".meta.yml")]
    novel = pipeline.import_documents(
        spark,
        cli._read_files(spark, files),
        convert.read_sidecar_yaml(spark, sides),
        state,
        max_tokens=256,
    )
    cli.save_state({t: state[t].unionByName(novel[t]) for t in TABLES}, wh)


def _rows(spark, wh: str) -> dict[str, list[tuple]]:
    out = {}
    for name, df in cli.load_state(spark, wh).items():
        cols = [
            F.to_json(c).alias(c) if c == "metadata" else F.col(c) for c in df.columns
        ]
        out[name] = sorted(tuple(r) for r in df.select(*cols).collect())
    return out


@pytest.fixture(scope="module")
def imported(spark, tmp_path_factory):
    """Run the three imports through ``cli.import_doc`` with a tap on the
    converted input counting the rows each import computes, and through
    the full-version commit; returns both warehouses and the counts."""
    root = tmp_path_factory.mktemp("import_delta")
    imports = _imports(str(root / "books"))
    delta_wh, full_wh = str(root / "delta"), str(root / "full")
    sc = spark.sparkContext

    def persisted() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    read_files = cli._read_files
    taps = []

    def counted(batches):
        for batch in batches:
            taps[-1].add(len(batch))
            yield batch

    def tapped(s, files):
        df = read_files(s, files)
        return df.mapInPandas(counted, df.schema)

    counts, leftover = [], []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cli, "_read_files", tapped)
        for files in imports:
            taps.append(sc.accumulator(0))
            before = persisted()
            cli.import_doc(spark, delta_wh, files)
            counts.append((taps[-1].value, len(files)))
            leftover.append(len(persisted() - before))
    for files in imports:
        _save_state_import(spark, full_wh, files)
    return {"delta": delta_wh, "full": full_wh, "counts": counts, "leftover": leftover}


def test_delta_commits_equal_full_version_commits(spark, imported):
    got, want = _rows(spark, imported["delta"]), _rows(spark, imported["full"])
    assert {t: len(r) for t, r in got.items()} == {t: len(r) for t, r in want.items()}
    assert got == want
    # the corpus exercised both dimensions' no-op path and the chunk append
    assert len(got["models"]) == 1 and len(got["sources"]) == 5
    assert len(got["chunks"]) > len(got["sources"])


def test_stored_embedding_is_the_embedding_of_the_stored_text(spark, imported):
    st = cli.load_state(spark, imported["delta"])
    pairs = (
        st["chunks"]
        .join(st["chunk_data"].select("chunk_id", "chunk_text"), F.col("id") == F.col("chunk_id"))
        .select("id", "embedding", "chunk_text")
        .collect()
    )
    assert len(pairs) == st["chunks"].count() == st["chunk_data"].count()
    for r in pairs:
        want = np.asarray(hash_embed_py(r["chunk_text"], pipeline.EMBEDDING_DIM), np.float32)
        np.testing.assert_array_equal(np.asarray(r["embedding"], np.float32), want)


def test_converted_input_is_computed_once_per_import(imported):
    # N rows for N files: the four commits share one pass (a commit that
    # re-ran the lineage would count the files again)
    assert [seen for seen, _ in imported["counts"]] == [n for _, n in imported["counts"]]


def test_import_leaves_no_persisted_rdd(imported):
    assert imported["leftover"] == [0, 0, 0]


# a full-version first commit over an empty table writes only the ids
# NOT NULL
NOT_NULL = {"models": ["id"], "sources": ["id"], "chunks": ["id"], "chunk_data": ["id", "chunk_id"]}


def test_every_file_of_every_version_has_the_first_schema(imported):
    for table in TABLES:
        root = os.path.join(imported["delta"], table)
        versions = sorted(v for v in os.listdir(root) if v.startswith("v"))
        assert len(versions) == 3
        first = None
        for v in versions:
            files = sorted(glob.glob(os.path.join(root, v, "*.parquet")))
            assert files, (table, v)
            for f in files:
                schema = papq.read_schema(f)
                first = first or schema
                assert schema.equals(first, check_metadata=True), (table, v, f)
        assert [c.name for c in first if not c.nullable] == NOT_NULL[table]
