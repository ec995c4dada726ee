import filecmp
import os
import zipfile

import numpy as np

import gen


def _books(tmp_path, name, seed):
    text = gen.ZipfText(seed)
    return gen.write_books(str(tmp_path / name), text, seed, 0, 3, chapters=2, paras=2)


def _same_files(a: list[str], b: list[str]) -> bool:
    return all(
        filecmp.cmp(x, y, shallow=False) and filecmp.cmp(x + ".meta.yml", y + ".meta.yml", shallow=False)
        for x, y in zip(a, b)
    )


def test_books_are_byte_identical_for_a_seed(tmp_path):
    assert _same_files(_books(tmp_path, "a", 7), _books(tmp_path, "b", 7))


def test_books_differ_across_seeds(tmp_path):
    a, b = _books(tmp_path, "a", 7), _books(tmp_path, "b", 8)
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_vocabulary_is_distinct_and_seeded():
    words = gen.vocabulary(3)
    assert len(words) == len(set(words)) == gen.VOCAB_SIZE
    assert gen.vocabulary(3) == words and gen.vocabulary(4) != words


def test_zipf_draws_favour_low_ranks():
    text = gen.ZipfText(1)
    drawn = text.draw(np.random.RandomState(0), 20_000)
    assert drawn.count(text.words[0]) > drawn.count(text.words[100]) > 0


def test_books_are_valid_epubs_with_fixed_word_counts(tmp_path):
    from demo_pgvector_spark.operators.convert import _epub_to_text

    (path,) = gen.write_books(
        str(tmp_path), gen.ZipfText(2), 2, 5, 1, chapters=3, paras=2, para_words=40
    )
    with zipfile.ZipFile(path) as z:
        assert z.namelist()[0] == "mimetype"
        assert z.read("mimetype") == b"application/epub+zip"
    n_spine, text = _epub_to_text(open(path, "rb").read())
    assert n_spine == 3
    words = [w for w in text.split() if w not in ("Chapter", "1", "2", "3")]
    assert len(words) == 3 * 2 * 40
    meta = open(path + ".meta.yml", encoding="utf-8").read()
    assert "volume 5" in meta and "publication_date" in meta


def test_free_text_queries_are_seeded():
    text = gen.ZipfText(1)
    assert gen.free_text_queries(text, 1, 4) == gen.free_text_queries(text, 1, 4)
    assert gen.free_text_queries(text, 1, 4) != gen.free_text_queries(text, 2, 4)


def test_clustered_vectors_and_landing_files(tmp_path):
    ids, vecs, centers = gen.clustered_vectors(5, 50, 4)
    ids2, vecs2, _ = gen.clustered_vectors(5, 50, 4)
    assert np.array_equal(vecs, vecs2) and np.array_equal(ids, ids2)
    assert not np.array_equal(vecs, gen.clustered_vectors(6, 50, 4)[1])
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0)
    assert np.allclose(np.linalg.norm(centers, axis=1), 1.0)
    paths = gen.write_landing(str(tmp_path / "a"), ids, vecs, 3)
    again = gen.write_landing(str(tmp_path / "b"), ids, vecs, 3)
    assert [os.path.basename(p) for p in paths] == ["part_000.parquet", "part_001.parquet", "part_002.parquet"]
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(paths, again))
    import pyarrow.parquet as pq

    assert sum(pq.read_table(p).num_rows for p in paths) == 50


def test_chunk_rows_are_seeded():
    text = gen.ZipfText(4)
    sources, chunks = gen.chunk_rows(text, 4, 3, 2, chunk_words=20)
    assert (sources, chunks) == gen.chunk_rows(text, 4, 3, 2, chunk_words=20)
    assert chunks != gen.chunk_rows(gen.ZipfText(5), 5, 3, 2, chunk_words=20)[1]
    assert [s[0] for s in sources] == [1, 2, 3]
    assert [(c[0], c[1], c[2]) for c in chunks] == [(1, 1, 0), (2, 1, 1), (3, 2, 0), (4, 2, 1), (5, 3, 0), (6, 3, 1)]
    assert all(len(c[3].split()) == 20 for c in chunks)


def test_dup_corpus_plants_exact_and_near_copies():
    text = gen.ZipfText(6)
    rows, pairs = gen.dup_corpus(text, 6, 30, 4, 5, words=20)
    assert (rows, pairs) == gen.dup_corpus(text, 6, 30, 4, 5, words=20)
    assert rows != gen.dup_corpus(text, 7, 30, 4, 5, words=20)[0]
    assert [i for i, _ in rows] == list(range(1, 40))
    texts = [t for _, t in rows]
    assert len(set(texts)) == 30 + 5  # exact copies add no distinct text
    assert len(pairs) == 5 and all(b > 30 for _, b in pairs)
    for a, b in pairs:
        diff = [x != y for x, y in zip(texts[a - 1].split(), texts[b - 1].split())]
        assert sum(diff) == 1


def test_near_dup_vectors():
    ids, vecs, centers, pairs = gen.near_dup_vectors(3, 40, 4, 5)
    assert np.array_equal(vecs, gen.near_dup_vectors(3, 40, 4, 5)[1])
    assert list(ids) == list(range(1, 46)) and vecs.shape == (45, 64)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0)
    for a, b in pairs:
        assert vecs[a - 1] @ vecs[b - 1] > 0.99
