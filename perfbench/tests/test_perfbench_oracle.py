import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oracle


def _commit(root, table, columns):
    vdir = os.path.join(root, table, "v000001")
    os.makedirs(vdir)
    pq.write_table(pa.table(columns), os.path.join(vdir, "part-0.parquet"))
    with open(os.path.join(root, table, "_CURRENT"), "w") as fh:
        fh.write("v000001")


TEXTS = ["alpha beta gamma", "delta epsilon", "zeta eta theta iota", "kappa", "lambda mu"]


@pytest.fixture()
def warehouse(tmp_path):
    root = str(tmp_path)
    embed = oracle.Embedder()
    emb = [embed(t).astype(np.float32).tolist() for t in TEXTS]
    ids = list(range(1, len(TEXTS) + 1))
    _commit(root, "chunks", {"id": ids, "embedding": pa.array(emb, pa.list_(pa.float32()))})
    _commit(root, "chunk_data", {"id": ids, "chunk_id": ids, "chunk_text": TEXTS})
    _commit(root, "sources", {"id": [1, 2]})
    _commit(root, "models", {"id": [1]})
    return root


def _answer(corpus, q, k, t):
    qv = oracle.Embedder()(q)
    return [(i, s, corpus.text[i]) for i, s in corpus.topk(qv, k, t)], qv


def test_embedder_matches_the_engine_embedder():
    from demo_pgvector_spark.functions.embedding import hash_embed_py

    embed = oracle.Embedder()  # one instance: the word cache is reused across texts
    for text in ("", "one", "The quick brown fox. The fox!", " ".join(TEXTS), "fox one"):
        assert np.array_equal(embed(text), np.array(hash_embed_py(text)))


def test_check_search_accepts_the_oracle_and_rejects_wrong_answers(warehouse):
    corpus = oracle.Corpus(warehouse)
    rows, qv = _answer(corpus, TEXTS[2], 3, -1.0)
    assert rows[0][0] == 3 and rows[0][1] == pytest.approx(1.0, abs=1e-6)
    assert oracle.check_search(rows, corpus, qv, 3, -1.0) is None
    assert oracle.check_search(list(reversed(rows)), corpus, qv, 3, -1.0) is None  # order-free input
    assert "hits" in oracle.check_search(rows[:2], corpus, qv, 3, -1.0)
    wrong_id = [(rows[0][0], rows[0][1], rows[0][2]), (5 if rows[1][0] != 5 else 4, rows[1][1], rows[1][2])] + rows[2:]
    assert oracle.check_search(wrong_id, corpus, qv, 3, -1.0) is not None
    off_score = [(rows[0][0], rows[0][1] + 1e-6, rows[0][2])] + rows[1:]
    assert "score" in oracle.check_search(off_score, corpus, qv, 3, -1.0)
    bad_text = [(rows[0][0], rows[0][1], "not the chunk")] + rows[1:]
    assert "payload" in oracle.check_search(bad_text, corpus, qv, 3, -1.0)


def test_check_search_threshold(warehouse):
    corpus = oracle.Corpus(warehouse)
    qv = oracle.Embedder()("omicron")
    assert corpus.topk(qv, 10, 0.7) == []
    assert oracle.check_search([], corpus, qv, 10, 0.7) is None
    assert oracle.check_search([(1, float(corpus.emb[0] @ qv), TEXTS[0])], corpus, qv, 10, 0.7)


def _prompt(query, texts):
    from demo_pgvector_spark.operators import rag

    if not texts:
        return rag.NO_CONTEXT_TEMPLATE % (query, query)
    return rag.WITH_CONTEXT_TEMPLATE % (query, "".join(texts), query)


def test_check_prompt(warehouse):
    corpus = oracle.Corpus(warehouse)
    q = "alpha"
    qv = oracle.Embedder()(q)
    top = [corpus.text[i] for i, _ in corpus.topk(qv, 5, 0.01)]
    assert top, "fixture needs hits at 0.01"
    assert oracle.check_prompt(_prompt(q, top), q, corpus, qv) is None
    assert "template" in oracle.check_prompt(_prompt(q, []), q, corpus, qv)
    assert "missing" in oracle.check_prompt(_prompt(q, top[:-1]), q, corpus, qv)
    assert "quote" in oracle.check_prompt(_prompt("other", top), q, corpus, qv)


def test_check_import(warehouse):
    assert oracle.check_import(warehouse, 2) is None
    assert "sources" in oracle.check_import(warehouse, 3)
    os.rename(os.path.join(warehouse, "chunk_data"), os.path.join(warehouse, "old"))
    _commit(warehouse, "chunk_data", {"id": [1], "chunk_id": [1], "chunk_text": ["x"]})
    assert "chunk_data" in oracle.check_import(warehouse, 2)


def test_check_knn_and_recall():
    rng = np.random.RandomState(0)
    vecs = rng.normal(0, 1, (30, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = np.arange(1, 31)
    probes = vecs[:2] + 0.01
    want = oracle.exact_topk(vecs, ids, probes, 4)
    got = {p: list(w) for p, w in enumerate(want)}
    assert oracle.check_knn(got, vecs, ids, probes, 4) is None
    swapped = dict(got)
    swapped[1] = [got[1][1], got[1][0]] + got[1][2:]
    assert oracle.check_knn(swapped, vecs, ids, probes, 4) is not None
    assert oracle.check_knn({0: got[0]}, vecs, ids, probes, 4) is not None
    assert oracle.recall([1, 2, 3], [1, 2, 4, 5]) == 0.5
    assert oracle.check_recall(0.5, 0.3, "x") is None
    assert oracle.check_recall(0.2, 0.3, "x") is not None


def test_ties_may_come_in_either_order():
    vecs = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    ids = np.array([1, 2, 3])
    probes = np.array([[1.0, 0.0]])
    assert oracle.check_knn({0: [(2, 1.0)]}, vecs, ids, probes, 1) is None
    assert oracle.check_knn({0: [(3, 1.0)]}, vecs, ids, probes, 1) is not None


def test_check_exact_dedup():
    docs = [(1, "a b"), (2, "c"), (3, "a b"), (4, "c"), (5, "d")]
    right = [(1, 2), (2, 2), (5, 1)]
    assert oracle.check_exact_dedup(right, docs) is None
    assert "keepers" in oracle.check_exact_dedup(right[:2], docs)
    assert oracle.check_exact_dedup([(3, 2), (2, 2), (5, 1)], docs) is not None
    assert oracle.check_exact_dedup([(1, 1), (2, 2), (5, 1)], docs) is not None


def test_check_pairs():
    base = " ".join(f"w{i}" for i in range(12))
    near = base.replace("w6", "x")
    docs = [(1, base), (2, near), (3, "p q r s t u v")]
    j = len(oracle.shingles(base) & oracle.shingles(near)) / len(oracle.shingles(base) | oracle.shingles(near))
    assert oracle.check_pairs([(1, 2, j)], docs, [(1, 2)]) == (None, 1.0, 1.0)
    bad, recall, _ = oracle.check_pairs([], docs, [(1, 2)])
    assert bad is None and recall == 0.0
    assert "Jaccard" in oracle.check_pairs([(1, 2, j + 0.01)], docs, [(1, 2)])[0]
    assert "unordered" in oracle.check_pairs([(2, 1, j)], docs, [(1, 2)])[0]
    assert oracle.check_pairs([(1, 2, j), (1, 3, 0.0)], docs, [(1, 2)])[2] == 0.5


def test_check_assign():
    rows = [(1, 1, True), (2, 1, False), (3, 1, False), (4, 4, True)]
    assert oracle.check_assign(rows, [1, 2, 3, 4], [(2, 3), (1, 3)]) is None
    assert oracle.check_assign(rows, [1, 2, 3, 4], [(2, 3)]) is not None
    assert oracle.check_assign(rows[:3], [1, 2, 3, 4], [(2, 3), (1, 3)]) is not None


def test_check_semdedup():
    centers = np.array([[1.0, 0.0], [0.0, 1.0]])
    vecs = np.array([[1.0, 0.1], [1.0, 0.12], [0.1, 1.0], [0.6, 0.5]])
    ids = np.array([1, 2, 3, 4])
    # 1 and 2 pair in cluster 0; 2 is further from its center, so it is kept
    right = [(1, 0, 1, 2, False), (2, 0, 1, 2, True), (3, 1, 3, 3, True), (4, 0, 4, 4, True)]
    assert oracle.check_semdedup(right, ids, vecs, centers, 0.99) is None
    wrong_keeper = [(1, 0, 1, 1, True), (2, 0, 1, 1, False)] + right[2:]
    assert oracle.check_semdedup(wrong_keeper, ids, vecs, centers, 0.99) is not None
    unpaired = [(1, 0, 1, 1, True), (2, 0, 2, 2, True)] + right[2:]
    assert oracle.check_semdedup(unpaired, ids, vecs, centers, 0.99) is not None
    assert oracle.check_semdedup(right[:3], ids, vecs, centers, 0.99) is not None
