"""Independent answers and correctness checks for the benchmark.

Nothing here calls the engine: the warehouse is read with pyarrow
through each table's ``_CURRENT`` pointer, query embeddings are
recomputed from the published hash-embedding algorithm, and top-k
answers are numpy brute force. Each ``check_*`` returns ``None`` when
the engine's answer is right and a one-line reason when it is not.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np

SCORE_TOL = 1e-9
_WORD_RE = re.compile(r"\b\w+\b", re.UNICODE)


# --- warehouse -------------------------------------------------------------


def read_table(root: str):
    """The committed version of one warehouse table as a pyarrow Table
    (``None`` before the first commit)."""
    import pyarrow.parquet as pq

    try:
        with open(os.path.join(root, "_CURRENT"), encoding="utf-8") as fh:
            version = fh.read().strip()
    except FileNotFoundError:
        return None
    return pq.read_table(os.path.join(root, version))


class Corpus:
    """The committed chunks of a warehouse, for brute-force search."""

    def __init__(self, warehouse: str):
        chunks = read_table(os.path.join(warehouse, "chunks"))
        data = read_table(os.path.join(warehouse, "chunk_data"))
        self.ids = np.asarray(chunks.column("id").to_pylist(), dtype=np.int64)
        self.emb = np.asarray(chunks.column("embedding").to_pylist(), dtype=np.float32).astype(
            np.float64
        )
        self.text = dict(
            zip(data.column("chunk_id").to_pylist(), data.column("chunk_text").to_pylist())
        )
        self.n_chunk_data = data.num_rows
        self._row = {int(i): r for r, i in enumerate(self.ids.tolist())}

    def scorer(self, qvec: np.ndarray):
        """id -> that chunk's score for ``qvec`` (None for unknown ids)."""
        scores = self.emb @ qvec
        return lambda i: float(scores[self._row[i]]) if i in self._row else None

    def topk(self, qvec: np.ndarray, k: int, threshold: float) -> list[tuple[int, float]]:
        """(chunk id, score) for the k best scores >= threshold, score
        descending then id ascending."""
        scores = self.emb @ qvec
        keep = np.nonzero(scores >= threshold)[0]
        order = sorted(keep.tolist(), key=lambda i: (-scores[i], self.ids[i]))[:k]
        return [(int(self.ids[i]), float(scores[i])) for i in order]


# --- embedding -------------------------------------------------------------


class Embedder:
    """The hash-seeded pseudo-embedding, written from its specification:
    sha256 seed -> N(0,1) base; per distinct word (sorted) an md5-seeded
    N(0, count/total) draw scaled by 0.1; a length factor; diversity
    noise drawn from the last seeded generator; L2 normalisation.

    One generator is re-seeded for every draw (constructing a
    ``RandomState`` costs far more than seeding one), and each word's
    two unit draws are kept across calls; ``N(0, s)`` is ``s`` times a
    unit draw either way, so results are bit-identical to the direct
    form."""

    def __init__(self, dim: int = 64):
        self.dim = dim
        self._rng = np.random.RandomState(0)
        self._words: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def _draws(self, seed: int) -> tuple[np.ndarray, np.ndarray]:
        self._rng.seed(seed % (2**32))
        return self._rng.normal(0, 1, self.dim), self._rng.normal(0, 1, self.dim)

    def __call__(self, text: str) -> np.ndarray:
        combined = f"{text} "
        words = _WORD_RE.findall(combined.lower().strip())
        vec, noise = self._draws(int(hashlib.sha256(combined.encode()).hexdigest()[:8], 16))
        counts: dict[str, int] = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        for w in sorted(counts):
            draws = self._words.get(w)
            if draws is None:
                draws = self._draws(int(hashlib.md5(w.encode()).hexdigest()[:8], 16))
                self._words[w] = draws
            vec += (draws[0] * (counts[w] / len(words))) * 0.1
            noise = draws[1]
        vec *= 1.0 + min(len(combined) / 100.0, 1.0) * 0.1
        vec += noise * (len(counts) / max(len(words), 1) * 0.05)
        norm = np.linalg.norm(vec)
        return vec / norm if norm > 0 else vec


# --- checks ----------------------------------------------------------------


def _same_ranking(got, want, score_of) -> str | None:
    """``got`` and ``want`` are [(id, score)] in rank order. Scores must
    match place by place within SCORE_TOL, ids must be distinct, and each
    returned id's true score (``score_of``) must be the score reported
    for it, so ids that tie with the oracle's (the k-th place too) may
    come in either order."""
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    if len({i for i, _ in got}) != len(got):
        return "duplicate ids"
    for (gid, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"score {gs!r} where {ws!r} expected"
        true = score_of(gid)
        if true is None or abs(true - gs) > SCORE_TOL:
            return f"id {gid} reported at {gs!r}, its score is {true!r}"
    return None


def check_search(rows: list[tuple[int, float, str]], corpus: Corpus, qvec, k, threshold):
    """``search_doc_chunks`` rows (chunk_id, score, chunk_text) against
    the brute-force top-k; payload text must be the stored chunk's."""
    got = sorted(((int(i), float(s)) for i, s, _ in rows), key=lambda r: (-r[1], r[0]))
    bad = _same_ranking(got, corpus.topk(qvec, k, threshold), corpus.scorer(qvec))
    if bad:
        return "search: " + bad
    for i, _, t in rows:
        if corpus.text.get(int(i)) != t:
            return f"search: payload of chunk {i} differs from chunk_data"
    return None


NO_CONTEXT_MARK = "you found no relevant information."
WITH_CONTEXT_MARK = "you found the following relevant information:"


def check_prompt(prompt: str, query: str, corpus: Corpus, qvec, k=5, threshold=0.01):
    """The RAG prompt uses the with-context template exactly when the
    oracle has hits, names the query, and carries every oracle top-k
    chunk text."""
    hits = corpus.topk(qvec, k, threshold)
    if f'"{query}"' not in prompt:
        return "generate: prompt does not quote the query"
    if bool(hits) != (WITH_CONTEXT_MARK in prompt) or bool(hits) == (NO_CONTEXT_MARK in prompt):
        return f"generate: wrong template for {len(hits)} hits"
    for cid, _ in hits:
        if corpus.text[cid] not in prompt:
            return f"generate: chunk {cid} missing from the prompt"
    return None


def check_import(warehouse: str, n_books: int) -> str | None:
    """Sources equal the distinct books imported so far (so a re-imported
    book adds none), and chunks and chunk_data have one row per chunk."""
    sources = read_table(os.path.join(warehouse, "sources")).num_rows
    chunks = read_table(os.path.join(warehouse, "chunks")).num_rows
    data = read_table(os.path.join(warehouse, "chunk_data")).num_rows
    if sources != n_books:
        return f"import: {sources} sources for {n_books} distinct books"
    if chunks != data:
        return f"import: {chunks} chunks but {data} chunk_data rows"
    return None


def exact_topk(vecs: np.ndarray, ids: np.ndarray, probes: np.ndarray, k: int):
    """Per probe, [(id, score)] of the k highest dot products, score
    descending then id ascending (vectors are unit length)."""
    scores = probes @ vecs.T
    out = []
    for row in scores:
        order = np.lexsort((ids, -row))[:k]
        out.append([(int(ids[i]), float(row[i])) for i in order])
    return out


def check_knn(got: dict[int, list[tuple[int, float]]], vecs, ids, probes, k: int):
    """``knn_join`` rows grouped per probe (rank order) against the
    numpy top-k of every probe."""
    scores = probes @ vecs.T
    row = {int(i): r for r, i in enumerate(ids.tolist())}
    for p, w in enumerate(exact_topk(vecs, ids, probes, k)):
        bad = _same_ranking(
            got.get(p, []), w, lambda i, p=p: float(scores[p, row[i]]) if i in row else None
        )
        if bad:
            return f"knn_join probe {p}: {bad}"
    return None


def recall(approx: list[int], exact: list[int]) -> float:
    """|approx ∩ exact| / |exact|."""
    return len(set(approx) & set(exact)) / len(exact)


def check_recall(value: float, floor: float, what: str) -> str | None:
    return None if value >= floor else f"{what}: recall {value:.3f} below {floor}"


# --- dedup -------------------------------------------------------------------

NEAR_DUP_JACCARD = 0.5  # a reported pair at or above this is a true near-duplicate


def shingles(text: str, k: int = 5) -> set[str]:
    """Distinct k-word shingles of the lowercased, space-split text (the
    whole text when it has fewer than k words)."""
    toks = text.lower().split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def components(ids, pairs) -> dict[int, int]:
    """id -> smallest id of its connected component over ``pairs``."""
    parent = {int(i): int(i) for i in ids}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(int(a)), root(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: root(i) for i in parent}


def check_exact_dedup(rows: list[tuple[int, int]], docs: list[tuple[int, str]]) -> str | None:
    """``exact_dedup`` rows (keeper_id, dup_count): one per distinct
    text, the keeper its smallest id, the count its copies."""
    want: dict[str, list[int]] = {}
    for i, t in docs:
        want.setdefault(t, []).append(i)
    got = sorted((int(k), int(c)) for k, c in rows)
    expect = sorted((min(ids), len(ids)) for ids in want.values())
    if len(got) != len(expect):
        return f"exact_dedup: {len(got)} keepers for {len(expect)} distinct texts"
    if got != expect:
        return "exact_dedup: keepers or duplicate counts differ"
    return None


def check_pairs(
    rows: list[tuple[int, int, float]], docs: list[tuple[int, str]], planted: list[tuple[int, int]]
) -> tuple[str | None, float, float]:
    """``minhash_pairs`` rows (id_a, id_b, jaccard): every pair distinct
    and ordered, its Jaccard the exact shingle Jaccard. Returns
    (failure, recall of the planted pairs, precision: share of reported
    pairs that are planted or at NEAR_DUP_JACCARD or above)."""
    sh = {i: shingles(t) for i, t in docs}
    seen = set()
    true = 0
    for a, b, j in rows:
        a, b = int(a), int(b)
        if a >= b or (a, b) in seen:
            return f"minhash_pairs: pair ({a}, {b}) unordered or repeated", 0.0, 0.0
        seen.add((a, b))
        want = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if abs(float(j) - want) > SCORE_TOL:
            return f"minhash_pairs: Jaccard {j!r} for ({a}, {b}), expected {want!r}", 0.0, 0.0
        true += want >= NEAR_DUP_JACCARD or (a, b) in planted
    recall_ = len(seen & set(planted)) / len(planted)
    return None, recall_, true / len(rows) if rows else 1.0


def check_assign(rows: list[tuple[int, int, bool]], ids, pairs) -> str | None:
    """``dedup_assign`` rows (id, keeper_id, is_keeper): the keeper of
    each document is the smallest id of its component over ``pairs``."""
    want = components(ids, pairs)
    got = {int(i): (int(k), bool(f)) for i, k, f in rows}
    if set(got) != set(want):
        return f"dedup_assign: {len(got)} rows for {len(want)} documents"
    for i, k in want.items():
        if got[i] != (k, i == k):
            return f"dedup_assign: document {i} kept by {got[i][0]}, expected {k}"
    return None


def check_semdedup(rows, ids, vecs, centers, tau: float) -> str | None:
    """``semdedup`` rows (vec_id, cluster, component, keeper_id,
    is_keeper): cluster is the nearest center, components connect
    same-cluster vectors with cosine >= ``tau`` (named by their smallest
    id), and each keeps the member least similar to its center (6-digit
    rounded cosine, then id)."""
    units = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    dots = vecs @ units.T
    cluster = dots.argmax(axis=1)
    cent_cos = np.round(dots.max(axis=1) / np.linalg.norm(vecs, axis=1), 6)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    a, b = np.nonzero(np.triu(cos >= tau, 1) & (cluster[:, None] == cluster[None, :]))
    comp = components(ids, [(ids[i], ids[j]) for i, j in zip(a.tolist(), b.tolist())])
    row = {int(i): r for r, i in enumerate(ids.tolist())}
    keeper = {}
    for i, c in comp.items():
        key = (cent_cos[row[i]], i)
        keeper[c] = min(keeper.get(c, key), key)
    got = {int(r[0]): tuple(r[1:5]) for r in rows}
    if set(got) != set(comp):
        return f"semdedup: {len(got)} rows for {len(comp)} vectors"
    for i, c in comp.items():
        k = keeper[c][1]
        want = (int(cluster[row[i]]), c, k, i == k)
        if got[i] != want:
            return f"semdedup: vector {i} labelled {got[i]}, expected {want}"
    return None
