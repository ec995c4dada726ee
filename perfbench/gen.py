"""Seeded input generators for the workload benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical files (fixed zip timestamps and member order, no clocks),
and a different seed writes different ones. Only ``.epub`` books with
``.meta.yml`` sidecars and vector files (``.parquet``) are written;
warehouse rows, the dedup corpus and queries are returned as Python
values.

``.md`` is deliberately never written: ``operators/ingest.py`` maps
``text/markdown`` to the "rejected" route even though the ``cli`` module
docstring says ``.md`` is imported (recorded in NOTES.md).
"""

from __future__ import annotations

import os
import zipfile

import numpy as np

VOCAB_SIZE = 100_000
ZIPF_S = 1.0
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]  # 85
_ZIP_DATE = (1980, 1, 1, 0, 0, 0)


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct pronounceable words: seeded 4-syllable codes
    (85**4 > 52M candidates) in seeded rank order."""
    rng = np.random.RandomState(seed)
    n = len(_SYLLABLES)
    codes = np.unique(rng.randint(0, n**4, size + size // 4))
    if len(codes) < size:
        raise ValueError(f"vocabulary of {size} words needs more candidate draws")
    codes = rng.permutation(codes)[:size]
    words = []
    for c in codes.tolist():
        parts = []
        for _ in range(4):
            c, r = divmod(c, n)
            parts.append(_SYLLABLES[r])
        words.append("".join(parts))
    return words


class ZipfText:
    """Draws words with P(rank r) proportional to 1/r**s from a seeded
    vocabulary."""

    def __init__(self, seed: int, size: int = VOCAB_SIZE, s: float = ZIPF_S):
        self.words = vocabulary(seed, size)
        p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
        self._cdf = np.cumsum(p / p.sum())

    def draw(self, rng: np.random.RandomState, n: int) -> list[str]:
        idx = np.searchsorted(self._cdf, rng.random_sample(n), side="right")
        idx = np.minimum(idx, len(self.words) - 1)
        return [self.words[i] for i in idx.tolist()]

    def sentence(self, rng: np.random.RandomState) -> str:
        words = self.draw(rng, int(rng.randint(8, 17)))
        return " ".join(words).capitalize() + "."


def _zip_write(z: zipfile.ZipFile, name: str, data: str, stored: bool = False) -> None:
    info = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
    info.compress_type = zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    z.writestr(info, data.encode("utf-8"))


def epub_bytes(title: str, author: str, chapters: list[list[str]]) -> bytes:
    """A minimal valid EPUB 3: OCF container, OPF manifest and spine,
    one XHTML document per chapter (a list of paragraphs)."""
    import io

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        _zip_write(z, "mimetype", "application/epub+zip", stored=True)
        _zip_write(
            z,
            "META-INF/container.xml",
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles></container>',
        )
        items = "".join(
            f'<item id="ch{i}" href="ch{i}.xhtml" media-type="application/xhtml+xml"/>'
            for i in range(len(chapters))
        )
        spine = "".join(f'<itemref idref="ch{i}"/>' for i in range(len(chapters)))
        _zip_write(
            z,
            "OEBPS/content.opf",
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="id">'
            '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
            f"<dc:title>{title}</dc:title><dc:creator>{author}</dc:creator>"
            "</metadata>"
            f"<manifest>{items}</manifest><spine>{spine}</spine></package>",
        )
        for i, paras in enumerate(chapters):
            body = "".join(f"<p>{p}</p>" for p in paras)
            _zip_write(
                z,
                f"OEBPS/ch{i}.xhtml",
                '<?xml version="1.0" encoding="UTF-8"?>\n'
                '<html xmlns="http://www.w3.org/1999/xhtml"><head><title>'
                f"Chapter {i + 1}</title></head><body><h1>Chapter {i + 1}</h1>"
                f"{body}</body></html>",
            )
    return buf.getvalue()


GENRES = ("fiction", "history", "science", "poetry", "essay")


def write_books(
    out_dir: str,
    text: ZipfText,
    seed: int,
    first: int,
    n_books: int,
    chapters: int = 3,
    paras: int = 4,
    para_words: int = 64,
) -> list[str]:
    """Write books ``first .. first+n_books-1`` as ``book_<i>.epub`` plus
    a ``.meta.yml`` sidecar each; returns the epub paths. Book ``i``'s
    content depends only on (seed, i), so batches can be generated
    lazily and in any order. Every paragraph has exactly ``para_words``
    words, so every book has the same word count and chunk count; titles
    are unique per book, so every book is its own source."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(first, first + n_books):
        rng = np.random.RandomState([seed, i])
        author = " ".join(w.capitalize() for w in text.draw(rng, 2))
        title = f"{text.sentence(rng)[:-1]} volume {i}"
        body = [[_paragraph(text, rng, para_words) for _ in range(paras)] for _ in range(chapters)]
        path = os.path.join(out_dir, f"book_{i:05d}.epub")
        with open(path, "wb") as fh:
            fh.write(epub_bytes(title, author, body))
        year = 1800 + int(rng.randint(0, 220))
        with open(path + ".meta.yml", "w", encoding="utf-8") as fh:
            fh.write(
                f'author: "{author}"\ntitle: "{title}"\ntext_type: book\n'
                f"genre: {GENRES[i % len(GENRES)]}\npublication_date: '{year}-01-01'\n"
            )
        paths.append(path)
    return paths


def _paragraph(text: ZipfText, rng: np.random.RandomState, n_words: int) -> str:
    """``n_words`` Zipf words cut into sentences of 8 to 16 words."""
    words, out = text.draw(rng, n_words), []
    while words:
        cut = int(rng.randint(8, 17))
        out.append(" ".join(words[:cut]).capitalize() + ".")
        words = words[cut:]
    return " ".join(out)


def chunk_rows(
    text: ZipfText, seed: int, n_sources: int, chunks_per_source: int, chunk_words: int = 256
) -> tuple[list[tuple], list[tuple]]:
    """Rows for a warehouse of ``n_sources`` books of
    ``chunks_per_source`` chunks of ``chunk_words`` Zipf words:
    (sources: (id, author, title, genre, year); chunks: (chunk id,
    source id, chunk number, text)). Ids start at 1."""
    rng = np.random.RandomState([seed, 17])
    sources, chunks = [], []
    for s in range(1, n_sources + 1):
        author = " ".join(w.capitalize() for w in text.draw(rng, 2))
        title = f"{text.sentence(rng)[:-1]} volume {s}"
        sources.append((s, author, title, GENRES[s % len(GENRES)], 1800 + int(rng.randint(0, 220))))
        for n in range(chunks_per_source):
            chunks.append((len(chunks) + 1, s, n, " ".join(text.draw(rng, chunk_words))))
    return sources, chunks


def free_text_queries(text: ZipfText, seed: int, n: int) -> list[str]:
    """Free-text prompts: one Zipf sentence each."""
    rng = np.random.RandomState([seed, 7])
    return [text.sentence(rng) for _ in range(n)]


def clustered_vectors(
    seed: int, n: int, n_clusters: int, dim: int = 64, spread: float = 0.15
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids 1..n, unit vectors (n, dim), unit cluster centers): each
    vector is a seeded center plus N(0, spread^2) noise, normalised."""
    rng = np.random.RandomState([seed, 13])
    centers = rng.normal(0, 1, (n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[rng.randint(0, n_clusters, n)] + spread * rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return np.arange(1, n + 1, dtype=np.int64), vecs, centers


def write_landing(
    out_dir: str, ids: np.ndarray, vecs: np.ndarray, n_files: int
) -> list[str]:
    """Split (ids, vecs) into ``n_files`` ascending parquet files
    (``part_<e>.parquet``), one micro-batch each under
    ``maxFilesPerTrigger=1``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for e, (i_part, v_part) in enumerate(
        zip(np.array_split(ids, n_files), np.array_split(vecs, n_files))
    ):
        table = pa.table(
            {
                "vec_id": pa.array(i_part, pa.int64()),
                "embedding": pa.array(v_part.tolist(), pa.list_(pa.float64())),
            }
        )
        path = os.path.join(out_dir, f"part_{e:03d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def dup_corpus(
    text: ZipfText, seed: int, n_docs: int, n_exact: int, n_near: int, words: int = 64
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """(rows (doc_id, text), planted near-duplicate pairs (a < b)):
    ``n_docs`` Zipf documents, then ``n_exact`` exact copies and
    ``n_near`` near copies (one word replaced) of distinct seeded
    originals. Ids are 1.. in that order."""
    rng = np.random.RandomState([seed, 19])
    docs = [" ".join(text.draw(rng, words)) for _ in range(n_docs)]
    rows = list(enumerate(docs, 1))
    originals = rng.permutation(n_docs)[: n_exact + n_near].tolist()
    pairs = []
    for j, o in enumerate(originals):
        body = docs[o]
        if j >= n_exact:
            toks = body.split(" ")
            toks[int(rng.randint(0, words))] = "planted"
            body = " ".join(toks)
            pairs.append((o + 1, len(rows) + 1))
        rows.append((len(rows) + 1, body))
    return rows, pairs


def near_dup_vectors(
    seed: int, n: int, n_clusters: int, n_copies: int, eps: float = 0.01
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[tuple[int, int]]]:
    """``clustered_vectors`` plus ``n_copies`` near copies (N(0, eps^2)
    noise, normalised) of distinct seeded originals: (ids 1..n+n_copies,
    vectors, centers, planted (original id, copy id) pairs)."""
    ids, vecs, centers = clustered_vectors(seed, n, n_clusters)
    rng = np.random.RandomState([seed, 23])
    originals = rng.permutation(n)[:n_copies]
    copies = vecs[originals] + eps * rng.normal(0, 1, (n_copies, vecs.shape[1]))
    copies /= np.linalg.norm(copies, axis=1, keepdims=True)
    pairs = [(int(o) + 1, n + 1 + j) for j, o in enumerate(originals.tolist())]
    return (
        np.arange(1, n + n_copies + 1, dtype=np.int64),
        np.vstack([vecs, copies]),
        centers,
        pairs,
    )
