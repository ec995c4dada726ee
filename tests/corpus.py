"""A small synthetic import corpus on disk: EPUB and plain-text books,
each with a ``.meta.yml`` sidecar, in the layout ``cli.import_doc``
reads (the reference's examples/ directory shape)."""

from __future__ import annotations

import os
import zipfile

_CONTAINER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
    '<rootfiles><rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/></rootfiles></container>'
)


def write_epub(path: str, title: str, chapters: list[str]) -> None:
    """A minimal EPUB 3: OCF container, OPF manifest and spine, one
    XHTML document per chapter."""
    items = "".join(
        f'<item id="c{i}" href="c{i}.xhtml" media-type="application/xhtml+xml"/>'
        for i in range(len(chapters))
    )
    spine = "".join(f'<itemref idref="c{i}"/>' for i in range(len(chapters)))
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("mimetype", "application/epub+zip", zipfile.ZIP_STORED)
        z.writestr("META-INF/container.xml", _CONTAINER)
        z.writestr(
            "OEBPS/content.opf",
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
            f"<metadata><title>{title}</title></metadata>"
            f"<manifest>{items}</manifest><spine>{spine}</spine></package>",
        )
        for i, body in enumerate(chapters):
            z.writestr(
                f"OEBPS/c{i}.xhtml",
                '<html xmlns="http://www.w3.org/1999/xhtml"><body>'
                f"<h1>Chapter {i + 1}</h1><p>{body}</p></body></html>",
            )


def _words(book: int, n: int) -> str:
    return " ".join(f"w{(book * 7919 + j * 104729) % 997}" for j in range(n))


def write_book(
    out_dir: str, book: int, kind: str = "epub", sidecar: bool = True
) -> str:
    """Book ``book`` as ``book<book>.<kind>``: three chapters of 200
    pseudo-words, so several chunks at the CLI's 256-word budget, with a
    ``.meta.yml`` sidecar unless ``sidecar`` is false. Returns the path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"book{book}.{kind}")
    chapters = [_words(book * 3 + c, 200) for c in range(3)]
    if kind == "epub":
        write_epub(path, f"Book {book}", chapters)
    else:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n\n".join(chapters))
    if sidecar:
        with open(path + ".meta.yml", "w", encoding="utf-8") as fh:
            fh.write(
                f"author: Author {book % 2}\ntitle: Book {book}\n"
                f"genre: {'fantasy' if book % 2 else 'history'}\n"
                f"text_type: {'novel' if book % 2 else 'reference'}\n"
                f"publication_date: {1950 + book}-01-01\n"
            )
    return path
