"""Seeded document corpus for the conversion workloads.

`documents(seed, kinds)` returns (file name, bytes) pairs; the same seed
always gives the same bytes. Every format the lightweight converter handles
is represented, plus files it must refuse: an unsupported type and corrupt
pdf/docx files. Builders are stdlib-only (zlib, zipfile, struct).
"""

from __future__ import annotations

import io
import random
import struct
import zipfile
import zlib

WORDS = (
    "batch column customer data document export format graph hash index "
    "job join key layout markdown merge order page parse query report row "
    "scan schema shuffle slide sort spark stage stream table task text "
    "value vector window worker"
).split()

# kind -> file extension
EXTENSIONS = {
    "md": "md",
    "csv": "csv",
    "csv_latin1": "csv",
    "html": "html",
    "asciidoc": "adoc",
    "pdf_flate": "pdf",
    "pdf_raw": "pdf",
    "docx": "docx",
    "pptx": "pptx",
    "image": "png",
    "image_big": "png",
    "image_oversize": "png",
    "unsupported": "txt",
    "corrupt_pdf": "pdf",
    "corrupt_docx": "docx",
}

# Composition of the batch corpus: documents per kind.
BATCH_MIX = {
    "md": 40,
    "csv": 30,
    "csv_latin1": 8,
    "html": 40,
    "asciidoc": 30,
    "pdf_flate": 40,
    "pdf_raw": 30,
    "docx": 36,
    "pptx": 30,
    "image": 24,
    "image_big": 2,
    "image_oversize": 1,
    "unsupported": 8,
    "corrupt_pdf": 6,
    "corrupt_docx": 6,
}

LARGE_KINDS = ("image_big", "image_oversize")  # multi-MB

# Kinds a single streamed job draws from (no multi-MB files).
STREAM_KINDS = tuple(k for k in BATCH_MIX if k not in LARGE_KINDS)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _md(rng: random.Random) -> bytes:
    parts = [f"# {_words(rng, 3).title()}"]
    for _ in range(rng.randint(2, 6)):
        parts.append(f"## {_words(rng, 2).title()}")
        parts.append(_words(rng, rng.randint(20, 80)))
        parts.extend(f"- {_words(rng, 4)}" for _ in range(rng.randint(0, 4)))
    return "\n\n".join(parts).encode()


def _csv_rows(rng: random.Random) -> list[list[str]]:
    header = ["id", "name", "amount", "note"]
    return [header] + [
        [str(i), rng.choice(WORDS), f"{rng.uniform(0, 1e4):.2f}", _words(rng, 3)]
        for i in range(rng.randint(5, 60))
    ]


def _csv(rng: random.Random) -> bytes:
    return "\n".join(",".join(r) for r in _csv_rows(rng)).encode()


def _csv_latin1(rng: random.Random) -> bytes:
    rows = _csv_rows(rng)
    rows[1][3] = "café crème"
    return "\n".join(",".join(r) for r in rows).encode("latin-1")


def _html(rng: random.Random) -> bytes:
    body = [f"<h1>{_words(rng, 3)}</h1>"]
    for _ in range(rng.randint(2, 5)):
        body.append(f"<h2>{_words(rng, 2)}</h2><p>{_words(rng, rng.randint(15, 60))}</p>")
        items = "".join(f"<li>{_words(rng, 3)}</li>" for _ in range(rng.randint(1, 4)))
        body.append(f"<ul>{items}</ul>")
    rows = "".join(
        f"<tr><td>{rng.choice(WORDS)}</td><td>{rng.randint(0, 999)}</td></tr>"
        for _ in range(rng.randint(1, 6))
    )
    body.append(f"<table><tr><th>k</th><th>v</th></tr>{rows}</table>")
    return f"<!DOCTYPE html><html><body>{''.join(body)}</body></html>".encode()


def _asciidoc(rng: random.Random) -> bytes:
    parts = [f"= {_words(rng, 3).title()}"]
    for _ in range(rng.randint(2, 5)):
        parts.append(f"== {_words(rng, 2).title()}")
        parts.append(_words(rng, rng.randint(15, 60)))
        parts.extend(f"* {_words(rng, 3)}" for _ in range(rng.randint(0, 3)))
    return "\n\n".join(parts).encode()


def _pdf(rng: random.Random, compress: bool) -> bytes:
    """A multi-page PDF with one text content stream per page."""
    pages = rng.randint(1, 4)
    objs = [b"<</Type /Catalog /Pages 2 0 R>>"]
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(pages))
    objs.append(f"<</Type /Pages /Kids [{kids}] /Count {pages}>>".encode())
    for i in range(pages):
        objs.append(
            f"<</Type /Page /Parent 2 0 R /Contents {4 + 2 * i} 0 R>>".encode()
        )
        lines = [
            f"BT /F1 11 Tf 72 {720 - 14 * j} Td ({_words(rng, rng.randint(6, 12))}) Tj ET"
            for j in range(rng.randint(5, 25))
        ]
        data = "\n".join(lines).encode()
        filt = b""
        if compress:
            data, filt = zlib.compress(data), b" /Filter /FlateDecode"
        objs.append(
            b"<</Length " + str(len(data)).encode() + filt
            + b">>\nstream\n" + data + b"\nendstream"
        )
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    for n, body in enumerate(objs, 1):
        out.write(f"{n} 0 obj ".encode() + body + b" endobj\n")
    out.write(b"%%EOF\n")
    return out.getvalue()


_CT = (
    '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/'
    'package/2006/content-types"><Override PartName="{part}" ContentType='
    '"application/vnd.openxmlformats-officedocument.{kind}.main+xml"/></Types>'
)
_W = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_A = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_P = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'


def _zip(files: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in files.items():
            # fixed timestamps keep the archive bytes a function of the seed
            zf.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), text)
    return buf.getvalue()


def _docx(rng: random.Random) -> bytes:
    paras = [
        f'<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
        f"<w:r><w:t>{_words(rng, 3)}</w:t></w:r></w:p>"
    ]
    for _ in range(rng.randint(3, 12)):
        paras.append(f"<w:p><w:r><w:t>{_words(rng, rng.randint(8, 30))}</w:t></w:r></w:p>")
    xml = f'<?xml version="1.0"?><w:document {_W}><w:body>{"".join(paras)}</w:body></w:document>'
    return _zip({
        "[Content_Types].xml": _CT.format(
            part="/word/document.xml", kind="wordprocessingml.document"
        ),
        "word/document.xml": xml,
    })


def _pptx(rng: random.Random) -> bytes:
    files = {
        "[Content_Types].xml": _CT.format(
            part="/ppt/presentation.xml", kind="presentationml.presentation"
        ),
        "ppt/presentation.xml": "<p/>",
    }
    for i in range(1, rng.randint(2, 6) + 1):
        runs = "".join(
            f"<a:p><a:r><a:t>{_words(rng, rng.randint(3, 10))}</a:t></a:r></a:p>"
            for _ in range(rng.randint(1, 4))
        )
        files[f"ppt/slides/slide{i}.xml"] = (
            f'<?xml version="1.0"?><p:sld {_P} {_A}><p:cSld><p:spTree>'
            f"{runs}</p:spTree></p:cSld></p:sld>"
        )
    return _zip(files)


def _png(rng: random.Random, width: int, height: int) -> bytes:
    """An RGB PNG of seeded noise (incompressible, so bytes ~ 3*w*h)."""
    raw = b"".join(
        b"\x00" + rng.randbytes(3 * width) for _ in range(height)
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 1)) + chunk(b"IEND", b"")
    )


def build(kind: str, rng: random.Random) -> bytes:
    if kind == "md":
        return _md(rng)
    if kind == "csv":
        return _csv(rng)
    if kind == "csv_latin1":
        return _csv_latin1(rng)
    if kind == "html":
        return _html(rng)
    if kind == "asciidoc":
        return _asciidoc(rng)
    if kind in ("pdf_flate", "pdf_raw"):
        return _pdf(rng, compress=kind == "pdf_flate")
    if kind == "docx":
        return _docx(rng)
    if kind == "pptx":
        return _pptx(rng)
    if kind == "image":
        return _png(rng, rng.randint(16, 96), rng.randint(16, 96))
    if kind == "image_big":  # 2.0-2.5 MB
        side = rng.randint(820, 910)
        return _png(rng, side, side)
    if kind == "image_oversize":  # 5.1 MB, above the batch workload's file cap
        return _png(rng, 1300, 1300)
    if kind == "unsupported":
        return _words(rng, 50).encode()
    if kind == "corrupt_pdf":
        return b"%PDF-1.4\n1 0 obj <</Length 64 /Filter /FlateDecode>>\nstream\n" + rng.randbytes(64)
    if kind == "corrupt_docx":
        return _docx(rng)[: rng.randint(40, 200)]
    raise ValueError(f"unknown document kind {kind!r}")


def batch_corpus(seed: int, mix: dict[str, int] = BATCH_MIX) -> list[tuple[str, bytes]]:
    """The batch corpus: `mix[kind]` documents of each kind. Small kinds are
    shuffled so they interleave in path order; the multi-MB images sit at
    fixed, evenly spaced positions in the first part of the order, so every
    seed gives requests of the same size and shape."""
    rng = random.Random(seed)
    kinds = [k for k, n in mix.items() if k not in LARGE_KINDS for _ in range(n)]
    rng.shuffle(kinds)
    large = [k for k in LARGE_KINDS for _ in range(mix.get(k, 0))]
    n = len(kinds) + len(large)
    for i, k in enumerate(large):
        kinds.insert(n * (i + 1) // (len(large) + 2), k)
    return [
        (f"doc-{i:04d}.{EXTENSIONS[k]}", build(k, rng)) for i, k in enumerate(kinds)
    ]
