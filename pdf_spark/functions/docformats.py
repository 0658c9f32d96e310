"""Container/document-format queries: ZIP inventory + OOXML/EPUB/EML/RTF
text extraction — the non-PDF, non-HTML half of a crawl's document tier.

Same contract as every other functions module: deterministic fixtures
synthesized per ``doc_id`` INSIDE the ``map_records`` UDF (honest writers
— stdlib ``zipfile`` builds real containers; the readers under test in
``core/`` share no code with them), outputs reproducible by a DuckDB
oracle as pure ``doc_id`` arithmetic, zero per-row Python at the Spark
plan level (one Arrow batch in, one batch of rows out).

Reference parity note: the C reference (someone13574/pdf) reads bare
PDFs only — this module is net-new surface in the E19/E23 tradition
(HTML tier, WARC source).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_spark.functions.tables import load
from pdf_spark.operators.extract import map_records

QUERIES = {}
ORACLE = {}

# -- qm37: ZIP container inventory (core/zipread.py) --------------------------
#
# The audit that routes a container blob: member/dir counts, claimed
# inflation totals, encryption, and the zip-bomb flag — all at central-
# directory cost, no member inflated. fam = doc_id % 4: stored office-ish
# tree / deflated text pair / bomb claim (200k zeros, ratio >>50) /
# not-a-zip (PNG routes is_zip=0 + NULLs).

_ZIP_INV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_zip", IntegerType()),
        StructField("n_entries", LongType()),
        StructField("n_dirs", LongType()),
        StructField("total_uncomp", LongType()),
        StructField("n_deflated", LongType()),
        StructField("has_encrypted", IntegerType()),
        StructField("bomb_suspect", IntegerType()),
    ]
)


def _qm37_make_zip(doc_id: int) -> bytes:
    import io
    import zipfile

    from pdf_spark.core.imaging import encode_png

    i = int(doc_id)
    fam = i % 4
    if fam == 3:  # not a container at all
        return encode_png(2, 2, 1, bytes((i + k) % 256 for k in range(4)))
    buf = io.BytesIO()
    if fam == 0:  # stored office-ish tree with a directory entry
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
            z.writestr("a.txt", b"x" * (10 + i % 5))
            z.writestr("docs/", b"")
            z.writestr("docs/b.txt", b"y" * 20)
    elif fam == 1:  # two deflated text members
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("p1.txt", bytes(32 + (i + k) % 64 for k in range(40)))
            z.writestr("p2.txt", bytes(32 + (i * 3 + k) % 64 for k in range(60)))
    else:  # fam == 2: bomb CLAIM — 200k zeros deflate ~500:1
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("z.bin", b"\x00" * 200_000)
    return buf.getvalue()


def _qm37(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.zipread import zip_inventory

        yield {
            "doc_id": r["doc_id"],
            **zip_inventory(_qm37_make_zip(r["doc_id"])),
        }

    return map_records(docs, run, _ZIP_INV_SCHEMA)


QUERIES["qm37_zip_inventory"] = _qm37

# -- qx43: DOCX text extraction (core/docx.py over core/zipread.py) -----------
#
# The crawl's most common non-PDF document payload. fam = doc_id % 5
# exercises: plain paragraphs / entities+tab+split-runs / tracked
# changes (accepted view: w:ins flows, w:del dropped) / a table whose
# cell paragraphs flow in document order / not-a-docx (zip without the
# word part routes is_docx=0 + NULLs). Text is CERTIFIED byte-for-byte
# by the oracle reconstructing the same string with chr(9)/chr(10).

_DOCX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_docx", IntegerType()),
        StructField("text", StringType()),
        StructField("n_paragraphs", LongType()),
        StructField("n_tables", LongType()),
        StructField("title", StringType()),
    ]
)

_DOCX_NS = (
    'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
)


def _qx43_make_docx(doc_id: int) -> bytes:
    import io
    import zipfile

    i = int(doc_id)
    fam = i % 5
    buf = io.BytesIO()
    if fam == 4:  # a zip, but not a DOCX
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("a.txt", b"plain zip payload")
        return buf.getvalue()
    if fam == 0:
        body = (
            f"<w:p><w:r><w:t>Alpha {i} report</w:t></w:r></w:p>"
            f"<w:p><w:r><w:t>Body line {i % 7}</w:t></w:r></w:p>"
        )
    elif fam == 1:
        body = (
            '<w:p><w:r><w:t xml:space="preserve">A&amp;B&lt;C</w:t>'
            "<w:tab/><w:t>D</w:t></w:r></w:p>"
            f"<w:p><w:r><w:t>Hel</w:t></w:r><w:r><w:t>lo {i}</w:t></w:r></w:p>"
        )
    elif fam == 2:
        body = (
            f"<w:p><w:ins><w:r><w:t>kept {i}</w:t></w:r></w:ins>"
            "<w:del><w:r><w:delText>gone</w:delText></w:r></w:del></w:p>"
        )
    else:  # fam == 3: heading + 1 table with 2 cells
        body = (
            f"<w:p><w:r><w:t>Heading {i % 9}</w:t></w:r></w:p>"
            "<w:tbl><w:tblPr/><w:tr>"
            f"<w:tc><w:p><w:r><w:t>Cell A{i}</w:t></w:r></w:p></w:tc>"
            "<w:tc><w:p><w:r><w:t>Cell B</w:t></w:r></w:p></w:tc>"
            "</w:tr></w:tbl>"
        )
    doc = (
        f'<?xml version="1.0"?><w:document {_DOCX_NS}>'
        f"<w:body>{body}</w:body></w:document>"
    )
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types"/>',
        )
        z.writestr("word/document.xml", doc)
        z.writestr(
            "docProps/core.xml",
            '<?xml version="1.0"?><cp:coreProperties '
            'xmlns:cp="http://schemas.openxmlformats.org/package/2006/'
            'metadata/core-properties" '
            'xmlns:dc="http://purl.org/dc/elements/1.1/">'
            f"<dc:title>Doc &amp; {i}</dc:title></cp:coreProperties>",
        )
    return buf.getvalue()


def _qx43(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.docx import docx_text

        yield {
            "doc_id": r["doc_id"],
            **docx_text(_qx43_make_docx(r["doc_id"])),
        }

    return map_records(docs, run, _DOCX_SCHEMA)


QUERIES["qx43_docx_text"] = _qx43

# -- qx44: EPUB spine-ordered text extraction (core/epub.py) -------------------
#
# Books are the long-document tier of a training corpus and EPUB is the
# packaged form crawls serve. The extraction contract is READING ORDER
# BY SPINE, not zip order — fam 1 stores chapters forward but spines
# them reversed, so an extractor that walks the zip gets the bytes
# backwards and fails the certifying oracle. fam = doc_id % 4: plain
# 2-chapter / reversed spine / subdir href + dangling idref dropped /
# not-an-epub.

_EPUB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_epub", IntegerType()),
        StructField("title", StringType()),
        StructField("language", StringType()),
        StructField("n_chapters", LongType()),
        StructField("text", StringType()),
    ]
)


def _qx44_make_epub(doc_id: int) -> bytes:
    import io
    import zipfile

    i = int(doc_id)
    fam = i % 4
    buf = io.BytesIO()
    if fam == 3:
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("a.txt", b"zip, not an epub")
        return buf.getvalue()
    lang = ("en", "fr", "de")[i % 3]
    ch1 = f"<html><body><p>Opening line {i}</p></body></html>"
    ch2 = f"<html><body><p>Closing {i % 6}</p></body></html>"
    if fam == 2:
        items = (
            '<item id="c1" href="text/ch1.xhtml" media-type="application/xhtml+xml"/>'
            '<item id="gone" href="text/none.xhtml" media-type="application/xhtml+xml"/>'
        )
        spine = '<itemref idref="c1"/><itemref idref="gone"/>'
        chapters = [("OEBPS/text/ch1.xhtml", f"<html><body><p>Deep {i}</p></body></html>")]
    else:
        items = (
            '<item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>'
            '<item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/>'
        )
        order = ("c1", "c2") if fam == 0 else ("c2", "c1")
        spine = "".join(f'<itemref idref="{r}"/>' for r in order)
        chapters = [("OEBPS/ch1.xhtml", ch1), ("OEBPS/ch2.xhtml", ch2)]
    opf = (
        '<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/opf" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/" version="3.0">'
        f"<metadata><dc:title>Book {i}</dc:title>"
        f"<dc:language>{lang}</dc:language></metadata>"
        f"<manifest>{items}</manifest><spine>{spine}</spine></package>"
    )
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("mimetype", "application/epub+zip")
        z.writestr(
            "META-INF/container.xml",
            '<?xml version="1.0"?><container version="1.0" '
            'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles>'
            "</container>",
        )
        z.writestr("OEBPS/content.opf", opf)
        for name, html in chapters:
            z.writestr(name, html)
    return buf.getvalue()


def _qx44(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.epub import epub_text

        yield {
            "doc_id": r["doc_id"],
            **epub_text(_qx44_make_epub(r["doc_id"])),
        }

    return map_records(docs, run, _EPUB_SCHEMA)


QUERIES["qx44_epub_text"] = _qx44

# -- qx45: EML/MIME email text extraction (core/eml.py) ------------------------
#
# Mailing-list archives are a standing corpus tier. fam = doc_id % 5:
# plain CRLF / multipart-alternative preferring the quoted-printable
# text-plain leaf over the html one / base64 body + RFC 2047 B-encoded
# subject / html-only falling back to the stripped-HTML segmenter /
# not-an-email. Non-ASCII survives both transfer decodes (é = chr(233)
# in the oracle).

_EML_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_email", IntegerType()),
        StructField("subject", StringType()),
        StructField("from_domain", StringType()),
        StructField("n_parts", LongType()),
        StructField("body_kind", StringType()),
        StructField("body_text", StringType()),
    ]
)


def _qx45_make_eml(doc_id: int) -> bytes:
    import base64

    from pdf_spark.core.imaging import encode_png

    i = int(doc_id)
    fam = i % 5
    if fam == 4:
        return encode_png(2, 2, 1, bytes((i + k) % 256 for k in range(4)))
    if fam == 0:
        return (
            f"From: Ann <ann@news.example.org>\r\n"
            f"Subject: Weekly update {i}\r\n"
            f"Content-Type: text/plain; charset=utf-8\r\n"
            f"\r\n"
            f"Plain body {i}\r\nSecond {i % 4}\r\n"
        ).encode()
    if fam == 1:
        return (
            f"From: x@mail{i % 3}.example.com\n"
            f"Subject: Deal {i}\n"
            f'Content-Type: multipart/alternative; boundary="BB"\n'
            f"\n--BB\n"
            f"Content-Type: text/html\n\n<p>Html ver {i}</p>\n"
            f"--BB\n"
            f"Content-Type: text/plain\n"
            f"Content-Transfer-Encoding: quoted-printable\n\n"
            f"Caf=C3=A9 deal {i}\n"
            f"--BB--\n"
        ).encode()
    if fam == 2:
        subj = base64.b64encode(f"Re: offre {i % 7}".encode()).decode()
        body = base64.b64encode(f"Encoded note {i}".encode()).decode()
        return (
            f"From: bot@robo.example.net\n"
            f"Subject: =?utf-8?B?{subj}?=\n"
            f"Content-Type: text/plain; charset=utf-8\n"
            f"Content-Transfer-Encoding: base64\n\n{body}\n"
        ).encode()
    return (  # fam == 3
        f"From: h@mail{i % 3}.example.com\n"
        f"Subject: Newsletter {i}\n"
        f"Content-Type: text/html; charset=utf-8\n\n"
        f"<html><body><p>Html only {i}</p></body></html>\n"
    ).encode()


def _qx45(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.eml import eml_text

        yield {"doc_id": r["doc_id"], **eml_text(_qx45_make_eml(r["doc_id"]))}

    return map_records(docs, run, _EML_SCHEMA)


QUERIES["qx45_eml_text"] = _qx45

# -- qx46: RTF text extraction (core/rtf.py) -----------------------------------
#
# The legacy word-processor tier. fam = doc_id % 4: plain paragraphs /
# full escape set (\\'hh windows-1252, \\uN with uc1 fallback skip,
# \\tab) / destination groups (fonttbl, stylesheet, starred generator,
# info) skipped with nesting while visible text survives / not-RTF.

_RTF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_rtf", IntegerType()),
        StructField("text", StringType()),
        StructField("n_pars", LongType()),
    ]
)


def _qx46_make_rtf(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 4
    if fam == 3:
        return f"plain text payload {i}, no rtf magic".encode()
    if fam == 0:
        body = f"First line {i}.\\par Second {i % 5}."
    elif fam == 1:
        body = f"Caf\\'e9 n{i}\\tab X\\u8364?Y\\par"
    else:  # fam == 2
        body = (
            "{\\fonttbl{\\f0 Times;}{\\f1 Arial;}}"
            "{\\stylesheet{\\s1 H;}}"
            "{\\*\\generator Acme 9;}"
            "{\\info{\\title secret}}"
            f"Visible {i}\\par\\par"
        )
    return ("{\\rtf1\\ansi " + body + "}").encode()


def _qx46(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.rtf import rtf_text

        yield {"doc_id": r["doc_id"], **rtf_text(_qx46_make_rtf(r["doc_id"]))}

    return map_records(docs, run, _RTF_SCHEMA)


QUERIES["qx46_rtf_text"] = _qx46

# -- qm38: web-font metadata mining (core/sfnt.py::font_meta) ------------------
#
# Fonts are a crawled asset class of their own (license audit, family
# dedup, subsetting); the routing tier reads name/head/maxp only. The
# honest writers below build REAL sfnt containers (offset table +
# directory + padded tables; name strings in both Windows-Unicode
# UTF-16BE and Mac-Roman forms) and REAL WOFF1 wrappers (44-byte
# header, per-table zlib when it shrinks); the reader walks them
# independently. fam = doc_id % 4: raw TTF / OTTO (CFF flavor) /
# WOFF1-wrapped TTF / not-a-font.

_FONT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_font", IntegerType()),
        StructField("is_woff", IntegerType()),
        StructField("is_cff", IntegerType()),
        StructField("family", StringType()),
        StructField("subfamily", StringType()),
        StructField("n_glyphs", LongType()),
        StructField("units_per_em", LongType()),
    ]
)


def _build_name_table(records) -> bytes:
    import struct

    ents, strings = [], b""
    for plat, enc, lang, nid, text in records:
        raw = (
            text.encode("utf-16-be")
            if plat in (0, 3)
            else text.encode("latin-1")
        )
        ents.append((plat, enc, lang, nid, len(raw), len(strings)))
        strings += raw
    table = struct.pack(">HHH", 0, len(ents), 6 + 12 * len(ents))
    for e in ents:
        table += struct.pack(">6H", *e)
    return table + strings


def _font_tables(family: str, sub: str, n_glyphs: int, upem: int):
    import struct

    head = b"\x00" * 18 + struct.pack(">H", upem) + b"\x00" * 34
    maxp = struct.pack(">IH", 0x00010000, n_glyphs) + b"\x00" * 26
    name = _build_name_table(
        [(3, 1, 0x409, 1, family), (3, 1, 0x409, 2, sub), (1, 0, 0, 1, family)]
    )
    return [(b"head", head), (b"maxp", maxp), (b"name", name)]


def _build_sfnt(flavor: bytes, tables) -> bytes:
    import struct

    n = len(tables)
    dirs, body = b"", b""
    base = 12 + 16 * n
    for tag, t in tables:
        dirs += tag + struct.pack(">III", 0, base + len(body), len(t))
        body += t + b"\x00" * ((-len(t)) % 4)
    return flavor + struct.pack(">HHHH", n, 16, 4, 0) + dirs + body


def _build_woff(flavor: bytes, tables) -> bytes:
    import struct
    import zlib

    n = len(tables)
    ents, body = [], b""
    base = 44 + 20 * n
    for tag, t in tables:
        comp = zlib.compress(t, 6)
        use = comp if len(comp) < len(t) else t
        ents.append((tag, base + len(body), len(use), len(t)))
        body += use + b"\x00" * ((-len(use)) % 4)
    total = base + len(body)
    hdr = (
        b"wOFF"
        + flavor
        + struct.pack(">IHH", total, n, 0)
        + struct.pack(">IHH", total, 1, 0)
        + struct.pack(">IIIII", 0, 0, 0, 0, 0)
    )
    dirs = b"".join(
        tag + struct.pack(">IIII", off, clen, olen, 0)
        for tag, off, clen, olen in ents
    )
    return hdr + dirs + body


def _qm38_make_font(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_png

    i = int(doc_id)
    fam = i % 4
    if fam == 3:
        return encode_png(2, 2, 1, bytes((i + k) % 256 for k in range(4)))
    if fam == 0:
        tables = _font_tables(
            f"WebFont {i % 40}",
            "Italic" if i % 2 else "Regular",
            100 + i % 50,
            2048 if i % 2 else 1000,
        )
        return _build_sfnt(b"\x00\x01\x00\x00", tables)
    if fam == 1:
        tables = _font_tables(f"Serif {i % 9}", "Bold", 300 + i % 20, 1000)
        return _build_sfnt(b"OTTO", tables)
    tables = _font_tables(f"Packed {i % 7}", "Regular", 50 + i % 30, 2048)
    return _build_woff(b"\x00\x01\x00\x00", tables)


def _qm38(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.fontmeta import font_meta

        yield {
            "doc_id": r["doc_id"],
            **font_meta(_qm38_make_font(r["doc_id"])),
        }

    return map_records(docs, run, _FONT_SCHEMA)


QUERIES["qm38_font_meta"] = _qm38

# -- qx47: ODT (OpenDocument) text extraction (core/odt.py) --------------------
#
# The LibreOffice half of the word-processor tier: bare character data
# inside text:p/text:h scopes (vs DOCX's w:t runs), span transparency,
# run-length <text:s> whitespace, annotation (margin-comment) drop.
# fam = doc_id % 4: span paragraphs / tab+break+spaces / heading +
# annotation decoy / not-an-odt.

_ODT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_odt", IntegerType()),
        StructField("text", StringType()),
        StructField("n_paragraphs", LongType()),
        StructField("n_headings", LongType()),
        StructField("title", StringType()),
    ]
)

_ODT_PRE = (
    '<?xml version="1.0"?><office:document-content '
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
    "<office:body><office:text>"
)
_ODT_POST = "</office:text></office:body></office:document-content>"


def _qx47_make_odt(doc_id: int) -> bytes:
    import io
    import zipfile

    i = int(doc_id)
    fam = i % 4
    buf = io.BytesIO()
    if fam == 3:
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("other.xml", b"<x/>")
        return buf.getvalue()
    if fam == 0:
        body = (
            f"<text:p>Intro <text:span>{i}</text:span> end</text:p>"
            f"<text:p>Next {i % 6}</text:p>"
        )
    elif fam == 1:
        body = (
            f"<text:p>A{i}<text:tab/>B<text:line-break/>"
            f'C<text:s text:c="2"/>D</text:p>'
        )
    else:  # fam == 2
        body = (
            f'<text:h text:outline-level="1">Head {i % 9}</text:h>'
            f"<text:p>Body<office:annotation><text:p>margin note</text:p>"
            f"</office:annotation> {i}</text:p>"
        )
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("mimetype", "application/vnd.oasis.opendocument.text")
        z.writestr("content.xml", _ODT_PRE + body + _ODT_POST)
        z.writestr(
            "meta.xml",
            '<?xml version="1.0"?><office:document-meta '
            'xmlns:dc="http://purl.org/dc/elements/1.1/">'
            f"<office:meta><dc:title>ODoc {i}</dc:title></office:meta>"
            "</office:document-meta>",
        )
    return buf.getvalue()


def _qx47(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.odt import odt_text

        yield {"doc_id": r["doc_id"], **odt_text(_qx47_make_odt(r["doc_id"]))}

    return map_records(docs, run, _ODT_SCHEMA)


QUERIES["qx47_odt_text"] = _qx47

# -- qx48: Markdown source strip + structure (core/mdsrc.py) -------------------
#
# Raw .md payloads (READMEs, docs repos). The inverse of qx24/qx28:
# markup OFF, prose kept, structure counted — code fences EXCLUDED
# from prose (code is its own corpus tier). fam = doc_id % 4: ATX
# headings / fenced code with info string / links+images+emphasis /
# setext heading + list + blockquote.

_MD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("title", StringType()),
        StructField("n_headings", LongType()),
        StructField("n_code_blocks", LongType()),
        StructField("code_lang", StringType()),
        StructField("n_links", LongType()),
        StructField("n_images", LongType()),
        StructField("prose", StringType()),
    ]
)


def _qx48_make_md(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f"# Guide {i}\n\nIntro para {i}.\n\n## Usage\n\n"
            f"Call it {i % 5} times."
        )
    if fam == 1:
        return f"Setup {i}\n\n```python\nx = {i}\n```\n\nDone."
    if fam == 2:
        return (
            f"See [docs {i}](http://e.x/) and ![pic {i % 3}](p.png) "
            f"**bold** now."
        )
    return f"Head {i % 7}\n===\n\n- item {i}\n> quote {i % 4}"


def _qx48(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.mdsrc import md_structure

        yield {
            "doc_id": r["doc_id"],
            **md_structure(_qx48_make_md(r["doc_id"])),
        }

    return map_records(docs, run, _MD_SCHEMA)


QUERIES["qx48_markdown_source"] = _qx48

# -- qx49: LaTeX source extraction (core/latex.py) -----------------------------
#
# The arXiv tier: detex-grade prose + the structure counts academic-
# text quality classifiers use (section/math/citation density).
# fam = doc_id % 4: full document with preamble slice + title / math-
# heavy (inline + env + display all counted, none leaking into prose)
# / citation + bold unwrap / figure-drop + itemize content kept.

_TEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("title", StringType()),
        StructField("n_sections", LongType()),
        StructField("n_equations", LongType()),
        StructField("n_inline_math", LongType()),
        StructField("n_citations", LongType()),
        StructField("text", StringType()),
    ]
)


def _qx49_make_tex(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            "\\documentclass{article}\n\\usepackage{amsmath}\n"
            f"\\title{{Paper {i}}}\n"
            "\\begin{document}\n"
            f"Results {i} are shown. % trailing comment\n"
            f"\\section{{Intro}}\nWe present {i % 5} methods.\n"
            "\\end{document}\n"
        )
    if fam == 1:
        return (
            f"Alpha {i} holds $x$ always.\n"
            f"\\begin{{equation}}E={i}\\end{{equation}}\n"
            f"Beta {i % 3} ends. $$D={i}$$\n"
        )
    if fam == 2:
        return (
            f"Work \\cite{{ref{i}}} shows \\textbf{{gain {i % 7}}} here "
            f"per \\citep[p.~2]{{other}} too.\n"
        )
    return (
        "\\begin{figure}\\caption{secret}\\end{figure}\n"
        f"Start {i}.\n"
        f"\\begin{{itemize}}\\item Point {i % 4}\\end{{itemize}}\n"
    )


def _qx49(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.latex import latex_text

        yield {
            "doc_id": r["doc_id"],
            **latex_text(_qx49_make_tex(r["doc_id"])),
        }

    return map_records(docs, run, _TEX_SCHEMA)


QUERIES["qx49_latex_source"] = _qx49

# -- qm39: TAR archive inventory (core/tarread.py) -----------------------------
#
# Source dumps and data releases ship as .tar/.tar.gz; the routing
# audit mirrors qm37: member/dir counts + claimed sizes at header cost.
# fam = doc_id % 4: plain tar / tar.gz transport / single big member /
# not-a-tar.

_TAR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_tar", IntegerType()),
        StructField("is_gzipped", IntegerType()),
        StructField("n_files", LongType()),
        StructField("n_dirs", LongType()),
        StructField("total_size", LongType()),
    ]
)


def _qm39_make_tar(doc_id: int) -> bytes:
    import gzip
    import io
    import tarfile

    from pdf_spark.core.imaging import encode_png

    i = int(doc_id)
    fam = i % 4
    if fam == 3:
        return encode_png(2, 2, 1, bytes((i + k) % 256 for k in range(4)))

    def build(members, dirs=()):
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as t:
            for d in dirs:
                info = tarfile.TarInfo(d)
                info.type = tarfile.DIRTYPE
                t.addfile(info)
            for name, payload in members:
                info = tarfile.TarInfo(name)
                info.size = len(payload)
                t.addfile(info, io.BytesIO(payload))
        return buf.getvalue()

    if fam == 0:
        return build(
            [("a.txt", b"x" * (100 + i % 40)), ("d/b.bin", b"y" * 200)],
            dirs=["d"],
        )
    if fam == 1:
        return gzip.compress(build([("p.txt", b"z" * (50 + i % 9))]), 6)
    return build([("big.dat", b"\x07" * (5000 + i % 100))])


def _qm39(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.tarread import tar_inventory

        yield {
            "doc_id": r["doc_id"],
            **tar_inventory(_qm39_make_tar(r["doc_id"])),
        }

    return map_records(docs, run, _TAR_SCHEMA)


QUERIES["qm39_tar_inventory"] = _qm39

# -- qx50: CSV/TSV dialect sniff + RFC 4180 parse (core/csvsniff.py) ----------
#
# Tabular text payloads. The sniff is PARSE-based (column consistency
# through the quoted parser), so fam 2's quoted field carrying the
# delimiter, a newline, and an escaped quote must not fool it. Parse
# certified via md5 over the 0x1F/0x1E canonical cell matrix.
# fam = doc_id % 4: comma+header / TSV numeric no-header / semicolon
# quoted-field torture / prose (not tabular).

_CSV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_tabular", IntegerType()),
        StructField("delimiter", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_cols", LongType()),
        StructField("has_header", IntegerType()),
        StructField("cells_md5", StringType()),
    ]
)


def _qx50_make_csv(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f"name,score,city\nrow{i},{i % 10},town{i % 3}\nr2,{i % 7},t\n"
        ).encode()
    if fam == 1:
        return f"{i}\t{i % 5}\n{i + 1}\t9\n".encode()
    if fam == 2:
        return (f'a;b\n"x;y {i}";"said ""hi""\nrow"\n').encode()
    return f"just prose {i} here\nanother line\n".encode()


def _qx50(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.csvsniff import sniff_table

        yield {
            "doc_id": r["doc_id"],
            **sniff_table(_qx50_make_csv(r["doc_id"])),
        }

    return map_records(docs, run, _CSV_SCHEMA)


QUERIES["qx50_csv_sniff"] = _qx50

# -- qm40: favicon (ICO) directory audit (core/imaging.py::ico_meta) ----------
#
# Favicons are fetched once per HOST; the directory audit (largest
# frame, embedded-PNG detection, cursor-vs-icon) routes the thumbnail
# decode. fam = doc_id % 4: multi-entry with 0-means-256 + PNG frame /
# small BMP-frame icon / CUR cursor / not-an-ico.

_ICO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_ico", IntegerType()),
        StructField("is_cursor", IntegerType()),
        StructField("n_images", LongType()),
        StructField("max_width", LongType()),
        StructField("max_height", LongType()),
        StructField("has_png_frame", IntegerType()),
    ]
)


def _qm40_make_ico(doc_id: int) -> bytes:
    import struct

    i = int(doc_id)
    fam = i % 4
    if fam == 3:
        return f"GIF87a-not-really {i}".encode()

    def build(entries, kind=1):
        hdr = struct.pack("<HHH", 0, kind, len(entries))
        dirb, body = b"", b""
        base = 6 + 16 * len(entries)
        for w, h, payload in entries:
            dirb += struct.pack(
                "<BBBBHHII", w, h, 0, 0, 1, 32, len(payload), base + len(body)
            )
            body += payload
        return hdr + dirb + body

    if fam == 0:
        png = b"\x89PNG\r\n\x1a\n" + bytes((i + k) % 256 for k in range(8))
        return build([(16 + i % 16, 16, b"bmp" * 4), (0, 0, png)])
    if fam == 1:
        return build([(32, 16 + i % 32, bytes((i + k) % 256 for k in range(20)))])
    return build([(48, 48, b"cur" * 5)], kind=2)


def _qm40(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.imaging import ico_meta

        yield {"doc_id": r["doc_id"], **ico_meta(_qm40_make_ico(r["doc_id"]))}

    return map_records(docs, run, _ICO_SCHEMA)


QUERIES["qm40_favicon_meta"] = _qm40
ORACLE["qm40_favicon_meta"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_ico,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS is_cursor,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_images,
       CAST(CASE fam WHEN 0 THEN 256 WHEN 1 THEN 32
                     WHEN 2 THEN 48 END AS BIGINT) AS max_width,
       CAST(CASE fam WHEN 0 THEN 256 WHEN 1 THEN 16 + doc_id % 32
                     WHEN 2 THEN 48 END AS BIGINT) AS max_height,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER) AS has_png_frame
FROM v
"""

# -- qx51: HTTP response-header policy audit (sources/warc.py) -----------------
#
# The header-level crawl-policy gate: X-Robots-Tag noindex (the channel
# qx30's meta-tag gate cannot see), cache max-age, redirect target
# host, language/charset, gzip, HSTS. fam = doc_id % 5: 200 full
# headers / 301 redirect / noindex+gzip / bare 404 / not-HTTP.

_HTTP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_http", IntegerType()),
        StructField("status", LongType()),
        StructField("mime", StringType()),
        StructField("charset", StringType()),
        StructField("lang", StringType()),
        StructField("max_age", LongType()),
        StructField("noindex", IntegerType()),
        StructField("location_host", StringType()),
        StructField("gzipped", IntegerType()),
        StructField("hsts", IntegerType()),
    ]
)


def _qx51_make_http(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 5
    if fam == 4:
        return bytes((i + k) % 256 for k in range(16))
    if fam == 0:
        lang = ("en", "fr", "de")[i % 3]
        return (
            f"HTTP/1.1 200 OK\r\n"
            f"Content-Type: text/html; charset=UTF-8\r\n"
            f"Cache-Control: public, max-age={300 + i % 60}\r\n"
            f"Content-Language: {lang}, x-other\r\n"
            f"Strict-Transport-Security: max-age=63072000\r\n\r\nbody"
        ).encode()
    if fam == 1:
        return (
            f"HTTP/1.1 301 Moved Permanently\r\n"
            f"Location: https://CDN{i % 3}.Example.com/p/{i}\r\n\r\n"
        ).encode()
    if fam == 2:
        return (
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: application/json\r\n"
            "X-Robots-Tag: noindex, nofollow\r\n"
            "Content-Encoding: gzip\r\n\r\n{}"
        ).encode()
    return b"HTTP/1.1 404 Not Found\r\n\r\n"


def _qx51(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.sources.warc import http_header_audit

        yield {
            "doc_id": r["doc_id"],
            **http_header_audit(_qx51_make_http(r["doc_id"])),
        }

    return map_records(docs, run, _HTTP_SCHEMA)


QUERIES["qx51_http_header_audit"] = _qx51

# -- qx52: XLSX cell extraction (core/xlsx.py) ---------------------------------
#
# The tabular half of the office tier. fam = doc_id % 4: shared
# strings (incl. a rich-text <r>-run item whose text must CONCAT) +
# raw-text numbers / inlineStr + formula-cached value (formula body
# skipped) / empty grid with a 3-sheet inventory / not-an-xlsx.
# Cells certified via md5 over the 0x1F 'ref=value' stream.

_XLSX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_xlsx", IntegerType()),
        StructField("n_sheets", LongType()),
        StructField("sheet_name", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_cells", LongType()),
        StructField("cells_md5", StringType()),
    ]
)

_WB_XML = (
    '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.'
    'org/spreadsheetml/2006/main"><sheets>{sheets}</sheets></workbook>'
)


def _qx52_make_xlsx(doc_id: int) -> bytes:
    import io
    import zipfile

    i = int(doc_id)
    fam = i % 4
    buf = io.BytesIO()
    if fam == 3:
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("word/document.xml", b"<w:document/>")
        return buf.getvalue()
    shared = None
    if fam == 0:
        sheets = ("Data",)
        shared = (
            f'<sst count="2"><si><t>word{i % 20}</t></si>'
            f"<si><r><t>ri</t></r><r><t>ch{i % 5}</t></r></si></sst>"
        )
        grid = (
            "<worksheet><sheetData>"
            f'<row r="1"><c r="A1" t="s"><v>0</v></c>'
            f'<c r="B1"><v>{i}.25</v></c></row>'
            f'<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
            "</sheetData></worksheet>"
        )
    elif fam == 1:
        sheets = ("Calc", "Aux")
        grid = (
            "<worksheet><sheetData>"
            f'<row r="1"><c r="A1" t="inlineStr">'
            f"<is><t>in&amp;line{i}</t></is></c>"
            f'<c r="B1" t="str"><f>A1&amp;"x"</f><v>c{i % 7}</v></c>'
            "</row></sheetData></worksheet>"
        )
    else:  # fam == 2
        sheets = ("S0", "S1", "S2")
        grid = "<worksheet><sheetData/></worksheet>"
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "xl/workbook.xml",
            _WB_XML.format(
                sheets="".join(
                    f'<sheet name="{n}" sheetId="{k + 1}"/>'
                    for k, n in enumerate(sheets)
                )
            ),
        )
        if shared is not None:
            z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", grid)
    return buf.getvalue()


def _qx52(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.xlsx import xlsx_cells

        yield {
            "doc_id": r["doc_id"],
            **xlsx_cells(_qx52_make_xlsx(r["doc_id"])),
        }

    return map_records(docs, run, _XLSX_SCHEMA)


QUERIES["qx52_xlsx_cells"] = _qx52

# -- qx53: PPTX slide-text extraction (core/pptx.py) ---------------------------
#
# The deck third of the office trio. fam = doc_id % 4: 3 slides whose
# member numbers force NUMERIC ordering (1, 2, 10 — lexicographic
# would read 1, 10, 2) / split runs + line break + entity / single
# title slide / not-a-pptx.

_PPTX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_pptx", IntegerType()),
        StructField("n_slides", LongType()),
        StructField("n_paragraphs", LongType()),
        StructField("text", StringType()),
    ]
)

_A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'


def _qx53_slide(*paras: str) -> str:
    body = "".join(
        f"<a:p><a:r><a:t>{t}</a:t></a:r></a:p>" for t in paras
    )
    return (
        f'<?xml version="1.0"?><p:sld {_A_NS}>'
        f"<p:txBody>{body}</p:txBody></p:sld>"
    )


def _qx53_make_pptx(doc_id: int) -> bytes:
    import io
    import zipfile

    i = int(doc_id)
    fam = i % 4
    buf = io.BytesIO()
    if fam == 3:
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("xl/workbook.xml", b"<wb/>")
        return buf.getvalue()
    if fam == 0:
        slides = [
            (1, _qx53_slide(f"Opening {i}")),
            (2, _qx53_slide(f"Middle {i % 6}")),
            (10, _qx53_slide("Closing")),
        ]
    elif fam == 1:
        xml = (
            f'<?xml version="1.0"?><p:sld {_A_NS}><p:txBody>'
            f"<a:p><a:r><a:t>Hel</a:t></a:r>"
            f"<a:r><a:t>lo &amp; {i}</a:t></a:r>"
            f"<a:br/><a:r><a:t>next {i % 5}</a:t></a:r></a:p>"
            "</p:txBody></p:sld>"
        )
        slides = [(1, xml)]
    else:  # fam == 2
        slides = [(1, _qx53_slide(f"Title {i % 9}", f"Subtitle {i}"))]
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("ppt/presentation.xml", "<p:presentation/>")
        for num, xml in slides:
            z.writestr(f"ppt/slides/slide{num}.xml", xml)
    return buf.getvalue()


def _qx53(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.pptx import pptx_text

        yield {
            "doc_id": r["doc_id"],
            **pptx_text(_qx53_make_pptx(r["doc_id"])),
        }

    return map_records(docs, run, _PPTX_SCHEMA)


QUERIES["qx53_pptx_text"] = _qx53

# -- qx54: iCalendar event extraction (core/ical.py) ---------------------------
#
# Public calendars (.ics). fam = doc_id % 4: timed event with exact
# minute duration / folded+escaped SUMMARY / all-day + RRULE + a
# second timed event (first_summary falls through to the first event
# that HAS one) / not-ical.

_ICAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_ical", IntegerType()),
        StructField("n_events", LongType()),
        StructField("first_summary", StringType()),
        StructField("total_minutes", LongType()),
        StructField("has_rrule", IntegerType()),
    ]
)


def _qx54_make_ical(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 4
    if fam == 3:
        return f"PLAIN TEXT {i}, no calendar".encode()
    if fam == 0:
        mm = i % 30
        body = (
            f"BEGIN:VEVENT\r\nSUMMARY:Sync {i}\r\n"
            f"DTSTART:20260820T090000Z\r\n"
            f"DTEND:20260820T10{mm:02d}00Z\r\nEND:VEVENT\r\n"
        )
    elif fam == 1:
        body = (
            f"BEGIN:VEVENT\r\nSUMMARY:Plan\\, part \r\n two {i}\r\n"
            f"END:VEVENT\r\n"
        )
    else:  # fam == 2
        body = (
            "BEGIN:VEVENT\r\n"
            "DTSTART;VALUE=DATE:20260820\r\n"
            "DTEND;VALUE=DATE:20260822\r\n"
            "RRULE:FREQ=WEEKLY\r\nEND:VEVENT\r\n"
            f"BEGIN:VEVENT\r\nSUMMARY:Second {i % 5}\r\n"
            "DTSTART:20260823T000000Z\r\n"
            "DTEND:20260823T003000Z\r\nEND:VEVENT\r\n"
        )
    return (
        "BEGIN:VCALENDAR\r\nVERSION:2.0\r\n" + body + "END:VCALENDAR\r\n"
    ).encode()


def _qx54(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.ical import ical_events

        yield {
            "doc_id": r["doc_id"],
            **ical_events(_qx54_make_ical(r["doc_id"])),
        }

    return map_records(docs, run, _ICAL_SCHEMA)


QUERIES["qx54_ical_events"] = _qx54

# -- qx55: JSON payload audit (bounded shape profile) --------------------------
#
# API responses and data files are raw JSON payloads; the routing
# audit is the SHAPE, not the values: top-level type, nesting depth
# (scalar=0, container=1+max child), recursive key/array/null counts,
# parse validity. fam = doc_id % 4: flat object / nested object with
# array / top-level array of objects / invalid JSON.

_JSON_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_json", IntegerType()),
        StructField("top_type", StringType()),
        StructField("max_depth", LongType()),
        StructField("n_keys", LongType()),
        StructField("n_arrays", LongType()),
        StructField("n_nulls", LongType()),
    ]
)


def _qx55_make_json(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return f'{{"a": {i}, "b": "t{i % 4}", "c": null}}'
    if fam == 1:
        return (
            f'{{"user": {{"id": {i}, "tags": ["x", "y{i % 3}"]}}, '
            f'"ok": true}}'
        )
    if fam == 2:
        items = ", ".join(f'{{"k": {j}}}' for j in range(i % 3 + 2))
        return f"[{items}]"
    return f'{{"broken": {i}'  # unterminated


def _qx55_profile(raw: str) -> dict:
    import json

    try:
        doc = json.loads(raw)
    except (ValueError, RecursionError):
        return {
            "is_json": 0,
            "top_type": None,
            "max_depth": None,
            "n_keys": None,
            "n_arrays": None,
            "n_nulls": None,
        }
    stats = {"keys": 0, "arrays": 0, "nulls": 0}

    def depth(node) -> int:
        if isinstance(node, dict):
            stats["keys"] += len(node)
            return 1 + max((depth(v) for v in node.values()), default=0)
        if isinstance(node, list):
            stats["arrays"] += 1
            return 1 + max((depth(v) for v in node), default=0)
        if node is None:
            stats["nulls"] += 1
        return 0

    d = depth(doc)
    top = (
        "object"
        if isinstance(doc, dict)
        else "array" if isinstance(doc, list) else "scalar"
    )
    return {
        "is_json": 1,
        "top_type": top,
        "max_depth": d,
        "n_keys": stats["keys"],
        "n_arrays": stats["arrays"],
        "n_nulls": stats["nulls"],
    }


def _qx55(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        yield {
            "doc_id": r["doc_id"],
            **_qx55_profile(_qx55_make_json(r["doc_id"])),
        }

    return map_records(docs, run, _JSON_SCHEMA)


QUERIES["qx55_json_audit"] = _qx55
ORACLE["qx55_json_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_json,
       CASE fam WHEN 0 THEN 'object' WHEN 1 THEN 'object'
                WHEN 2 THEN 'array' END AS top_type,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 3
                     WHEN 2 THEN 2 END AS BIGINT) AS max_depth,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 4
                     WHEN 2 THEN doc_id % 3 + 2 END AS BIGINT) AS n_keys,
       CAST(CASE fam WHEN 0 THEN 0 WHEN 1 THEN 1
                     WHEN 2 THEN 1 END AS BIGINT) AS n_arrays,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 0
                     WHEN 2 THEN 0 END AS BIGINT) AS n_nulls
FROM v
"""

# -- qt70: mixed-script homoglyph spoof detection (core/scripts.py) -----------
#
# Per-token script co-occurrence — the phishing/tokenizer-poison signal
# document-level langid can't see. fam = doc_id % 3: clean Latin /
# one Latin token with an embedded Cyrillic а (U+0430) + a pure-
# Cyrillic word / clean with Greek word (single-script, NOT mixed).

_SCRIPT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("n_latin", LongType()),
        StructField("n_cyrillic", LongType()),
        StructField("n_mixed", LongType()),
        StructField("has_spoof", IntegerType()),
    ]
)


def _qt70_make_text(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 3
    if fam == 0:
        return f"pay page {i} now"
    if fam == 1:
        return f"login pаypal{i % 7} привет ok"
    return f"alpha βετα gamma {i}"


def _qt70(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.scripts import script_mix

        yield {
            "doc_id": r["doc_id"],
            **script_mix(_qt70_make_text(r["doc_id"])),
        }

    return map_records(docs, run, _SCRIPT_SCHEMA)


QUERIES["qt70_script_spoof"] = _qt70

# -- qm41: PNG chunk-integrity audit (core/imaging.py::png_integrity) ---------
#
# Crawls serve truncated and bit-rotted images; decoding them wastes
# the fleet's decode budget. CRC walk only, no pixels. fam =
# doc_id % 4: valid / last-chunk CRC corrupted (chunk still counted,
# IEND still recognized) / cut mid-stream after IHDR (truncated,
# 1 whole chunk) / not-a-png.

_PNGI_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_png", IntegerType()),
        StructField("n_chunks", LongType()),
        StructField("n_bad_crc", LongType()),
        StructField("has_iend", IntegerType()),
        StructField("truncated", IntegerType()),
    ]
)


def _qm41_make_png(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_png

    i = int(doc_id)
    fam = i % 4
    if fam == 3:
        return b"RIFFnot-a-png" + bytes((i + k) % 256 for k in range(8))
    ok = encode_png(2, 2, 1, bytes((i + k) % 256 for k in range(4)))
    if fam == 0:
        return ok
    if fam == 1:
        bad = bytearray(ok)
        bad[-1] ^= 0xFF  # IEND CRC byte
        return bytes(bad)
    return ok[:40]  # IHDR whole (ends at 33), cut before the next header


def _qm41(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.imaging import png_integrity

        yield {
            "doc_id": r["doc_id"],
            **png_integrity(_qm41_make_png(r["doc_id"])),
        }

    return map_records(docs, run, _PNGI_SCHEMA)


QUERIES["qm41_png_integrity"] = _qm41

# -- qx56: email reply/signature stripping (core/eml.py::strip_reply) ---------
#
# Mailing-list archives quote the whole thread under every reply — a
# corpus keeping quotes trains on the same paragraph once per thread
# position. fam = doc_id % 4: full thread (attribution + quotes +
# signature) / 'wrote:'-line followed by PROSE (kept — the rule needs
# a quote to confirm) / nested quotes + signature only / plain body.

_REPLY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("clean_text", StringType()),
        StructField("n_quoted_lines", LongType()),
        StructField("has_signature", IntegerType()),
        StructField("has_attribution", IntegerType()),
    ]
)


def _qx56_make_body(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f"Thanks {i}!\n\nOn Tue, Ann wrote:\n> old one {i % 5}\n"
            f"> old two\n\nMy reply {i}.\n-- \nBob {i % 3}\n"
        )
    if fam == 1:
        return f"He wrote:\nProse {i} here\nmore {i % 4}"
    if fam == 2:
        return f"Re {i}\n>> deep\n> shallow {i % 6}\n-- \nsig"
    return f"Simple {i} body"


def _qx56(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.eml import strip_reply

        yield {
            "doc_id": r["doc_id"],
            **strip_reply(_qx56_make_body(r["doc_id"])),
        }

    return map_records(docs, run, _REPLY_SCHEMA)


QUERIES["qx56_reply_strip"] = _qx56

# -- qx57: MediaWiki wikitext strip (core/wikitext.py) -------------------------
#
# Encyclopedia dumps are a foundational corpus and ship as wikitext.
# fam = doc_id % 4: infobox (nested template) + heading + ref + list /
# piped+bare internal links + external link / File-with-nested-caption
# + table / plain prose.

_WIKI_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("n_sections", LongType()),
        StructField("n_templates", LongType()),
        StructField("n_internal_links", LongType()),
        StructField("n_external_links", LongType()),
        StructField("n_refs", LongType()),
    ]
)


def _qx57_make_wiki(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f"{{{{Infobox|a={{{{n|x}}}}}}}}\n== History {i % 9} ==\n"
            f"The '''topic {i}''' began.<ref>S</ref>\n* point {i % 4}\n"
        )
    if fam == 1:
        return (
            f"See [[Alan {i % 7}|A{i % 7}]] and [[Page {i}]] plus "
            f"[https://e.x/{i} ext]."
        )
    if fam == 2:
        return (
            f"[[File:X{i}.jpg|thumb|A [[cap]]]]Start {i}."
            f"{{| class=t\n|c\n|}}End."
        )
    return f"Plain {i} words here."


def _qx57(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.wikitext import wikitext_strip

        yield {
            "doc_id": r["doc_id"],
            **wikitext_strip(_qx57_make_wiki(r["doc_id"])),
        }

    return map_records(docs, run, _WIKI_SCHEMA)


QUERIES["qx57_wikitext_strip"] = _qx57

# -- qx58: document-format router (the tier capstone, qm23's twin) -------------
#
# One cheap dispatch that routes EVERY document payload to its
# extractor at header/directory cost: ZIP containers are told apart by
# their MEMBER SET (word/ -> docx, xl/ -> xlsx, ppt/slides -> pptx,
# META-INF/container.xml -> epub, ODF mimetype/content.xml -> odt,
# else generic zip), non-zip by magic/framing (%PDF, {\rtf,
# BEGIN:VCALENDAR, HTTP/, RFC-5322 header block, <html|<!doctype,
# else text). The fixture cycles doc_id % 10 through the REAL fixture
# writers of qx43/qx44/qx47/qx52/qx53 — the router must agree with
# the extractors it routes to.


def route_document(blob: bytes) -> str:
    from pdf_spark.core.eml import _split_message
    from pdf_spark.core.zipread import zip_entries, zip_find

    entries = zip_entries(blob)
    if entries:
        names = {e["name"] for e in entries}
        if "word/document.xml" in names:
            return "docx"
        if "xl/workbook.xml" in names:
            return "xlsx"
        if any(n.startswith("ppt/slides/slide") for n in names):
            return "pptx"
        if "META-INF/container.xml" in names:
            return "epub"
        if "content.xml" in names:
            mt = zip_find(blob, "mimetype") or b""
            if b"opendocument" in mt or "meta.xml" in names:
                return "odt"
        return "zip"
    if blob.startswith(b"%PDF-"):
        return "pdf"
    if blob.startswith(b"{\\rtf"):
        return "rtf"
    head = blob[:2048]
    if head.lstrip()[:15].upper().startswith(b"BEGIN:VCALENDAR"):
        return "ical"
    if head[:5] in (b"HTTP/", b"http/"):
        return "http"
    low = head.lstrip().lower()
    if low.startswith((b"<html", b"<!doctype html")):
        return "html"
    if _split_message(blob) is not None:
        return "eml"
    return "text"


_ROUTE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
    ]
)

_QX58_KINDS = (
    "docx", "xlsx", "pptx", "epub", "odt",
    "pdf", "rtf", "ical", "html", "eml",
)


def _qx58_make_blob(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 10
    if fam == 0:
        return _qx43_make_docx(5 * i)  # fam-0 docx (5i % 5 == 0)
    if fam == 1:
        return _qx52_make_xlsx(4 * i)  # fam-0 xlsx
    if fam == 2:
        return _qx53_make_pptx(4 * i)  # fam-0 pptx
    if fam == 3:
        return _qx44_make_epub(4 * i)  # fam-0 epub
    if fam == 4:
        return _qx47_make_odt(4 * i)  # fam-0 odt
    if fam == 5:
        return b"%PDF-1.7\n1 0 obj\n<<>>\nendobj\n%%EOF\n"
    if fam == 6:
        return _qx46_make_rtf(4 * i)  # fam-0 rtf
    if fam == 7:
        return _qx54_make_ical(4 * i)  # fam-0 ical
    if fam == 8:
        return f"<html><body><p>Page {i}</p></body></html>".encode()
    return _qx45_make_eml(5 * i)  # fam-0 eml


def _qx58(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        yield {
            "doc_id": r["doc_id"],
            "kind": route_document(_qx58_make_blob(r["doc_id"])),
        }

    return map_records(docs, run, _ROUTE_SCHEMA)


QUERIES["qx58_doc_router"] = _qx58

# -- qx59: HTML table grid normalization (core/tablegrid.py) -------------------
#
# qx09 mines raw cell text; DATA needs the HTML5 grid model — span
# cells occupy rectangles and later cells shift past occupied slots.
# fam = doc_id % 4: plain 2x2 / colspan header / rowspan shifting the
# second row's cell into column 1 / no table. Grid certified by md5
# over the 0x1F/0x1E dense-matrix stream.

_GRID_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_table", IntegerType()),
        StructField("n_rows", LongType()),
        StructField("n_cols", LongType()),
        StructField("n_spanned", LongType()),
        StructField("grid_md5", StringType()),
    ]
)


def _qx59_make_html(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f"<table><tr><td>a{i}</td><td>b</td></tr>"
            f"<tr><td>c</td><td>d{i % 5}</td></tr></table>"
        )
    if fam == 1:
        return (
            f'<table><tr><th colspan="2">H{i % 7}</th></tr>'
            f"<tr><td>x{i}</td><td>y</td></tr></table>"
        )
    if fam == 2:
        return (
            f'<table><tr><td rowspan="2">L{i}</td><td>r1{i % 3}</td></tr>'
            f"<tr><td>r2</td></tr></table>"
        )
    return f"<p>No tables {i} here</p>"


def _qx59(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.tablegrid import table_grid

        yield {
            "doc_id": r["doc_id"],
            **table_grid(_qx59_make_html(r["doc_id"])),
        }

    return map_records(docs, run, _GRID_SCHEMA)


QUERIES["qx59_table_grid"] = _qx59

# -- qm42: JPEG structural integrity audit (core/imaging.py) -------------------
#
# qm41's reject-before-decode gate for the web's other dominant image
# format: marker-segment walk with byte-stuffing-aware scan skip.
# fam = doc_id % 4: valid baseline (5 segments + EOI) / EXIF-spliced
# (6 segments, has_exif) / cut right before SOS (4 segments,
# truncated, no EOI) / not-a-jpeg.

_JPEGI_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_jpeg", IntegerType()),
        StructField("n_segments", LongType()),
        StructField("has_eoi", IntegerType()),
        StructField("truncated", IntegerType()),
        StructField("has_exif", IntegerType()),
        StructField("has_icc", IntegerType()),
    ]
)


def _qm42_make_jpeg(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import (
        encode_exif_app1,
        encode_jpeg,
        splice_exif,
    )

    i = int(doc_id)
    fam = i % 4
    if fam == 3:
        return b"\x89PNG\r\n\x1a\n" + bytes((i + k) % 256 for k in range(8))
    dc = (i * 13) % 192 + 32
    full = encode_jpeg(32, 16, [(dc, 0) for _ in range(8)])
    if fam == 0:
        return full
    if fam == 1:
        return splice_exif(
            full,
            encode_exif_app1(
                orientation=1 + i % 8, make="Cam", pix_x=32, pix_y=16
            ),
        )
    return full[: full.find(b"\xff\xda")]


def _qm42(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.imaging import jpeg_integrity

        yield {
            "doc_id": r["doc_id"],
            **jpeg_integrity(_qm42_make_jpeg(r["doc_id"])),
        }

    return map_records(docs, run, _JPEGI_SCHEMA)


QUERIES["qm42_jpeg_integrity"] = _qm42

# -- qx60: soft-redirect / doorway audit (core/htmlaudit.py) -------------------
#
# Pages whose only content is an instant hop are crawler chaff and
# cloaking vehicles. fam = doc_id % 5: meta refresh with target host
# (doorway iff delay 0) / JS location redirect / decoys (refresh
# string in body text + commented-out script) / instant refresh
# without url / plain page.

_REDIR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_meta_refresh", IntegerType()),
        StructField("refresh_delay", LongType()),
        StructField("refresh_target_host", StringType()),
        StructField("has_js_redirect", IntegerType()),
        StructField("is_doorway", IntegerType()),
    ]
)


def _qx60_make_html(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 5
    if fam == 0:
        return (
            f'<html><meta http-equiv="Refresh" content="{i % 10};'
            f'url=https://CDN{i % 3}.Example.com/p/{i}">'
            f"<body>moved {i}</body></html>"
        ).encode()
    if fam == 1:
        return (
            f"<html><script>window.location.href = '/new/{i}';"
            f"</script></html>"
        ).encode()
    if fam == 2:
        return (
            f"<html><p>refresh content=0;url=x {i}</p>"
            f"<script><!-- location.href='/decoy'; --></script></html>"
        ).encode()
    if fam == 3:
        return (
            f'<html><meta http-equiv="refresh" content="0">'
            f"<body>gone {i}</body></html>"
        ).encode()
    return f"<html><p>plain page {i}</p></html>".encode()


def _qx60(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import soft_redirects

        yield {
            "doc_id": r["doc_id"],
            **soft_redirects(_qx60_make_html(r["doc_id"])),
        }

    return map_records(docs, run, _REDIR_SCHEMA)


QUERIES["qx60_soft_redirects"] = _qx60

# -- qm43: dominant-color histogram over real decoded pixels -------------------
#
# 64-bucket RGB quantization over the REAL PNG decode path: the
# routing signal image dedup/thumbnailing uses before any model —
# near-monochrome assets separate from photos on n_buckets alone.
# fam = doc_id % 3: two-color RGB with 250/750 proportions flipping by
# parity / constant grayscale (single bucket 21*(v>>6), 1000 permille)
# / not-an-image.

_COLOR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_image", IntegerType()),
        StructField("dominant_bucket", LongType()),
        StructField("dominant_permille", LongType()),
        StructField("n_buckets", LongType()),
    ]
)


def _qm43_make_png(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_png

    i = int(doc_id)
    fam = i % 3
    if fam == 2:
        return b"not an image " + bytes((i + k) % 256 for k in range(8))
    if fam == 0:
        q = 8 if i % 2 == 0 else 24  # red pixels; rest blue — never a tie
        px = bytearray()
        for p in range(32):
            px += bytes((200, 10, 10) if p < q else (10, 10, 200))
        return encode_png(8, 4, 3, px)
    v = i % 256
    return encode_png(6, 6, 1, bytearray([v]) * 36)


def _qm43(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.imaging import color_histogram

        yield {
            "doc_id": r["doc_id"],
            **color_histogram(_qm43_make_png(r["doc_id"])),
        }

    return map_records(docs, run, _COLOR_SCHEMA)


QUERIES["qm43_color_histogram"] = _qm43
ORACLE["qm43_color_histogram"] = """
WITH v AS (SELECT doc_id, doc_id % 3 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS is_image,
       CAST(CASE WHEN fam = 2 THEN NULL
                 WHEN fam = 0 THEN
                      CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 48 END
                 ELSE 21 * ((doc_id % 256) // 64)
            END AS BIGINT) AS dominant_bucket,
       CAST(CASE WHEN fam = 2 THEN NULL
                 WHEN fam = 0 THEN 750 ELSE 1000
            END AS BIGINT) AS dominant_permille,
       CAST(CASE WHEN fam = 2 THEN NULL
                 WHEN fam = 0 THEN 2 ELSE 1
            END AS BIGINT) AS n_buckets
FROM v
"""
ORACLE["qx60_soft_redirects"] = """
WITH v AS (SELECT doc_id, doc_id % 5 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam IN (0, 3) THEN 1 ELSE 0 END AS INTEGER)
           AS has_meta_refresh,
       CAST(CASE WHEN fam = 0 THEN doc_id % 10
                 WHEN fam = 3 THEN 0 END AS BIGINT) AS refresh_delay,
       CASE WHEN fam = 0
            THEN 'cdn' || (doc_id % 3) || '.example.com' END
           AS refresh_target_host,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER)
           AS has_js_redirect,
       CAST(CASE WHEN fam = 1 OR fam = 3 THEN 1
                 WHEN fam = 0 AND doc_id % 10 = 0 THEN 1
                 ELSE 0 END AS INTEGER) AS is_doorway
FROM v
"""
ORACLE["qm42_jpeg_integrity"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_jpeg,
       CAST(CASE fam WHEN 0 THEN 5 WHEN 1 THEN 6
                     WHEN 2 THEN 4 END AS BIGINT) AS n_segments,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS has_eoi,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS truncated,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER) AS has_exif,
       CAST(CASE WHEN fam = 3 THEN NULL ELSE 0 END AS INTEGER) AS has_icc
FROM v
"""
ORACLE["qx59_table_grid"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS has_table,
       CAST(CASE WHEN fam = 3 THEN NULL ELSE 2 END AS BIGINT) AS n_rows,
       CAST(CASE WHEN fam = 3 THEN NULL ELSE 2 END AS BIGINT) AS n_cols,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_spanned,
       CASE fam
            WHEN 0 THEN md5('a' || doc_id || chr(31) || 'b' || chr(30)
                 || 'c' || chr(31) || 'd' || (doc_id % 5))
            WHEN 1 THEN md5('H' || (doc_id % 7) || chr(31)
                 || 'H' || (doc_id % 7) || chr(30)
                 || 'x' || doc_id || chr(31) || 'y')
            WHEN 2 THEN md5('L' || doc_id || chr(31)
                 || 'r1' || (doc_id % 3) || chr(30)
                 || 'L' || doc_id || chr(31) || 'r2')
       END AS grid_md5
FROM v
"""
ORACLE["qx58_doc_router"] = """
SELECT doc_id,
       CASE doc_id % 10
            WHEN 0 THEN 'docx' WHEN 1 THEN 'xlsx' WHEN 2 THEN 'pptx'
            WHEN 3 THEN 'epub' WHEN 4 THEN 'odt' WHEN 5 THEN 'pdf'
            WHEN 6 THEN 'rtf' WHEN 7 THEN 'ical' WHEN 8 THEN 'html'
            ELSE 'eml' END AS kind
FROM documents
"""
ORACLE["qx57_wikitext_strip"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CASE fam
            WHEN 0 THEN 'History ' || (doc_id % 9) || chr(10)
                        || 'The topic ' || doc_id || ' began.' || chr(10)
                        || 'point ' || (doc_id % 4)
            WHEN 1 THEN 'See A' || (doc_id % 7) || ' and Page ' || doc_id
                        || ' plus ext.'
            WHEN 2 THEN 'Start ' || doc_id || '.End.'
            WHEN 3 THEN 'Plain ' || doc_id || ' words here.'
       END AS text,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_sections,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_templates,
       CAST(CASE WHEN fam = 1 THEN 2 ELSE 0 END AS BIGINT)
           AS n_internal_links,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS BIGINT)
           AS n_external_links,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_refs
FROM v
"""
ORACLE["qx56_reply_strip"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CASE fam
            WHEN 0 THEN 'Thanks ' || doc_id || '!' || chr(10) || chr(10)
                        || 'My reply ' || doc_id || '.'
            WHEN 1 THEN 'He wrote:' || chr(10) || 'Prose ' || doc_id
                        || ' here' || chr(10) || 'more ' || (doc_id % 4)
            WHEN 2 THEN 'Re ' || doc_id
            WHEN 3 THEN 'Simple ' || doc_id || ' body'
       END AS clean_text,
       CAST(CASE WHEN fam IN (0, 2) THEN 2 ELSE 0 END AS BIGINT)
           AS n_quoted_lines,
       CAST(CASE WHEN fam IN (0, 2) THEN 1 ELSE 0 END AS INTEGER)
           AS has_signature,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS has_attribution
FROM v
"""
ORACLE["qm41_png_integrity"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_png,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 3 END AS BIGINT) AS n_chunks,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_bad_crc,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS has_iend,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS truncated
FROM v
"""
ORACLE["qt70_script_spoof"] = """
WITH v AS (SELECT doc_id, doc_id % 3 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 4
                     WHEN 2 THEN 3 END AS BIGINT) AS n_tokens,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 2
                     WHEN 2 THEN 2 END AS BIGINT) AS n_latin,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_cyrillic,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_mixed,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER) AS has_spoof
FROM v
"""
ORACLE["qx54_ical_events"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_ical,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 2 ELSE 1 END AS BIGINT) AS n_events,
       CASE fam
            WHEN 0 THEN 'Sync ' || doc_id
            WHEN 1 THEN 'Plan, part two ' || doc_id
            WHEN 2 THEN 'Second ' || (doc_id % 5)
       END AS first_summary,
       CAST(CASE fam WHEN 0 THEN 60 + doc_id % 30
                     WHEN 1 THEN 0
                     WHEN 2 THEN 2910 END AS BIGINT) AS total_minutes,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS has_rrule
FROM v
"""
ORACLE["qx53_pptx_text"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_pptx,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_slides,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 2 WHEN fam = 0 THEN 3
                 ELSE 1 END AS BIGINT) AS n_paragraphs,
       CASE fam
            WHEN 0 THEN 'Opening ' || doc_id || chr(10) || chr(10)
                        || 'Middle ' || (doc_id % 6) || chr(10) || chr(10)
                        || 'Closing'
            WHEN 1 THEN 'Hello & ' || doc_id || chr(10)
                        || 'next ' || (doc_id % 5)
            WHEN 2 THEN 'Title ' || (doc_id % 9) || chr(10)
                        || 'Subtitle ' || doc_id
       END AS text
FROM v
"""
ORACLE["qx52_xlsx_cells"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_xlsx,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 2
                     WHEN 2 THEN 3 END AS BIGINT) AS n_sheets,
       CASE fam WHEN 0 THEN 'Data' WHEN 1 THEN 'Calc'
                WHEN 2 THEN 'S0' END AS sheet_name,
       CAST(CASE fam WHEN 0 THEN 2 WHEN 1 THEN 1
                     WHEN 2 THEN 0 END AS BIGINT) AS n_rows,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 2
                     WHEN 2 THEN 0 END AS BIGINT) AS n_cells,
       CASE fam
            WHEN 0 THEN md5('A1=word' || (doc_id % 20) || chr(31)
                 || 'B1=' || doc_id || '.25' || chr(31)
                 || 'A2=rich' || (doc_id % 5))
            WHEN 1 THEN md5('A1=in&line' || doc_id || chr(31)
                 || 'B1=c' || (doc_id % 7))
            WHEN 2 THEN md5('')
       END AS cells_md5
FROM v
"""
ORACLE["qx51_http_header_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 5 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 4 THEN 0 ELSE 1 END AS INTEGER) AS is_http,
       CAST(CASE fam WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 200
                     WHEN 3 THEN 404 END AS BIGINT) AS status,
       CASE fam WHEN 0 THEN 'text/html'
                WHEN 2 THEN 'application/json' END AS mime,
       CASE WHEN fam = 0 THEN 'utf-8' END AS charset,
       CASE WHEN fam = 0 THEN CASE doc_id % 3 WHEN 0 THEN 'en'
                 WHEN 1 THEN 'fr' ELSE 'de' END END AS lang,
       CAST(CASE WHEN fam = 0 THEN 300 + doc_id % 60 END AS BIGINT)
           AS max_age,
       CAST(CASE WHEN fam = 4 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS noindex,
       CASE WHEN fam = 1
            THEN 'cdn' || (doc_id % 3) || '.example.com' END
           AS location_host,
       CAST(CASE WHEN fam = 4 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS gzipped,
       CAST(CASE WHEN fam = 4 THEN NULL
                 WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER) AS hsts
FROM v
"""
ORACLE["qx50_csv_sniff"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_tabular,
       CASE fam WHEN 0 THEN ',' WHEN 1 THEN chr(9)
                WHEN 2 THEN ';' END AS delimiter,
       CAST(CASE WHEN fam = 3 THEN NULL ELSE 2 END AS BIGINT) AS n_rows,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 2
                     WHEN 2 THEN 2 END AS BIGINT) AS n_cols,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER) AS has_header,
       CASE fam
            WHEN 0 THEN md5('name' || chr(31) || 'score' || chr(31)
                 || 'city' || chr(30) || 'row' || doc_id || chr(31)
                 || (doc_id % 10) || chr(31) || 'town' || (doc_id % 3)
                 || chr(30) || 'r2' || chr(31) || (doc_id % 7)
                 || chr(31) || 't')
            WHEN 1 THEN md5(doc_id || chr(31) || (doc_id % 5) || chr(30)
                 || (doc_id + 1) || chr(31) || '9')
            WHEN 2 THEN md5('a' || chr(31) || 'b' || chr(30)
                 || 'x;y ' || doc_id || chr(31) || 'said "hi"'
                 || chr(10) || 'row')
       END AS cells_md5
FROM v
"""
ORACLE["qm39_tar_inventory"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_tar,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_gzipped,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_files,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_dirs,
       CAST(CASE fam WHEN 0 THEN 300 + doc_id % 40
                     WHEN 1 THEN 50 + doc_id % 9
                     WHEN 2 THEN 5000 + doc_id % 100
            END AS BIGINT) AS total_size
FROM v
"""
ORACLE["qx49_latex_source"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CASE WHEN fam = 0 THEN 'Paper ' || doc_id END AS title,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_sections,
       CAST(CASE WHEN fam = 1 THEN 2 ELSE 0 END AS BIGINT) AS n_equations,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_inline_math,
       CAST(CASE WHEN fam = 2 THEN 2 ELSE 0 END AS BIGINT) AS n_citations,
       CASE fam
            WHEN 0 THEN 'Results ' || doc_id || ' are shown.' || chr(10)
                        || 'Intro' || chr(10) || 'We present '
                        || (doc_id % 5) || ' methods.'
            WHEN 1 THEN 'Alpha ' || doc_id || ' holds always.' || chr(10)
                        || 'Beta ' || (doc_id % 3) || ' ends.'
            WHEN 2 THEN 'Work shows gain ' || (doc_id % 7)
                        || ' here per too.'
            WHEN 3 THEN 'Start ' || doc_id || '.' || chr(10)
                        || 'Point ' || (doc_id % 4)
       END AS text
FROM v
"""
ORACLE["qx48_markdown_source"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CASE fam
            WHEN 0 THEN 'Guide ' || doc_id
            WHEN 3 THEN 'Head ' || (doc_id % 7)
       END AS title,
       CAST(CASE fam WHEN 0 THEN 2 WHEN 3 THEN 1
                     ELSE 0 END AS BIGINT) AS n_headings,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_code_blocks,
       CASE WHEN fam = 1 THEN 'python' END AS code_lang,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_links,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_images,
       CASE fam
            WHEN 0 THEN 'Guide ' || doc_id || chr(10) || 'Intro para '
                        || doc_id || '.' || chr(10) || 'Usage' || chr(10)
                        || 'Call it ' || (doc_id % 5) || ' times.'
            WHEN 1 THEN 'Setup ' || doc_id || chr(10) || 'Done.'
            WHEN 2 THEN 'See docs ' || doc_id || ' and pic '
                        || (doc_id % 3) || ' bold now.'
            WHEN 3 THEN 'Head ' || (doc_id % 7) || chr(10) || 'item '
                        || doc_id || chr(10) || 'quote ' || (doc_id % 4)
       END AS prose
FROM v
"""
ORACLE["qx47_odt_text"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_odt,
       CASE fam
            WHEN 0 THEN 'Intro ' || doc_id || ' end' || chr(10)
                        || 'Next ' || (doc_id % 6)
            WHEN 1 THEN 'A' || doc_id || chr(9) || 'B' || chr(10)
                        || 'C  D'
            WHEN 2 THEN 'Head ' || (doc_id % 9) || chr(10)
                        || 'Body ' || doc_id
       END AS text,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 1 THEN 1 ELSE 2 END AS BIGINT) AS n_paragraphs,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_headings,
       CASE WHEN fam = 3 THEN NULL ELSE 'ODoc ' || doc_id END AS title
FROM v
"""
ORACLE["qm38_font_meta"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_font,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS is_woff,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_cff,
       CASE fam
            WHEN 0 THEN 'WebFont ' || (doc_id % 40)
            WHEN 1 THEN 'Serif ' || (doc_id % 9)
            WHEN 2 THEN 'Packed ' || (doc_id % 7)
       END AS family,
       CASE fam
            WHEN 0 THEN CASE WHEN doc_id % 2 = 1 THEN 'Italic'
                             ELSE 'Regular' END
            WHEN 1 THEN 'Bold'
            WHEN 2 THEN 'Regular'
       END AS subfamily,
       CAST(CASE fam WHEN 0 THEN 100 + doc_id % 50
                     WHEN 1 THEN 300 + doc_id % 20
                     WHEN 2 THEN 50 + doc_id % 30 END AS BIGINT) AS n_glyphs,
       CAST(CASE fam WHEN 0 THEN CASE WHEN doc_id % 2 = 1 THEN 2048
                                      ELSE 1000 END
                     WHEN 1 THEN 1000
                     WHEN 2 THEN 2048 END AS BIGINT) AS units_per_em
FROM v
"""
ORACLE["qx46_rtf_text"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_rtf,
       CASE fam
            WHEN 0 THEN 'First line ' || doc_id || '.' || chr(10)
                        || 'Second ' || (doc_id % 5) || '.'
            WHEN 1 THEN 'Caf' || chr(233) || ' n' || doc_id || chr(9)
                        || 'X' || chr(8364) || 'Y'
            WHEN 2 THEN 'Visible ' || doc_id
       END AS text,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 2 ELSE 1 END AS BIGINT) AS n_pars
FROM v
"""
ORACLE["qx45_eml_text"] = """
WITH v AS (SELECT doc_id, doc_id % 5 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 4 THEN 0 ELSE 1 END AS INTEGER) AS is_email,
       CASE fam
            WHEN 0 THEN 'Weekly update ' || doc_id
            WHEN 1 THEN 'Deal ' || doc_id
            WHEN 2 THEN 'Re: offre ' || (doc_id % 7)
            WHEN 3 THEN 'Newsletter ' || doc_id
       END AS subject,
       CASE fam
            WHEN 0 THEN 'news.example.org'
            WHEN 1 THEN 'mail' || (doc_id % 3) || '.example.com'
            WHEN 2 THEN 'robo.example.net'
            WHEN 3 THEN 'mail' || (doc_id % 3) || '.example.com'
       END AS from_domain,
       CAST(CASE WHEN fam = 4 THEN NULL
                 WHEN fam = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_parts,
       CASE WHEN fam = 4 THEN NULL
            WHEN fam = 3 THEN 'html' ELSE 'plain' END AS body_kind,
       CASE fam
            WHEN 0 THEN 'Plain body ' || doc_id || chr(10)
                        || 'Second ' || (doc_id % 4)
            WHEN 1 THEN 'Caf' || chr(233) || ' deal ' || doc_id
            WHEN 2 THEN 'Encoded note ' || doc_id
            WHEN 3 THEN 'Html only ' || doc_id
       END AS body_text
FROM v
"""
ORACLE["qx44_epub_text"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_epub,
       CASE WHEN fam = 3 THEN NULL ELSE 'Book ' || doc_id END AS title,
       CASE WHEN fam = 3 THEN NULL
            ELSE CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                 ELSE 'de' END END AS language,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 2 END AS BIGINT) AS n_chapters,
       CASE fam
            WHEN 0 THEN 'Opening line ' || doc_id || chr(10) || chr(10)
                        || 'Closing ' || (doc_id % 6)
            WHEN 1 THEN 'Closing ' || (doc_id % 6) || chr(10) || chr(10)
                        || 'Opening line ' || doc_id
            WHEN 2 THEN 'Deep ' || doc_id
       END AS text
FROM v
"""
ORACLE["qx43_docx_text"] = """
WITH v AS (SELECT doc_id, doc_id % 5 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 4 THEN 0 ELSE 1 END AS INTEGER) AS is_docx,
       CASE fam
            WHEN 0 THEN 'Alpha ' || doc_id || ' report' || chr(10)
                        || 'Body line ' || (doc_id % 7)
            WHEN 1 THEN 'A&B<C' || chr(9) || 'D' || chr(10)
                        || 'Hello ' || doc_id
            WHEN 2 THEN 'kept ' || doc_id
            WHEN 3 THEN 'Heading ' || (doc_id % 9) || chr(10)
                        || 'Cell A' || doc_id || chr(10) || 'Cell B'
       END AS text,
       CAST(CASE WHEN fam = 4 THEN NULL
                 WHEN fam = 2 THEN 1
                 WHEN fam = 3 THEN 3 ELSE 2 END AS BIGINT) AS n_paragraphs,
       CAST(CASE WHEN fam = 4 THEN NULL
                 WHEN fam = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_tables,
       CASE WHEN fam = 4 THEN NULL
            ELSE 'Doc & ' || doc_id END AS title
FROM v
"""
ORACLE["qm37_zip_inventory"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_zip,
       CAST(CASE WHEN fam = 0 THEN 3 WHEN fam = 1 THEN 2
                 WHEN fam = 2 THEN 1 END AS BIGINT) AS n_entries,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_dirs,
       CAST(CASE WHEN fam = 0 THEN 30 + doc_id % 5
                 WHEN fam = 1 THEN 100
                 WHEN fam = 2 THEN 200000 END AS BIGINT) AS total_uncomp,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 0 THEN 0
                 WHEN fam = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_deflated,
       CAST(CASE WHEN fam = 3 THEN NULL
                 ELSE 0 END AS INTEGER) AS has_encrypted,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS bomb_suspect
FROM v
"""


# -- qx61: character-encoding detection (core/htmlaudit.py) --------------------
#
# The decode step every extractor runs before parsing: WHATWG sniff
# order (BOM > first-1024-byte declaration prescan > strict-UTF-8
# heuristic with windows-1252 fallback). fam = doc_id % 6:
# BOM+contradicting meta / clean declared UTF-8 / XML decl latin-1
# with 8-bit bytes (spec alias to 1252, NOT a mismatch) / bare ASCII /
# undeclared 8-bit / mislabeled utf-8 (declared but invalid bytes).

_CHARSET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bom", StringType()),
        StructField("declared", StringType()),
        StructField("utf8_valid", IntegerType()),
        StructField("resolved", StringType()),
        StructField("mismatch", IntegerType()),
    ]
)


def _qx61_make_page(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 6
    if fam == 0:
        return (
            b'\xef\xbb\xbf<html><meta charset="shift_jis">'
            + f"<body>bom beats meta {i}</body></html>".encode()
        )
    if fam == 1:
        return (
            f'<html><meta charset="UTF-8"><p>café {i}</p></html>'
        ).encode("utf-8")
    if fam == 2:
        return (
            b'<?xml version="1.0" encoding="ISO-8859-1"?>'
            + f"<p>r\xe9sum\xe9 {i}</p>".encode("latin-1")
        )
    if fam == 3:
        return f"<html><p>plain ascii {i}</p></html>".encode()
    if fam == 4:
        return f"<html><p>copyright \xa9 {i}</p></html>".encode("latin-1")
    return (
        b'<html><meta charset="utf-8">'
        + f"<p>mislabeled caf\xe9 {i}</p></html>".encode("latin-1")
    )


def _qx61(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import charset_detect

        yield {
            "doc_id": r["doc_id"],
            **charset_detect(_qx61_make_page(r["doc_id"])),
        }

    return map_records(docs, run, _CHARSET_SCHEMA)


QUERIES["qx61_charset_detect"] = _qx61
ORACLE["qx61_charset_detect"] = """
WITH v AS (SELECT doc_id, doc_id % 6 AS fam FROM documents)
SELECT doc_id,
       CASE WHEN fam = 0 THEN 'utf-8' END AS bom,
       CASE WHEN fam = 0 THEN 'shift_jis'
            WHEN fam = 1 THEN 'utf-8'
            WHEN fam = 2 THEN 'iso-8859-1'
            WHEN fam = 5 THEN 'utf-8' END AS declared,
       CAST(CASE WHEN fam IN (0, 1, 3) THEN 1 ELSE 0 END AS INTEGER)
           AS utf8_valid,
       CASE WHEN fam IN (0, 1, 3, 5) THEN 'utf-8'
            ELSE 'windows-1252' END AS resolved,
       CAST(CASE WHEN fam IN (0, 5) THEN 1 ELSE 0 END AS INTEGER)
           AS mismatch
FROM v
"""


# -- qx62: hreflang multilingual-alternate audit (core/htmlaudit.py) -----------
#
# The <link rel=alternate hreflang> cluster declarations that group the
# language versions of one page — the seed for bitext mining (qt75)
# and language-balanced dedup. fam = doc_id % 4: full cluster
# (en/fr/de + x-default, lang=en) / lang-only page (fr-CA) / script
# decoy + one real es alternate / bare page.

_HREFLANG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_lang", StringType()),
        StructField("n_alternates", IntegerType()),
        StructField("n_langs", IntegerType()),
        StructField("has_xdefault", IntegerType()),
        StructField("is_multilingual", IntegerType()),
    ]
)


def _qx62_make_page(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f'<html lang="EN"><head>'
            f'<link rel="alternate" hreflang="en" href="/en/{i}">'
            f'<link rel="Alternate" hreflang="fr" href="/fr/{i}">'
            f'<link rel="alternate" hreflang="de" href="/de/{i}">'
            f'<link rel="alternate" hreflang="x-default" href="/{i}">'
            f"</head><body>page {i}</body></html>"
        ).encode()
    if fam == 1:
        return f'<html lang="fr-CA"><p>seulement {i}</p></html>'.encode()
    if fam == 2:
        return (
            f"<html><script>var s='<link rel=\"alternate\" "
            f"hreflang=\"zz\">';</script>"
            f'<link rel="alternate" hreflang="es" href="/es/{i}">'
            f"</html>"
        ).encode()
    return f"<p>bare page {i}</p>".encode()


def _qx62(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import hreflang_audit

        yield {
            "doc_id": r["doc_id"],
            **hreflang_audit(_qx62_make_page(r["doc_id"])),
        }

    return map_records(docs, run, _HREFLANG_SCHEMA)


QUERIES["qx62_hreflang_audit"] = _qx62
ORACLE["qx62_hreflang_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CASE WHEN fam = 0 THEN 'en' WHEN fam = 1 THEN 'fr-ca' END
           AS page_lang,
       CAST(CASE WHEN fam = 0 THEN 4 WHEN fam = 2 THEN 1
                 ELSE 0 END AS INTEGER) AS n_alternates,
       CAST(CASE WHEN fam = 0 THEN 3 WHEN fam = 2 THEN 1
                 ELSE 0 END AS INTEGER) AS n_langs,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS has_xdefault,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS is_multilingual
FROM v
"""


# -- qt76: rule-based sentence segmentation (core/sentseg.py) ------------------
#
# Abbreviation-guarded boundary rule (the Punkt fallback core): . ! ?
# + whitespace + sentence-opener, with abbreviation / single-initial
# guards; decimals never become candidates. fam = doc_id % 4:
# abbrev guard + decimal / two initials / vs. guard / no-split
# lowercase tail.

_SENTSEG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_sentences", IntegerType()),
        StructField("n_guards", IntegerType()),
        StructField("max_chars", LongType()),
        StructField("first_sentence", StringType()),
    ]
)


def _qt76_make_text(doc_id: int) -> str:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return f"Dr. Alpha met {i}. The value was 3.5 today! Done."
    if fam == 1:
        return f"J. K. Rowling wrote {i} books. Every fan cheered."
    if fam == 2:
        return f"We won {i} games vs. Them today. Rematch at 5 o'clock?"
    return f"word soup {i} with no caps after dots. all lowercase rest"


def _qt76(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.sentseg import sentence_split

        m = sentence_split(_qt76_make_text(r["doc_id"]))
        first = m["sentences"][0] if m["sentences"] else None
        yield {"doc_id": r["doc_id"], **m, "first_sentence": first}

    return map_records(docs, run, _SENTSEG_SCHEMA)


QUERIES["qt76_sentence_split"] = _qt76
_QT76_ORACLE = """
WITH v AS (
  SELECT doc_id, doc_id % 4 AS fam,
         LENGTH({STR}) AS d, {STR} AS s
  FROM documents)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 2
                     WHEN 2 THEN 2 ELSE 1 END AS INTEGER) AS n_sentences,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 2
                     WHEN 2 THEN 1 ELSE 0 END AS INTEGER) AS n_guards,
       CAST(CASE fam
            WHEN 0 THEN GREATEST(15 + d, 24)
            WHEN 1 THEN GREATEST(27 + d, 18)
            WHEN 2 THEN GREATEST(29 + d, 21)
            ELSE 54 + d END AS BIGINT) AS max_chars,
       CASE fam
            WHEN 0 THEN 'Dr. Alpha met ' || s || '.'
            WHEN 1 THEN 'J. K. Rowling wrote ' || s || ' books.'
            WHEN 2 THEN 'We won ' || s || ' games vs. Them today.'
            ELSE 'word soup ' || s || ' with no caps after dots. '
                 || 'all lowercase rest' END AS first_sentence
FROM v
"""
ORACLE["qt76_sentence_split"] = _QT76_ORACLE.replace(
    "{STR}", "CAST(doc_id AS VARCHAR)"
)


# -- qm44: WebAssembly module structural audit (core/wasm.py) ------------------
#
# Crawled pages ship .wasm assets; the ingest gate walks section
# framing (magic/version, id + LEB128 size per section) without
# decoding any body. fam = doc_id % 4: full module (type/func/
# code/export + N custom sections, N = doc_id%3+1, exercising
# multi-byte LEB sizes via a 200-byte custom payload) / headerless
# empty module / truncated mid-section / not wasm.

_WASM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_wasm", IntegerType()),
        StructField("version", LongType()),
        StructField("n_sections", IntegerType()),
        StructField("has_code", IntegerType()),
        StructField("has_export", IntegerType()),
        StructField("n_custom", IntegerType()),
        StructField("truncated", IntegerType()),
    ]
)


def _qm44_make_wasm(doc_id: int) -> bytes:
    from pdf_spark.core.wasm import encode_wasm

    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        customs = [
            (0, bytes([4]) + b"name" + b"x" * 200) for _ in range(i % 3 + 1)
        ]
        return encode_wasm(
            [(1, b"\x01\x60\x00\x00"), (3, b"\x01\x00")]
            + customs
            + [(10, b"\x01\x02\x00\x0b"), (7, b"\x00")]
        )
    if fam == 1:
        return encode_wasm([])
    if fam == 2:
        good = encode_wasm([(1, b"\x01\x60\x00\x00"), (10, b"\x01\x02\x00\x0b")])
        return good[:-2]  # cut inside the code section payload
    return b"GIF89a not a module " + bytes((i + k) % 256 for k in range(4))


def _qm44(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.wasm import wasm_audit

        yield {
            "doc_id": r["doc_id"],
            **wasm_audit(_qm44_make_wasm(r["doc_id"])),
        }

    return map_records(docs, run, _WASM_SCHEMA)


QUERIES["qm44_wasm_audit"] = _qm44
ORACLE["qm44_wasm_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_wasm,
       CAST(CASE WHEN fam = 3 THEN NULL ELSE 1 END AS BIGINT) AS version,
       CAST(CASE WHEN fam = 0 THEN 4 + (doc_id % 3 + 1)
                 WHEN fam = 1 THEN 0
                 WHEN fam = 2 THEN 1 END AS INTEGER) AS n_sections,
       CAST(CASE WHEN fam = 0 THEN 1 WHEN fam = 3 THEN NULL
                 ELSE 0 END AS INTEGER) AS has_code,
       CAST(CASE WHEN fam = 0 THEN 1 WHEN fam = 3 THEN NULL
                 ELSE 0 END AS INTEGER) AS has_export,
       CAST(CASE WHEN fam = 0 THEN doc_id % 3 + 1 WHEN fam = 3 THEN NULL
                 ELSE 0 END AS INTEGER) AS n_custom,
       CAST(CASE WHEN fam = 2 THEN 1 WHEN fam = 3 THEN NULL
                 ELSE 0 END AS INTEGER) AS truncated
FROM v
"""


# -- qm45: Ogg container structural audit (core/oggread.py) --------------------
#
# RFC 3533 page walk without decoding a packet: page framing, BOS
# stream bookkeeping, codec magic from the first BOS payload, EOS and
# truncation flags. fam = doc_id % 4: vorbis 3-page stream (middle
# page >255 B exercising multi-byte lacing) / opus+theora multiplexed
# (2 BOS streams) / truncated mid-payload / not ogg.

_OGG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_ogg", IntegerType()),
        StructField("n_pages", IntegerType()),
        StructField("n_streams", IntegerType()),
        StructField("has_eos", IntegerType()),
        StructField("codec", StringType()),
        StructField("truncated", IntegerType()),
    ]
)


def _qm45_make_ogg(doc_id: int) -> bytes:
    from pdf_spark.core.oggread import encode_ogg_page

    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            encode_ogg_page(i + 1, 0, b"\x01vorbis" + b"h" * 20, bos=True)
            + encode_ogg_page(i + 1, 1, bytes([i % 256]) * 300)
            + encode_ogg_page(i + 1, 2, b"tail", eos=True)
        )
    if fam == 1:
        return (
            encode_ogg_page(1, 0, b"OpusHead" + b"\x01", bos=True)
            + encode_ogg_page(2, 0, b"\x80theora", bos=True)
            + encode_ogg_page(1, 1, b"", eos=True)
            + encode_ogg_page(2, 1, b"", eos=True)
        )
    if fam == 2:
        good = encode_ogg_page(9, 0, b"\x01vorbis" + b"x" * 40, bos=True)
        return good + encode_ogg_page(9, 1, b"y" * 64)[:-10]
    return b"RIFF" + bytes((i + k) % 256 for k in range(30))


def _qm45(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.oggread import ogg_audit

        yield {"doc_id": r["doc_id"], **ogg_audit(_qm45_make_ogg(r["doc_id"]))}

    return map_records(docs, run, _OGG_SCHEMA)


QUERIES["qm45_ogg_audit"] = _qm45
ORACLE["qm45_ogg_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_ogg,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 4
                     WHEN 2 THEN 1 END AS INTEGER) AS n_pages,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 2
                     WHEN 2 THEN 1 END AS INTEGER) AS n_streams,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam IN (0, 1) THEN 1 ELSE 0 END AS INTEGER)
           AS has_eos,
       CASE WHEN fam IN (0, 2) THEN 'vorbis'
            WHEN fam = 1 THEN 'opus' END AS codec,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS truncated
FROM v
"""


# -- qx63: HTTP chunked transfer-encoding decode (core/httpwire.py) ------------
#
# WARC response bodies carry the raw wire framing; skipping the
# dechunk step leaves "3b0\r\n" garbage inside extracted text and
# breaks every downstream hash. fam = doc_id % 4: multi-chunk +
# trailer / single chunk / truncated mid-chunk / not chunked.

_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ok", IntegerType()),
        StructField("n_chunks", IntegerType()),
        StructField("body_len", LongType()),
        StructField("has_trailer", IntegerType()),
        StructField("malformed", IntegerType()),
        StructField("body_md5", StringType()),
    ]
)


def _qx63_make_wire(doc_id: int) -> bytes:
    from pdf_spark.core.httpwire import encode_chunked

    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return encode_chunked(
            [b"hello ", b"world", b"x" * (i % 200 + 100)],
            trailer=b"X-Digest: abc",
        )
    if fam == 1:
        return encode_chunked([b"y" * (i % 50 + 1)])
    if fam == 2:
        return encode_chunked([b"a" * 10, b"b" * 20])[:25]
    return b"plain body, no framing here"


def _qx63(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        import hashlib

        from pdf_spark.core.httpwire import dechunk

        m = dechunk(_qx63_make_wire(r["doc_id"]))
        md5 = hashlib.md5(m["body"]).hexdigest()
        yield {"doc_id": r["doc_id"], **m, "body_md5": md5}

    return map_records(docs, run, _CHUNK_SCHEMA)


QUERIES["qx63_dechunk"] = _qx63
ORACLE["qx63_dechunk"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam IN (0, 1) THEN 1 ELSE 0 END AS INTEGER) AS ok,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 1
                     WHEN 2 THEN 1 ELSE 0 END AS INTEGER) AS n_chunks,
       CAST(CASE fam WHEN 0 THEN 11 + doc_id % 200 + 100
                     WHEN 1 THEN doc_id % 50 + 1
                     WHEN 2 THEN 16 ELSE 0 END AS BIGINT) AS body_len,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS has_trailer,
       CAST(CASE WHEN fam IN (2, 3) THEN 1 ELSE 0 END AS INTEGER)
           AS malformed,
       md5(CASE fam
           WHEN 0 THEN 'hello world' || repeat('x', CAST(doc_id % 200 + 100 AS INTEGER))
           WHEN 1 THEN repeat('y', CAST(doc_id % 50 + 1 AS INTEGER))
           WHEN 2 THEN repeat('a', 10) || repeat('b', 6)
           ELSE '' END) AS body_md5
FROM v
"""


# -- qm46: WOFF/WOFF2 web-font container audit (core/woff.py) ------------------
#
# The web delivery wrapper around qm38's sfnt: header sanity, flavor
# routing, table bookkeeping, declared-length check, extended-metadata
# presence — no table inflated. fam = doc_id % 4: WOFF1 truetype
# 2-table (metadata on even ids) / WOFF1 cff / WOFF2 header (flavor
# alternating, n_tables = id%5+1) / raw sfnt (not woff).

_WOFF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_woff", IntegerType()),
        StructField("woff_version", IntegerType()),
        StructField("flavor", StringType()),
        StructField("n_tables", IntegerType()),
        StructField("has_metadata", IntegerType()),
        StructField("length_ok", IntegerType()),
        StructField("truncated", IntegerType()),
    ]
)


def _qm46_make_font(doc_id: int) -> bytes:
    import struct as _struct

    from pdf_spark.core.woff import encode_woff

    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        meta = b"<metadata/>" if i % 2 == 0 else b""
        return encode_woff(
            [(b"cmap", b"\x00" * 12), (b"glyf", bytes([i % 256]) * 30)],
            meta=meta,
        )
    if fam == 1:
        return encode_woff([(b"CFF ", b"\x02" * 8)], flavor=0x4F54544F)
    if fam == 2:
        flavor = 0x4F54544F if i % 2 else 0x00010000
        return (
            b"wOF2"
            + _struct.pack(">IIH", flavor, 48, i % 5 + 1)
            + b"\x00" * 34
        )
    return b"\x00\x01\x00\x00" + bytes((i + k) % 256 for k in range(20))


def _qm46(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.woff import woff_audit

        yield {
            "doc_id": r["doc_id"],
            **woff_audit(_qm46_make_font(r["doc_id"])),
        }

    return map_records(docs, run, _WOFF_SCHEMA)


QUERIES["qm46_woff_audit"] = _qm46
ORACLE["qm46_woff_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_woff,
       CAST(CASE WHEN fam IN (0, 1) THEN 1 WHEN fam = 2 THEN 2
            END AS INTEGER) AS woff_version,
       CASE WHEN fam = 0 THEN 'truetype'
            WHEN fam = 1 THEN 'cff'
            WHEN fam = 2 THEN
                 CASE WHEN doc_id % 2 = 1 THEN 'cff' ELSE 'truetype' END
       END AS flavor,
       CAST(CASE WHEN fam = 0 THEN 2 WHEN fam = 1 THEN 1
                 WHEN fam = 2 THEN doc_id % 5 + 1 END AS INTEGER)
           AS n_tables,
       CAST(CASE WHEN fam = 0 THEN
                      CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
                 WHEN fam = 1 THEN 0 END AS INTEGER) AS has_metadata,
       CAST(CASE WHEN fam = 3 THEN NULL ELSE 1 END AS INTEGER)
           AS length_ok,
       CAST(CASE WHEN fam = 3 THEN NULL ELSE 0 END AS INTEGER)
           AS truncated
FROM v
"""


# -- qx64: SPA application-shell detection (core/htmlaudit.py) -----------------
#
# The empty-SPA routing problem: client-rendered pages fetch as an
# empty root div + scripts; naive extraction yields nothing and the
# URL belongs in a rendering tier. fam = doc_id % 4: React-style
# shell with noscript banner / SSR article (root div HAS text) /
# static page, no scripts / app-div spinner shell.

_SPA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text_chars", LongType()),
        StructField("script_bytes", LongType()),
        StructField("n_scripts", IntegerType()),
        StructField("has_empty_root", IntegerType()),
        StructField("has_noscript", IntegerType()),
        StructField("script_permille", LongType()),
        StructField("is_spa_shell", IntegerType()),
    ]
)


def _qx64_make_page(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            '<html><body><div id="root"></div><script>'
            + "x" * (100 + i % 100)
            + f"</script><noscript>Enable JS {i}</noscript></body></html>"
        ).encode()
    if fam == 1:
        return (
            f'<html><body><div id="root"><p>server rendered article {i} '
            f"body</p></div><script>b=2;</script></body></html>"
        ).encode()
    if fam == 2:
        return f"<html><body><p>plain page {i} content</p></body></html>".encode()
    return (
        f'<div id="app"><div class="load"></div></div>'
        f"<script>boot({i})</script>"
    ).encode()


def _qx64(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import spa_shell_audit

        yield {
            "doc_id": r["doc_id"],
            **spa_shell_audit(_qx64_make_page(r["doc_id"])),
        }

    return map_records(docs, run, _SPA_SCHEMA)


QUERIES["qx64_spa_shell"] = _qx64
ORACLE["qx64_spa_shell"] = """
WITH v AS (
  SELECT doc_id, doc_id % 4 AS fam,
         LENGTH(CAST(doc_id AS VARCHAR)) AS d
  FROM documents)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 0 WHEN 1 THEN 25 + d
                     WHEN 2 THEN 16 + d ELSE 0 END AS BIGINT)
           AS text_chars,
       CAST(CASE fam WHEN 0 THEN 100 + doc_id % 100
                     WHEN 1 THEN 4 WHEN 2 THEN 0
                     ELSE 6 + d END AS BIGINT) AS script_bytes,
       CAST(CASE WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS n_scripts,
       CAST(CASE WHEN fam IN (0, 3) THEN 1 ELSE 0 END AS INTEGER)
           AS has_empty_root,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS has_noscript,
       CAST(CASE fam WHEN 0 THEN 1000
                     WHEN 1 THEN 4000 // (29 + d)
                     WHEN 2 THEN 0 ELSE 1000 END AS BIGINT)
           AS script_permille,
       CAST(CASE WHEN fam IN (0, 3) THEN 1 ELSE 0 END AS INTEGER)
           AS is_spa_shell
FROM v
"""


# -- qx65: inline data:-URI asset inventory (core/htmlaudit.py) ----------------
#
# Embedded base64 assets inflate pages 4/3x and hide from URL
# harvesters; the inventory sizes them WITHOUT decoding (RFC 2397
# arithmetic), rawtext-safe. fam = doc_id % 4: b64 image + plain-text
# uri / none (script decoy only) / two b64 images / b64 font.

_DATAURI_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_uris", IntegerType()),
        StructField("n_base64", IntegerType()),
        StructField("n_images", IntegerType()),
        StructField("total_decoded_bytes", LongType()),
        StructField("max_decoded", LongType()),
    ]
)


def _qx65_make_page(doc_id: int) -> bytes:
    import base64 as _b64

    i = int(doc_id)
    fam = i % 4

    def blob(k: int) -> str:
        return _b64.b64encode(bytes([i % 256]) * k).decode()

    if fam == 0:
        k = i % 50 + 10
        return (
            f'<img src="data:image/png;base64,{blob(k)}">'
            f'<a href="data:text/plain,hello">t</a>'
        ).encode()
    if fam == 1:
        return (
            f"<script>var s='data:image/gif;base64,R0lGOD';</script>"
            f"<p>plain page {i}</p>"
        ).encode()
    if fam == 2:
        k1 = i % 20 + 5
        return (
            f'<img src="data:image/jpeg;base64,{blob(k1)}">'
            f'<img src="data:image/webp;base64,{blob(30)}">'
        ).encode()
    k = i % 30 + 3
    return (
        f"<style>@font-face{{}}</style>"
        f'<link href="data:font/woff2;base64,{blob(k)}" rel="preload">'
    ).encode()


def _qx65(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import data_uri_inventory

        yield {
            "doc_id": r["doc_id"],
            **data_uri_inventory(_qx65_make_page(r["doc_id"])),
        }

    return map_records(docs, run, _DATAURI_SCHEMA)


QUERIES["qx65_data_uris"] = _qx65
ORACLE["qx65_data_uris"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 2 WHEN 1 THEN 0
                     WHEN 2 THEN 2 ELSE 1 END AS INTEGER) AS n_uris,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 0
                     WHEN 2 THEN 2 ELSE 1 END AS INTEGER) AS n_base64,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 2 THEN 2
                     ELSE 0 END AS INTEGER) AS n_images,
       CAST(CASE fam WHEN 0 THEN (doc_id % 50 + 10) + 5
                     WHEN 1 THEN 0
                     WHEN 2 THEN (doc_id % 20 + 5) + 30
                     ELSE doc_id % 30 + 3 END AS BIGINT)
           AS total_decoded_bytes,
       CAST(CASE fam WHEN 0 THEN doc_id % 50 + 10
                     WHEN 1 THEN 0
                     WHEN 2 THEN 30
                     ELSE doc_id % 30 + 3 END AS BIGINT) AS max_decoded
FROM v
"""


# -- qx66: HTML-tier routing capstone (charset -> doorway -> SPA -> extract) ---
#
# The per-page routing decision the extraction tier actually makes,
# composing the certified audits in production order with the
# first-failure reason (the qt74/qx58 capstone pattern): UTF-16 BOM
# pages go to a transcode step (byte-scans are blind there), doorway
# pages are discarded (qx60), empty SPA shells go to the rendering
# tier (qx64), everything else extracts directly. fam = doc_id % 5:
# utf-16 page / instant meta-refresh doorway / React shell /
# clean article / JS-redirect doorway.

_ROUTER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("route", StringType()),
        StructField("reason", StringType()),
        StructField("resolved_charset", StringType()),
        StructField("is_doorway", IntegerType()),
        StructField("is_spa_shell", IntegerType()),
    ]
)


def _qx66_make_page(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 5
    if fam == 0:
        return b"\xff\xfe" + f"<html><p>utf16 page {i}</p></html>".encode(
            "utf-16-le"
        )
    if fam == 1:
        return (
            f'<html><meta http-equiv="refresh" content="0;'
            f'url=https://other{i % 3}.example.com/"><body>moved</body></html>'
        ).encode()
    if fam == 2:
        return (
            '<html><body><div id="root"></div><script>'
            + "boot();" * 30
            + f"</script></body></html>"
        ).encode()
    if fam == 3:
        return (
            f"<html><body><p>a real article body with text {i}</p>"
            f"<script>a=1</script></body></html>"
        ).encode()
    return (
        f"<html><script>window.location.href='/new/{i}';</script></html>"
    ).encode()


def _qx66(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import (
            charset_detect,
            soft_redirects,
            spa_shell_audit,
        )

        page = _qx66_make_page(r["doc_id"])
        cs = charset_detect(page)
        out = {"doc_id": r["doc_id"], "resolved_charset": cs["resolved"]}
        if cs["bom"] in ("utf-16le", "utf-16be"):
            yield {**out, "route": "transcode", "reason": "utf16_bom"}
        elif soft_redirects(page)["is_doorway"]:
            yield {**out, "route": "discard", "reason": "doorway",
                   "is_doorway": 1}
        elif spa_shell_audit(page)["is_spa_shell"]:
            yield {**out, "route": "render", "reason": "spa_shell",
                   "is_doorway": 0, "is_spa_shell": 1}
        else:
            yield {**out, "route": "extract", "reason": "ok",
                   "is_doorway": 0, "is_spa_shell": 0}

    return map_records(docs, run, _ROUTER_SCHEMA)


QUERIES["qx66_html_router"] = _qx66
ORACLE["qx66_html_router"] = """
WITH v AS (SELECT doc_id, doc_id % 5 AS fam FROM documents)
SELECT doc_id,
       CASE fam WHEN 0 THEN 'transcode' WHEN 1 THEN 'discard'
                WHEN 2 THEN 'render' WHEN 3 THEN 'extract'
                ELSE 'discard' END AS route,
       CASE fam WHEN 0 THEN 'utf16_bom' WHEN 1 THEN 'doorway'
                WHEN 2 THEN 'spa_shell' WHEN 3 THEN 'ok'
                ELSE 'doorway' END AS reason,
       CASE WHEN fam = 0 THEN 'utf-16le' ELSE 'utf-8' END
           AS resolved_charset,
       CAST(CASE WHEN fam IN (1, 4) THEN 1
                 WHEN fam IN (2, 3) THEN 0 END AS INTEGER) AS is_doorway,
       CAST(CASE WHEN fam = 2 THEN 1 WHEN fam = 3 THEN 0
            END AS INTEGER) AS is_spa_shell
FROM v
"""


# -- qm47: MP3 frame-header audit (core/mp3.py) --------------------------------
#
# qm31 reads ID3 tags; this walks the audio frames (tags lie about
# duration, frames don't) and detects VBR without decoding a sample.
# fam = doc_id % 4: CBR 128k behind an ID3v2 envelope (n = id%6+4
# frames) / VBR mix / truncated mid-final-frame / not mp3.

_MP3_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_mp3", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("is_vbr", IntegerType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("samplerate", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("truncated", IntegerType()),
    ]
)


def _qm47_make_mp3(doc_id: int) -> bytes:
    from pdf_spark.core.mp3 import encode_mp3_frames

    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return encode_mp3_frames([128] * (i % 6 + 4), id3_size=30)
    if fam == 1:
        return encode_mp3_frames([128, 192, 128, 320])
    if fam == 2:
        return encode_mp3_frames([64] * 5, samplerate=32000)[:-20]
    return b"OggS not an mp3 " + bytes((i + k) % 256 for k in range(8))


def _qm47(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.mp3 import mp3_audit

        yield {"doc_id": r["doc_id"], **mp3_audit(_qm47_make_mp3(r["doc_id"]))}

    return map_records(docs, run, _MP3_SCHEMA)


QUERIES["qm47_mp3_audit"] = _qm47
ORACLE["qm47_mp3_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_mp3,
       CAST(CASE fam WHEN 0 THEN doc_id % 6 + 4 WHEN 1 THEN 4
                     WHEN 2 THEN 4 END AS INTEGER) AS n_frames,
       CAST(CASE WHEN fam = 1 THEN 1 WHEN fam = 3 THEN NULL
                 ELSE 0 END AS INTEGER) AS is_vbr,
       CAST(CASE fam WHEN 0 THEN 128 WHEN 1 THEN 128
                     WHEN 2 THEN 64 END AS INTEGER) AS bitrate_kbps,
       CAST(CASE fam WHEN 0 THEN 44100 WHEN 1 THEN 44100
                     WHEN 2 THEN 32000 END AS INTEGER) AS samplerate,
       CAST(CASE fam
            WHEN 0 THEN ((doc_id % 6 + 4) * 1152 * 1000) // 44100
            WHEN 1 THEN (4 * 1152 * 1000) // 44100
            WHEN 2 THEN (4 * 1152 * 1000) // 32000 END AS BIGINT)
           AS duration_ms,
       CAST(CASE WHEN fam = 2 THEN 1 WHEN fam = 3 THEN NULL
                 ELSE 0 END AS INTEGER) AS truncated
FROM v
"""


# -- qx67: srcset responsive-image election (core/htmlaudit.py) ----------------
#
# Naive "take src" harvests the low-res placeholder; the real asset
# hides in srcset. fam = doc_id % 3: width-descriptor ladder (max
# width = (i%8+1)*160) / density-only pair + a bare img / no images
# (script decoy only).

_SRCSET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_images", IntegerType()),
        StructField("n_with_srcset", IntegerType()),
        StructField("n_candidates", IntegerType()),
        StructField("max_width", LongType()),
        StructField("n_density_only", IntegerType()),
        StructField("n_best_is_srcset", IntegerType()),
    ]
)


def _qx67_make_page(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 3
    if fam == 0:
        w = (i % 8 + 1) * 160
        return (
            f'<img src="a.jpg" srcset="a-s.jpg 320w, a-m.jpg {w // 2}w, '
            f'a-l.jpg {w}w">'
        ).encode()
    if fam == 1:
        return (
            f'<img src="b.jpg" srcset="b.jpg 1x, b2.jpg 2x">'
            f'<img src="c{i}.jpg">'
        ).encode()
    return (
        f"<script>var s='<img srcset=\"fake 999w\">';</script>"
        f"<p>text only {i}</p>"
    ).encode()


def _qx67(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import srcset_audit

        yield {
            "doc_id": r["doc_id"],
            **srcset_audit(_qx67_make_page(r["doc_id"])),
        }

    return map_records(docs, run, _SRCSET_SCHEMA)


QUERIES["qx67_srcset_election"] = _qx67
ORACLE["qx67_srcset_election"] = """
WITH v AS (SELECT doc_id, doc_id % 3 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS INTEGER)
           AS n_images,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 1 ELSE 0 END AS INTEGER)
           AS n_with_srcset,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 0 END AS INTEGER)
           AS n_candidates,
       CAST(CASE WHEN fam = 0
                 THEN GREATEST((doc_id % 8 + 1) * 160, 320)
                 ELSE 0 END AS BIGINT) AS max_width,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER)
           AS n_density_only,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 1 ELSE 0 END AS INTEGER)
           AS n_best_is_srcset
FROM v
"""


# -- qx68: published-date election (core/htmlaudit.py) -------------------------
#
# Freshness weighting needs ONE date per page; channels disagree on
# date-spoofed SEO pages. fam = doc_id % 4: all three channels agree
# (day = i%28+1) / time-tag vs month-only URL disagreeing / URL-only
# month path / no date anywhere.

_PUBDATE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("date_meta", LongType()),
        StructField("date_time_tag", LongType()),
        StructField("date_url", LongType()),
        StructField("elected", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("disagree", IntegerType()),
    ]
)


def _qx68_make(doc_id: int):
    i = int(doc_id)
    fam = i % 4
    day = i % 28 + 1
    if fam == 0:
        return (
            (
                f'<html><meta property="article:published_time" '
                f'content="2024-03-{day:02d}T10:00:00Z">'
                f'<time datetime="2024-03-{day:02d}">d</time></html>'
            ).encode(),
            f"https://ex.com/2024/03/{day:02d}/story-{i}",
        )
    if fam == 1:
        return (
            f'<html><time datetime="2023-01-{day:02d}">y</time></html>'.encode(),
            f"https://ex.com/2024/05/post-{i}",
        )
    if fam == 2:
        return (f"<p>no markup {i}</p>".encode(), f"https://ex.com/2022/11/x{i}")
    return (f"<p>undated {i}</p>".encode(), f"https://ex.com/about-{i}")


def _qx68(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import pubdate_election

        yield {
            "doc_id": r["doc_id"],
            **pubdate_election(*_qx68_make(r["doc_id"])),
        }

    return map_records(docs, run, _PUBDATE_SCHEMA)


QUERIES["qx68_pubdate_election"] = _qx68
ORACLE["qx68_pubdate_election"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam,
                  doc_id % 28 + 1 AS day FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 0 THEN 20240300 + day END AS BIGINT)
           AS date_meta,
       CAST(CASE WHEN fam = 0 THEN 20240300 + day
                 WHEN fam = 1 THEN 20230100 + day END AS BIGINT)
           AS date_time_tag,
       CAST(CASE WHEN fam = 0 THEN 20240300 + day
                 WHEN fam = 1 THEN 20240500
                 WHEN fam = 2 THEN 20221100 END AS BIGINT) AS date_url,
       CAST(CASE WHEN fam = 0 THEN 20240300 + day
                 WHEN fam = 1 THEN 20230100 + day
                 WHEN fam = 2 THEN 20221100 END AS BIGINT) AS elected,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 2
                     WHEN 2 THEN 1 ELSE 0 END AS INTEGER) AS n_channels,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER) AS disagree
FROM v
"""


# -- qm48: TrueType Collection audit (core/fontmeta.py) ------------------------
#
# CJK system fonts / variable families ship as ttcf collections whose
# point is table SHARING across faces. fam = doc_id % 3: two faces
# sharing cmap+head (333 permille pooled dups) / three identical
# faces (fully shared, 666 permille) / plain sfnt (not a ttc).

_TTC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_ttc", IntegerType()),
        StructField("n_fonts", IntegerType()),
        StructField("n_valid_faces", IntegerType()),
        StructField("n_table_records", IntegerType()),
        StructField("shared_permille", LongType()),
        StructField("truncated", IntegerType()),
    ]
)


def _qm48_make_ttc(doc_id: int) -> bytes:
    from pdf_spark.core.fontmeta import encode_ttc

    i = int(doc_id)
    fam = i % 3
    shared = bytes([i % 256]) * 40
    head = b"\x03" * 12
    if fam == 0:
        return encode_ttc(
            [
                [(b"cmap", shared), (b"glyf", b"\x02" * 20), (b"head", head)],
                [(b"cmap", shared), (b"glyf", b"\x04" * 24), (b"head", head)],
            ]
        )
    if fam == 1:
        face = [(b"cmap", shared), (b"glyf", b"\x05" * 16), (b"head", head)]
        return encode_ttc([face, list(face), list(face)])
    return b"\x00\x01\x00\x00" + bytes((i + k) % 256 for k in range(16))


def _qm48(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.fontmeta import ttc_audit

        yield {"doc_id": r["doc_id"], **ttc_audit(_qm48_make_ttc(r["doc_id"]))}

    return map_records(docs, run, _TTC_SCHEMA)


QUERIES["qm48_ttc_audit"] = _qm48
ORACLE["qm48_ttc_audit"] = """
WITH v AS (SELECT doc_id, doc_id % 3 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS is_ttc,
       CAST(CASE fam WHEN 0 THEN 2 WHEN 1 THEN 3 END AS INTEGER)
           AS n_fonts,
       CAST(CASE fam WHEN 0 THEN 2 WHEN 1 THEN 3 END AS INTEGER)
           AS n_valid_faces,
       CAST(CASE fam WHEN 0 THEN 6 WHEN 1 THEN 9 END AS INTEGER)
           AS n_table_records,
       CAST(CASE fam WHEN 0 THEN 333 WHEN 1 THEN 666 END AS BIGINT)
           AS shared_permille,
       CAST(CASE WHEN fam = 2 THEN NULL ELSE 0 END AS INTEGER)
           AS truncated
FROM v
"""


# -- qx69: third-party resource audit (core/htmlaudit.py) ----------------------
#
# The tracking/bloat signal: off-host subresource share. fam =
# doc_id % 3: mixed page (5 resources, 3 third-party incl.
# scheme-relative, decoy-safe) / all-local / tracker-heavy
# (k = i%4+2 distinct third-party script hosts).

_TPR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_resources", IntegerType()),
        StructField("n_third_party", IntegerType()),
        StructField("n_hosts", IntegerType()),
        StructField("n_iframes", IntegerType()),
        StructField("third_party_permille", LongType()),
    ]
)


def _qx69_make(doc_id: int):
    i = int(doc_id)
    fam = i % 3
    if fam == 0:
        page = (
            '<script src="https://cdn.tracker.com/t.js"></script>'
            '<script src="/local.js"></script>'
            '<img src="//img.other.net/x.png">'
            '<link rel="stylesheet" href="https://ex.com/style.css">'
            '<iframe src="https://ads.net/frame"></iframe>'
            "<script>var s='<img src=\"https://fake.com/x\">';</script>"
        )
        return page.encode(), "https://ex.com/page"
    if fam == 1:
        return (
            f'<script src="/a{i}.js"></script><img src="img/b.png">'.encode(),
            "https://ex.com/p",
        )
    k = i % 4 + 2
    tags = "".join(
        f'<script src="https://cdn{j}.t{i % 3}.example/x.js"></script>'
        for j in range(k)
    )
    return tags.encode(), "https://mysite.org/"


def _qx69(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import third_party_audit

        yield {
            "doc_id": r["doc_id"],
            **third_party_audit(*_qx69_make(r["doc_id"])),
        }

    return map_records(docs, run, _TPR_SCHEMA)


QUERIES["qx69_third_party"] = _qx69
ORACLE["qx69_third_party"] = """
WITH v AS (SELECT doc_id, doc_id % 3 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 5 WHEN 1 THEN 2
                     ELSE doc_id % 4 + 2 END AS INTEGER) AS n_resources,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 0
                     ELSE doc_id % 4 + 2 END AS INTEGER) AS n_third_party,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 0
                     ELSE doc_id % 4 + 2 END AS INTEGER) AS n_hosts,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_iframes,
       CAST(CASE fam WHEN 0 THEN 600 WHEN 1 THEN 0
                     ELSE 1000 END AS BIGINT) AS third_party_permille
FROM v
"""


# -- qm49: SVG active-content security audit (core/imaging.py) -----------------
#
# SVG is the one "image" that can EXECUTE — the serve-safety gate.
# fam = doc_id % 4: weaponized (script + onload + foreignObject +
# k=i%3+1 external refs) / clean static with commented-out decoy /
# event-handlers only / not svg.

_SVGSEC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_svg", IntegerType()),
        StructField("n_scripts", IntegerType()),
        StructField("n_event_attrs", IntegerType()),
        StructField("has_foreign_object", IntegerType()),
        StructField("n_external_refs", IntegerType()),
        StructField("is_active", IntegerType()),
    ]
)


def _qm49_make_svg(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        refs = "".join(
            f'<image xlink:href="https://cdn{j}.evil.net/{i}.png"/>'
            for j in range(i % 3 + 1)
        )
        return (
            f'<svg xmlns="http://www.w3.org/2000/svg" onload="boot({i})">'
            f"<script>run()</script><foreignObject><body>x</body>"
            f"</foreignObject>{refs}</svg>"
        ).encode()
    if fam == 1:
        return (
            f'<?xml version="1.0"?><svg viewBox="0 0 10 10">'
            f'<circle r="{i % 9 + 1}"/>'
            f"<!-- <script>decoy()</script> onload=\"x\" --></svg>"
        ).encode()
    if fam == 2:
        return (
            f'<svg><rect onclick="go({i})" onmouseover="peek()"/></svg>'
        ).encode()
    return b"\x89PNG\r\n\x1a\n raster " + bytes((i + k) % 256 for k in range(6))


def _qm49(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.imaging import svg_security

        yield {
            "doc_id": r["doc_id"],
            **svg_security(_qm49_make_svg(r["doc_id"])),
        }

    return map_records(docs, run, _SVGSEC_SCHEMA)


QUERIES["qm49_svg_security"] = _qm49
ORACLE["qm49_svg_security"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 3 THEN 0 ELSE 1 END AS INTEGER) AS is_svg,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 3 THEN NULL
                     ELSE 0 END AS INTEGER) AS n_scripts,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 2 THEN 2
                     WHEN 3 THEN NULL ELSE 0 END AS INTEGER)
           AS n_event_attrs,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 3 THEN NULL
                     ELSE 0 END AS INTEGER) AS has_foreign_object,
       CAST(CASE fam WHEN 0 THEN doc_id % 3 + 1 WHEN 3 THEN NULL
                     ELSE 0 END AS INTEGER) AS n_external_refs,
       CAST(CASE WHEN fam = 3 THEN NULL
                 WHEN fam IN (0, 2) THEN 1 ELSE 0 END AS INTEGER)
           AS is_active
FROM v
"""


# -- qx70: language-channel conflict audit (core/htmlaudit.py) -----------------
#
# Header vs html-lang vs stopword vote: mislabeled pages land in the
# wrong mixture bucket twice. fam = doc_id % 4: all-agree English
# (header en-US) / mistagged (lang=en, French text) / text-only
# German, no declarations / no language evidence at all.

_LANGC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang_header", StringType()),
        StructField("lang_attr", StringType()),
        StructField("lang_text", StringType()),
        StructField("n_declared", IntegerType()),
        StructField("conflict", IntegerType()),
    ]
)


def _qx70_make(doc_id: int):
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f'<html lang="en"><p>the cat and the dog in the '
            f"house {i}</p></html>".encode(),
            "Content-Language: en-US",
        )
    if fam == 1:
        return (
            f'<html lang="EN"><p>le chat est dans la maison avec '
            f"le chien {i}</p></html>".encode(),
            "",
        )
    if fam == 2:
        return (
            f"<p>der hund ist nicht mit der katze und {i}</p>".encode(),
            "",
        )
    return (f"<p>0x{i:x} 12345 67890</p>".encode(), "")


def _qx70(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import lang_conflict_audit

        yield {
            "doc_id": r["doc_id"],
            **lang_conflict_audit(*_qx70_make(r["doc_id"])),
        }

    return map_records(docs, run, _LANGC_SCHEMA)


QUERIES["qx70_lang_conflict"] = _qx70
ORACLE["qx70_lang_conflict"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CASE WHEN fam = 0 THEN 'en-us' END AS lang_header,
       CASE WHEN fam = 0 THEN 'en' WHEN fam = 1 THEN 'en' END AS lang_attr,
       CASE fam WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
       END AS lang_text,
       CAST(CASE fam WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 1
                     ELSE 0 END AS INTEGER) AS n_declared,
       CAST(CASE WHEN fam = 1 THEN 1 ELSE 0 END AS INTEGER) AS conflict
FROM v
"""


# -- qx71: paywall/metered-content detection (core/htmlaudit.py) ---------------
#
# Full article or teaser? The schema.org isAccessibleForFree flag
# (ld+json blocks only) + structural class corroboration, tri-state.
# fam = doc_id % 4: paywalled article (flag false + class) / free
# with explicit flag true / plain-script decoy, no channels /
# class-only metered gate.

_PAYWALL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_ldjson_blocks", IntegerType()),
        StructField("has_access_flag", IntegerType()),
        StructField("is_paywalled", IntegerType()),
        StructField("has_paywall_class", IntegerType()),
    ]
)


def _qx71_make_page(doc_id: int) -> bytes:
    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return (
            f'<script type="application/ld+json">{{"@type":"NewsArticle",'
            f'"headline":"h{i}","isAccessibleForFree": false}}</script>'
            f'<div class="paywall-prompt">Subscribe</div>'
        ).encode()
    if fam == 1:
        return (
            f'<script type="application/ld+json">'
            f'{{"isAccessibleForFree":"True","n":{i}}}</script><p>all free</p>'
        ).encode()
    if fam == 2:
        return (
            f"<script>var x = '\"isAccessibleForFree\": false';</script>"
            f"<p>open content {i}</p>"
        ).encode()
    return f'<div class="metered-gate">{i % 5} left</div>'.encode()


def _qx71(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.htmlaudit import paywall_audit

        yield {
            "doc_id": r["doc_id"],
            **paywall_audit(_qx71_make_page(r["doc_id"])),
        }

    return map_records(docs, run, _PAYWALL_SCHEMA)


QUERIES["qx71_paywall_flag"] = _qx71
ORACLE["qx71_paywall_flag"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam IN (0, 1) THEN 1 ELSE 0 END AS INTEGER)
           AS n_ldjson_blocks,
       CAST(CASE WHEN fam IN (0, 1) THEN 1 ELSE 0 END AS INTEGER)
           AS has_access_flag,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 0
                     WHEN 3 THEN 1 END AS INTEGER) AS is_paywalled,
       CAST(CASE WHEN fam IN (0, 3) THEN 1 ELSE 0 END AS INTEGER)
           AS has_paywall_class
FROM v
"""


# -- qx72: PDF function evaluation (core/pdffunc.py) ---------------------------
#
# Closes SURVEY §2.3 #34/#35: types 2/3/4 mirror pdf_run_function
# (reference function.c:221-735 + the postscript interpreter); type 0
# sampled functions are a documented divergence-by-extension (the
# reference LOG_TODOs them, function.c:166-168). fam = doc_id % 4 picks
# the function type (2/3/4/0); every fixture is serialized to real COS
# bytes, re-parsed through the object layer, and evaluated at dyadic
# sample points so outputs are EXACT binary fractions — reported in
# integer 2^-20 "micro" units the oracle reproduces arithmetically.

_PDFFUNC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fn_type", IntegerType()),
        StructField("n_outputs", IntegerType()),
        StructField("y0_micro", LongType()),
        StructField("y1_micro", LongType()),
    ]
)

_MICRO = 1 << 20


def _qx72_eval(doc_id: int):
    from pdf_spark.core.pdffunc import (
        encode_function,
        eval_function,
        parse_function_bytes,
    )

    i = int(doc_id)
    fam = i % 4
    if fam == 0:  # type 2 exponential: y = c0 + x^2 * b
        c0 = (i % 7) / 8
        b = (i % 3 + 1) / 8
        buf = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [c0],
             "C1": [c0 + b], "N": 2}
        )
        fn_type, xs = 2, [(i % 5) / 4]
    elif fam == 1:  # type 3 stitching: identity then 1 + 2x'^2
        sub0 = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [0], "C1": [1],
             "N": 1}
        )
        sub1 = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [1], "C1": [3],
             "N": 2}
        )
        buf = encode_function(
            {"FunctionType": 3, "Domain": [0, 1], "Functions": [sub0, sub1],
             "Bounds": [0.5], "Encode": [0, 1, 0, 1]}
        )
        fn_type, xs = 3, [(i % 5) / 4]
    elif fam == 2:  # type 4 calculator: [x^2, n%3==0 ? n<<1 : n-1]
        body = (
            b"{ exch dup mul exch dup 3 mod 0 eq"
            b" { 1 bitshift } { 1 sub } ifelse }"
        )
        buf = encode_function(
            {"FunctionType": 4, "Domain": [0, 1, 0, 100],
             "Range": [0, 1, -1, 200]},
            body,
        )
        fn_type, xs = 4, [(i % 5) / 4, i % 97]
    else:  # type 0 sampled, 8-bit, halfway interpolation points
        samples = bytes((i * 7 + k * 13) % 256 for k in range(5))
        buf = encode_function(
            {"FunctionType": 0, "Domain": [0, 1], "Range": [0, 255],
             "Size": [5], "BitsPerSample": 8, "Decode": [0, 255]},
            samples,
        )
        fn_type, xs = 0, [(i % 9) / 8]

    out = eval_function(parse_function_bytes(buf), xs)
    y0 = round(out[0] * _MICRO)
    y1 = round(out[1] * _MICRO) if len(out) > 1 else None
    return fn_type, len(out), y0, y1


def _qx72(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        row = (r["doc_id"], *_qx72_eval(r["doc_id"]))
        yield dict(zip(_PDFFUNC_SCHEMA.names, row))

    return map_records(docs, run, _PDFFUNC_SCHEMA)


QUERIES["qx72_pdf_functions"] = _qx72
ORACLE["qx72_pdf_functions"] = """
WITH v AS (
    SELECT doc_id, doc_id % 4 AS fam, doc_id % 5 AS x4, doc_id % 7 AS c7,
           doc_id % 3 AS b3, doc_id % 97 AS n97, doc_id % 9 AS x8
    FROM documents
)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 4
                     ELSE 0 END AS INTEGER) AS fn_type,
       CAST(CASE WHEN fam = 2 THEN 2 ELSE 1 END AS INTEGER) AS n_outputs,
       CAST(CASE fam
            WHEN 0 THEN c7 * 131072 + x4 * x4 * (b3 + 1) * 8192
            WHEN 1 THEN CASE x4 WHEN 0 THEN 0 WHEN 1 THEN 524288
                                WHEN 2 THEN 1048576 WHEN 3 THEN 1572864
                                ELSE 3145728 END
            WHEN 2 THEN x4 * x4 * 65536
            ELSE CASE WHEN x8 % 2 = 0
                 THEN ((doc_id * 7 + (x8 // 2) * 13) % 256) * 1048576
                 ELSE ((doc_id * 7 + (x8 // 2) * 13) % 256
                       + (doc_id * 7 + (x8 // 2 + 1) * 13) % 256) * 524288
                 END
            END AS BIGINT) AS y0_micro,
       CAST(CASE WHEN fam = 2 THEN
                 (CASE WHEN n97 % 3 = 0 THEN 2 * n97 ELSE n97 - 1 END)
                 * 1048576
            END AS BIGINT) AS y1_micro
FROM v
"""


# -- qm50: glyph outlines (core/outlines.py) -----------------------------------
#
# Closes SURVEY §2.3 #32/#33's "shapes out of scope" partials: glyf
# simple + composite glyph decode (point-derived bbox re-checked
# against the header bbox) and a full Type 2 charstring interpreter
# (width parity, biased callsubr, exact line-path bbox). fam =
# doc_id % 3: glyf simple pair / glyf with a translated composite /
# CFF charstring rect through a local subr.

_OUTLINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src", IntegerType()),
        StructField("n_glyphs", IntegerType()),
        StructField("n_components", IntegerType()),
        StructField("n_contours", IntegerType()),
        StructField("n_points", IntegerType()),
        StructField("adv_total", LongType()),
        StructField("ink_w", IntegerType()),
        StructField("ink_h", IntegerType()),
        StructField("bbox_match", IntegerType()),
    ]
)


def _qm50_eval(doc_id: int):
    from pdf_spark.core.outlines import (
        cs_num,
        encode_glyf_font,
        glyf_outlines,
        run_charstring,
    )

    i = int(doc_id)
    fam = i % 3
    w = 100 + (i % 50) * 4
    h = 200 + (i % 30) * 10
    rect = [[(0, 0), (w, 0), (w, h), (0, h)]]
    tri = [[(0, 0), (w, 0), (w // 2, h)]]
    if fam in (0, 1):
        if fam == 0:
            glyphs, advances = [rect, tri], [500, 600 + i % 20]
        else:
            dx = 4 * (i % 16) + 8
            glyphs = [rect, tri, ("composite", [(0, 0, 0), (1, dx, 0)])]
            advances = [500, 600 + i % 20, 700]
        out = glyf_outlines(encode_glyf_font(glyphs, advances))
        return (
            fam, out["n_glyphs"], out["n_components"], out["n_contours"],
            out["n_points"], out["adv_total"],
            out["x_max"] - out["x_min"], out["y_max"] - out["y_min"],
            out["bbox_match"],
        )
    # CFF: [width?] dx0 dy0 rmoveto, subr draws the bottom edge
    sub = cs_num(w) + cs_num(0) + b"\x05\x0b"           # rlineto return
    parts = b""
    if i % 2 == 1:
        parts += cs_num(i % 100 - 50)                   # width delta
    parts += cs_num(i % 32) + cs_num(i % 16) + b"\x15"  # rmoveto
    parts += cs_num(-107) + b"\x0a"                     # callsubr
    parts += cs_num(0) + cs_num(h) + b"\x05"            # rlineto
    parts += cs_num(-w) + cs_num(0) + b"\x05"           # rlineto
    parts += b"\x0e"                                    # endchar
    out = run_charstring(
        parts, lsubrs=[sub], default_width=311, nominal_width=256
    )
    return (
        2, 1, 0, out["n_contours"], out["n_points"], int(out["advance"]),
        int(out["x_max"] - out["x_min"]), int(out["y_max"] - out["y_min"]),
        None,
    )


def _qm50(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        row = (r["doc_id"], *_qm50_eval(r["doc_id"]))
        yield dict(zip(_OUTLINE_SCHEMA.names, row))

    return map_records(docs, run, _OUTLINE_SCHEMA)


QUERIES["qm50_glyph_outlines"] = _qm50
ORACLE["qm50_glyph_outlines"] = """
WITH v AS (
    SELECT doc_id, doc_id % 3 AS fam,
           100 + (doc_id % 50) * 4 AS w, 200 + (doc_id % 30) * 10 AS h,
           doc_id % 20 AS a20, doc_id % 16 AS d16, doc_id % 100 AS a100
    FROM documents
)
SELECT doc_id,
       CAST(fam AS INTEGER) AS src,
       CAST(CASE fam WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 1 END AS INTEGER)
           AS n_glyphs,
       CAST(CASE WHEN fam = 1 THEN 2 ELSE 0 END AS INTEGER) AS n_components,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 2 END AS INTEGER) AS n_contours,
       CAST(CASE WHEN fam = 2 THEN 4 ELSE 7 END AS INTEGER) AS n_points,
       CAST(CASE fam WHEN 0 THEN 1100 + a20 WHEN 1 THEN 1800 + a20
            ELSE CASE WHEN doc_id % 2 = 1 THEN 206 + a100 ELSE 311 END
            END AS BIGINT) AS adv_total,
       CAST(CASE WHEN fam = 1 THEN 4 * d16 + 8 + w ELSE w END AS INTEGER)
           AS ink_w,
       CAST(h AS INTEGER) AS ink_h,
       CAST(CASE WHEN fam = 2 THEN NULL ELSE 1 END AS INTEGER) AS bbox_match
FROM v
"""


# -- qm51: ICC profile structural audit (core/icc.py) --------------------------
#
# Closes SURVEY §2.3 #36 at metadata tier (the reference's libs/color
# evaluates transforms for rasterization; a corpus engine routes and
# validates embedded profiles). fam = doc_id % 4: display-RGB v4 /
# printer-CMYK v2 with A2B0 / truncated (claimed > actual) /
# colorspace-GRAY with kTRC.

_ICC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("valid", IntegerType()),
        StructField("dev_class", StringType()),
        StructField("color_space", StringType()),
        StructField("n_tags", IntegerType()),
        StructField("intent", IntegerType()),
        StructField("vmajor", IntegerType()),
        StructField("has_a2b0", IntegerType()),
        StructField("d50_ok", IntegerType()),
    ]
)


def _qm51_make(doc_id: int) -> bytes:
    from pdf_spark.core.icc import encode_icc

    i = int(doc_id)
    fam = i % 4
    if fam == 0:
        return encode_icc(intent=i % 4)
    if fam == 1:
        return encode_icc(
            dev_class=b"prtr", color_space=b"CMYK", pcs=b"Lab ",
            version=(2, 4), intent=3,
            tags=[(b"desc", bytes(10)), (b"A2B0", b"mft1" + bytes(40)),
                  (b"wtpt", bytes(20))],
        )
    if fam == 2:
        full = encode_icc()
        return full[: len(full) - 8]
    return encode_icc(
        dev_class=b"spac", color_space=b"GRAY", version=(4, 2),
        intent=i % 3,
        tags=[(b"desc", bytes(12)), (b"wtpt", bytes(20)),
              (b"kTRC", b"curv" + bytes(8))],
    )


def _qm51(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.icc import icc_meta

        m = icc_meta(_qm51_make(r["doc_id"]))
        yield {"doc_id": r["doc_id"], **m, "vmajor": m["version_major"]}

    return map_records(docs, run, _ICC_SCHEMA)


QUERIES["qm51_icc_profile"] = _qm51
ORACLE["qm51_icc_profile"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS valid,
       CASE fam WHEN 0 THEN 'display' WHEN 1 THEN 'output'
                WHEN 3 THEN 'colorspace' END AS dev_class,
       CASE fam WHEN 0 THEN 'RGB' WHEN 1 THEN 'CMYK'
                WHEN 3 THEN 'GRAY' END AS color_space,
       CAST(CASE WHEN fam IN (0, 1, 3) THEN 3 END AS INTEGER) AS n_tags,
       CAST(CASE fam WHEN 0 THEN doc_id % 4 WHEN 1 THEN 3
                     WHEN 3 THEN doc_id % 3 END AS INTEGER) AS intent,
       CAST(CASE fam WHEN 0 THEN 4 WHEN 1 THEN 2 WHEN 3 THEN 4
            END AS INTEGER) AS vmajor,
       CAST(CASE fam WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 3 THEN 0
            END AS INTEGER) AS has_a2b0,
       CAST(CASE WHEN fam IN (0, 1, 3) THEN 1 END AS INTEGER) AS d50_ok
FROM v
"""


# -- qx73: page-ink rasterization (core/raster.py) -----------------------------
#
# Closes SURVEY §2.3 #37: scanline even-odd/nonzero fill at pixel
# centers (the reference's canvas/DCEL tier, text-engine sized —
# thumbnails/ink maps over span geometry). Integer rects rasterize
# EXACTLY, so the oracle is pure arithmetic: single rect / even-odd
# XOR pair / nonzero union pair / nonzero donut (reversed inner).

_RASTER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mode", IntegerType()),
        StructField("ink", LongType()),
        StructField("rows_touched", IntegerType()),
        StructField("first_row", IntegerType()),
        StructField("last_row", IntegerType()),
    ]
)


def _qx73_eval(doc_id: int):
    from pdf_spark.core.raster import ink_stats, rasterize, rect

    i = int(doc_id)
    fam = i % 4
    w1 = 16 + i % 16
    h1 = 20 + i % 10
    if fam == 0:
        contours = [rect(i % 8, i % 8, w1, h1)]
        rule = "nonzero"
    elif fam in (1, 2):
        contours = [rect(2, 3, w1, h1), rect(2 + i % 12, 3 + i % 6, 14, 12)]
        rule = "evenodd" if fam == 1 else "nonzero"
    else:
        s = 6 + i % 8
        o = 5 + i % 5
        contours = [rect(0, 0, 30, 30), rect(o, o, s, s, reverse=True)]
        rule = "nonzero"
    stats = ink_stats(rasterize(contours, 64, 64, rule=rule), 64, 64)
    return (fam, stats["ink"], stats["rows_touched"], stats["first_row"],
            stats["last_row"])


def _qx73(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        row = (r["doc_id"], *_qx73_eval(r["doc_id"]))
        yield dict(zip(_RASTER_SCHEMA.names, row))

    return map_records(docs, run, _RASTER_SCHEMA)


QUERIES["qx73_page_raster"] = _qx73
ORACLE["qx73_page_raster"] = """
WITH v AS (
    SELECT doc_id, doc_id % 4 AS fam, 16 + doc_id % 16 AS w1,
           20 + doc_id % 10 AS h1, doc_id % 12 AS dx, doc_id % 6 AS dy,
           6 + doc_id % 8 AS s, doc_id % 8 AS p
    FROM documents
),
w AS (
    SELECT *, LEAST(w1 - dx, 14) * 12 AS overlap FROM v
)
SELECT doc_id,
       CAST(fam AS INTEGER) AS mode,
       CAST(CASE fam
            WHEN 0 THEN w1 * h1
            WHEN 1 THEN w1 * h1 + 168 - 2 * overlap
            WHEN 2 THEN w1 * h1 + 168 - overlap
            ELSE 900 - s * s END AS BIGINT) AS ink,
       CAST(CASE fam WHEN 0 THEN h1 WHEN 3 THEN 30 ELSE h1 END AS INTEGER)
           AS rows_touched,
       CAST(CASE fam WHEN 0 THEN p WHEN 3 THEN 0 ELSE 3 END AS INTEGER)
           AS first_row,
       CAST(CASE fam WHEN 0 THEN p + h1 - 1 WHEN 3 THEN 29
            ELSE 3 + h1 - 1 END AS INTEGER) AS last_row
FROM w
"""


# -- qm52: JPEG 2000 structural audit (core/jp2.py) ----------------------------
#
# The /JPXDecode route (PDF 32000-1 §7.4.9): JP2 container walk
# (signature/ftyp/jp2h-ihdr/jp2c with ihdr-vs-SIZ integrity) + raw
# J2K codestream walk (SIZ grid/tiles/components, COD progression/
# layers/levels, QCD, Psot tile-part skipping, EOC termination).
# fam = doc_id % 3: jp2 container / raw j2k multi-tile-part /
# truncated (no EOC; headers still recovered).

_JP2_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("container", StringType()),
        StructField("valid", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("n_comp", IntegerType()),
        StructField("n_tiles", IntegerType()),
        StructField("prog", StringType()),
        StructField("n_levels", IntegerType()),
        StructField("n_layers", IntegerType()),
        StructField("n_sot", IntegerType()),
        StructField("truncated", IntegerType()),
    ]
)


def _qm52_make(doc_id: int) -> bytes:
    from pdf_spark.core.jp2 import encode_j2k, encode_jp2

    i = int(doc_id)
    fam = i % 3
    w = 128 + i % 64
    h = 256 + i % 32
    if fam == 0:
        return encode_jp2(
            w, h, n_comp=i % 3 + 1, prog=i % 5,
            levels=3 + i % 3, layers=1 + i % 4,
        )
    if fam == 1:
        return encode_j2k(
            w, h, n_comp=i % 3 + 1, tile=32, prog=(i + 2) % 5,
            levels=3 + i % 3, layers=1 + i % 4,
            n_tile_parts=i % 3 + 1,
        )
    return encode_j2k(w, h, with_eoc=False)


def _qm52(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.jp2 import jp2_meta

        yield {"doc_id": r["doc_id"], **jp2_meta(_qm52_make(r["doc_id"]))}

    return map_records(docs, run, _JP2_SCHEMA)


QUERIES["qm52_jp2_meta"] = _qm52
ORACLE["qm52_jp2_meta"] = """
WITH v AS (
    SELECT doc_id, doc_id % 3 AS fam, 128 + doc_id % 64 AS w,
           256 + doc_id % 32 AS h
    FROM documents
),
p AS (
    SELECT *,
           CASE WHEN fam = 0 THEN doc_id % 5
                WHEN fam = 1 THEN (doc_id + 2) % 5 END AS prog_idx
    FROM v
)
SELECT doc_id,
       CASE WHEN fam = 0 THEN 'jp2' ELSE 'j2k' END AS container,
       CAST(CASE WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS valid,
       CAST(w AS INTEGER) AS w,
       CAST(h AS INTEGER) AS h,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE doc_id % 3 + 1 END AS INTEGER)
           AS n_comp,
       CAST(CASE fam
            WHEN 0 THEN ((w + 63) // 64) * ((h + 63) // 64)
            WHEN 1 THEN ((w + 31) // 32) * ((h + 31) // 32)
            ELSE ((w + 63) // 64) * ((h + 63) // 64)
            END AS INTEGER) AS n_tiles,
       CASE prog_idx WHEN 0 THEN 'LRCP' WHEN 1 THEN 'RLCP'
                     WHEN 2 THEN 'RPCL' WHEN 3 THEN 'PCRL'
                     WHEN 4 THEN 'CPRL' ELSE 'LRCP' END AS prog,
       CAST(CASE WHEN fam = 2 THEN 5 ELSE 3 + doc_id % 3 END AS INTEGER)
           AS n_levels,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 1 + doc_id % 4 END AS INTEGER)
           AS n_layers,
       CAST(CASE WHEN fam = 1 THEN doc_id % 3 + 1 ELSE 1 END AS INTEGER)
           AS n_sot,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS truncated
FROM p
"""


# -- qx74: incremental-update revision forensics (core/document.py) ------------
#
# Provenance census over REAL PDF bytes from the repo's own generator:
# how many xref sections, classic vs 1.5 stream form, and how many
# object ids a newer revision SHADOWS (the edit surface signature
# tooling inspects, PDF §7.5.6). fam = doc_id % 3: plain single
# section / k = doc_id%4 appended classic updates each replacing the
# content stream / one xref-STREAM update over a classic base (the
# signed-PDF mixed chain).

_REV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_sections", IntegerType()),
        StructField("n_classic", IntegerType()),
        StructField("n_streams", IntegerType()),
        StructField("has_hybrid", IntegerType()),
        StructField("n_objects", IntegerType()),
        StructField("n_shadowed", IntegerType()),
    ]
)


def _qx74_make(doc_id: int) -> bytes:
    from pdf_spark.gen.pdfgen import (
        _content_td_tj,
        _find_startxref,
        _incremental_xref_stream_doc,
        _simple_doc,
        incremental_update,
    )

    i = int(doc_id)
    fam = i % 3
    if fam == 2:
        return _incremental_xref_stream_doc([f"doc {i} final"])
    doc = _simple_doc([f"doc {i} line"], _content_td_tj)
    if fam == 1:
        for k in range(i % 4):
            content = _content_td_tj([f"doc {i} rev {k}"])
            body = (
                b"<</Length " + str(len(content)).encode()
                + b">>\nstream\n" + content + b"\nendstream"
            )
            doc = incremental_update(doc, {5: body}, _find_startxref(doc))
    return doc


def _qx74(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        from pdf_spark.core.document import revision_audit

        m = revision_audit(_qx74_make(r["doc_id"]))
        yield {"doc_id": r["doc_id"], **(m or {})}

    return map_records(docs, run, _REV_SCHEMA)


QUERIES["qx74_revision_forensics"] = _qx74
ORACLE["qx74_revision_forensics"] = """
WITH v AS (
    SELECT doc_id, doc_id % 3 AS fam, doc_id % 4 AS k FROM documents
)
SELECT doc_id,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 1 + k ELSE 2 END AS INTEGER)
           AS n_sections,
       CAST(CASE fam WHEN 0 THEN 1 WHEN 1 THEN 1 + k ELSE 1 END AS INTEGER)
           AS n_classic,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS n_streams,
       CAST(0 AS INTEGER) AS has_hybrid,
       CAST(CASE WHEN fam = 2 THEN 7 ELSE 6 END AS INTEGER) AS n_objects,
       CAST(CASE WHEN fam = 2 OR (fam = 1 AND k > 0) THEN 1 ELSE 0
            END AS INTEGER) AS n_shadowed
FROM v
"""


# -- qm53: Type 1 font outlines end-to-end (core/type1.py + outlines.py) -------
#
# The reference's FontFile todo closed on the outline side: per doc a
# full Type 1 program is ASSEMBLED (eexec + charstring encryption, RD
# binary tokens), re-parsed through the decryption/extraction layer,
# and the target glyph interpreted. fam = doc_id % 3: rect through an
# unbiased subr / seac accent composition / sbw vertical metrics with
# a curve hull.

_T1_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fam", IntegerType()),
        StructField("n_glyphs", IntegerType()),
        StructField("n_contours", IntegerType()),
        StructField("n_points", IntegerType()),
        StructField("adv", LongType()),
        StructField("ink_w", IntegerType()),
        StructField("ink_h", IntegerType()),
    ]
)


def _qm53_eval(doc_id: int):
    from pdf_spark.core.outlines import run_type1_charstring, t1_num
    from pdf_spark.core.type1 import encode_type1_font, type1_charstrings

    def cs(*parts):
        return b"".join(
            t1_num(p) if isinstance(p, int) else p for p in parts
        )

    HSBW, RMOVE, HLINE, VLINE = b"\x0d", b"\x15", b"\x06", b"\x07"
    CLOSE, END, CALL, RET = b"\x09", b"\x0e", b"\x0a", b"\x0b"
    RRCURVE, SEAC, SBW = b"\x08", b"\x0c\x06", b"\x0c\x07"

    i = int(doc_id)
    fam = i % 3
    w = 100 + (i % 50) * 2
    h = 150 + (i % 40) * 2
    sb = i % 20
    space = cs(0, 250, HSBW, END)
    if fam == 0:
        adv = 400 + i % 100
        sub = cs(w, HLINE, RET)
        glyph = cs(sb, adv, HSBW, 0, 0, RMOVE, 0, CALL, h, VLINE,
                   -w, HLINE, CLOSE, END)
        font = encode_type1_font(
            {"space": space, "g": glyph}, subrs=[sub],
            encoding={32: "space", 103: "g"},
        )
        chars, subrs = type1_charstrings(font)
        out = run_type1_charstring(chars["g"], subrs=subrs)
    elif fam == 1:
        adx = 200 + i % 30
        ady = 300 + i % 20
        base = cs(0, 600, HSBW, 0, 0, RMOVE, w, HLINE, h, VLINE,
                  -w, HLINE, CLOSE, END)
        accent = cs(0, 300, HSBW, 0, 0, RMOVE, 10, HLINE, 12, VLINE,
                    -10, HLINE, CLOSE, END)
        adv = 650 + i % 40
        comp = cs(0, adv, HSBW, 0, adx, ady, 65, 39, SEAC)
        font = encode_type1_font(
            {"A": base, "quoteright": accent, "comp": comp},
        )
        chars, subrs = type1_charstrings(font)
        out = run_type1_charstring(
            chars["comp"], subrs=subrs, charstrings=chars
        )
    else:
        adv = 600 + i % 50
        glyph = cs(5, 10, adv, 0, SBW, 0, 0, RMOVE,
                   10, 20, 20, -20, 30, 0, RRCURVE, END)
        font = encode_type1_font({"space": space, "v": glyph})
        chars, subrs = type1_charstrings(font)
        out = run_type1_charstring(chars["v"])
    n_glyphs = 3 if fam == 1 else 2
    return (
        fam, n_glyphs, out["n_contours"], out["n_points"],
        int(out["advance"]),
        int(out["x_max"] - out["x_min"]), int(out["y_max"] - out["y_min"]),
    )


def _qm53(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id")

    def run(r: dict) -> Iterator[dict]:
        row = (r["doc_id"], *_qm53_eval(r["doc_id"]))
        yield dict(zip(_T1_SCHEMA.names, row))

    return map_records(docs, run, _T1_SCHEMA)


QUERIES["qm53_type1_outlines"] = _qm53
ORACLE["qm53_type1_outlines"] = """
WITH v AS (
    SELECT doc_id, doc_id % 3 AS fam, 100 + (doc_id % 50) * 2 AS w,
           150 + (doc_id % 40) * 2 AS h, doc_id % 20 AS sb,
           200 + doc_id % 30 AS adx, 300 + doc_id % 20 AS ady
    FROM documents
)
SELECT doc_id,
       CAST(fam AS INTEGER) AS fam,
       CAST(CASE WHEN fam = 1 THEN 3 ELSE 2 END AS INTEGER) AS n_glyphs,
       CAST(CASE WHEN fam = 1 THEN 2 ELSE 1 END AS INTEGER) AS n_contours,
       CAST(CASE fam WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 2 END AS INTEGER)
           AS n_points,
       CAST(CASE fam WHEN 0 THEN 400 + doc_id % 100
                     WHEN 1 THEN 650 + doc_id % 40
                     ELSE 600 + doc_id % 50 END AS BIGINT) AS adv,
       CAST(CASE fam WHEN 0 THEN w WHEN 1 THEN adx + 10 ELSE 60
            END AS INTEGER) AS ink_w,
       CAST(CASE fam WHEN 0 THEN h WHEN 1 THEN ady + 12 ELSE 20
            END AS INTEGER) AS ink_h
FROM v
"""
