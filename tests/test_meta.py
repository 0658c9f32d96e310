"""core/meta.py (PDF /Info + XMP + Link annots) and extract_html_meta."""

from pdf_spark.core.document import Resolver
from pdf_spark.core.htmltext import extract_html_meta
from pdf_spark.core.meta import (
    extract_pdf_links,
    extract_pdf_meta,
    parse_pdf_date,
    pdf_text_string,
)
from pdf_spark.gen.pdfgen import (
    F_HELV,
    N_VARIANTS,
    PdfBuilder,
    _content_td_tj,
    _escb,
    _info_annots_doc,
    generate_doc,
)


# --- text strings (PDF 32000-1 §7.9.2.2 + Annex D.2) -------------------------

def test_pdfdoc_encoding_ascii_identity():
    assert pdf_text_string(b"Hello, World! 123") == "Hello, World! 123"


def test_pdfdoc_encoding_difference_rows():
    # bullet, emdash, euro, quotes, ligatures, caron accent
    assert pdf_text_string(b"\x80\x84\xa0\x8d\x8e\x93\x94\x19") == "•—€“”ﬁﬂˇ"
    # latin-1 upper half where PDFDoc == latin-1
    assert pdf_text_string(b"caf\xe9") == "café"
    # undefined slots -> replacement char, never raise
    assert pdf_text_string(b"\x7f\x9f\xad") == "���"


def test_utf16_and_utf8_boms():
    assert pdf_text_string(b"\xfe\xff\x00H\x00i") == "Hi"
    assert pdf_text_string(b"\xfe\xff" + "漢字".encode("utf-16-be")) == "漢字"
    assert pdf_text_string(b"\xef\xbb\xbfcaf\xc3\xa9") == "café"
    # truncated UTF-16 payload: permissive, never raises
    assert pdf_text_string(b"\xfe\xff\x00") is not None


def test_text_string_bad_types():
    assert pdf_text_string(None) is None
    assert pdf_text_string(42) is None
    assert pdf_text_string("already-a-name") is None


# --- dates (§7.9.4) -----------------------------------------------------------

def test_date_full_forms():
    assert parse_pdf_date(b"D:20240115103000+05'30'") == "2024-01-15T10:30:00+05:30"
    assert parse_pdf_date(b"D:20240115103000-08'00'") == "2024-01-15T10:30:00-08:00"
    assert parse_pdf_date(b"D:20240115103000Z") == "2024-01-15T10:30:00+00:00"


def test_date_defaulted_fields():
    assert parse_pdf_date(b"D:2024") == "2024-01-01T00:00:00"
    assert parse_pdf_date(b"D:202407") == "2024-07-01T00:00:00"
    assert parse_pdf_date(b"20240115") == "2024-01-15T00:00:00"  # no D: prefix


def test_date_rejects_out_of_range():
    assert parse_pdf_date(b"D:20241315") is None  # month 13
    assert parse_pdf_date(b"D:20240230") is None  # Feb 30
    assert parse_pdf_date(b"D:20240115253000Z") is None  # hour 25
    assert parse_pdf_date(b"not a date") is None
    assert parse_pdf_date(None) is None


# --- /Info + XMP --------------------------------------------------------------

def _doc_with(info_body: bytes = b"", catalog_extra: bytes = b"",
              builder_hook=None) -> bytes:
    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["hello"]))
    extra = b""
    if info_body:
        info = b.add(info_body)
        extra = b"/Info " + str(info).encode() + b" 0 R"
    if builder_hook is not None:
        catalog_extra = builder_hook(b)
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R"
          + catalog_extra + b">>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(page, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
          b"/MediaBox[0 0 612 792]"
          b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
          b"/Contents " + str(cont).encode() + b" 0 R>>")
    return b.build(cat, trailer_extra=extra)


def test_info_dict_full():
    title = b"\xfe\xff" + "T — §".encode("utf-16-be")
    pdf = _doc_with(
        b"<</Title(" + _escb(title) + b")/Author(A. Writer)"
        b"/Subject(Sub)/Keywords(k1 k2)/Creator(ed)/Producer(pr)"
        b"/CreationDate(D:20230401120000Z)/ModDate(D:20230402)>>"
    )
    m = extract_pdf_meta(Resolver(pdf))
    assert m["title"] == "T — §"
    assert m["author"] == "A. Writer"
    assert m["subject"] == "Sub"
    assert m["keywords"] == "k1 k2"
    assert m["creator"] == "ed"
    assert m["producer"] == "pr"
    assert m["created"] == "2023-04-01T12:00:00+00:00"
    assert m["modified"] == "2023-04-02T00:00:00"


def test_info_missing_and_malformed():
    m = extract_pdf_meta(Resolver(_doc_with()))
    assert all(v is None for v in m.values())
    # /Info holding a number, /Title a name: best-effort Nones, no raise
    m = extract_pdf_meta(Resolver(_doc_with(b"<</Title/NameNotString>>")))
    assert m["title"] is None


def test_xmp_fallback_fills_missing():
    xmp = (b'<x:xmpmeta><rdf:RDF><rdf:Description>'
           b'<dc:title><rdf:Alt><rdf:li xml:lang="x-default">X &amp; Y</rdf:li>'
           b'</rdf:Alt></dc:title>'
           b'<dc:creator><rdf:Seq><rdf:li>C1</rdf:li></rdf:Seq></dc:creator>'
           b'</rdf:Description></rdf:RDF></x:xmpmeta>')

    def hook(b: PdfBuilder) -> bytes:
        md = b.stream(xmp, extra_dict=b"/Type/Metadata/Subtype/XML",
                      filters="FlateDecode")
        return b"/Metadata " + str(md).encode() + b" 0 R"

    m = extract_pdf_meta(Resolver(_doc_with(builder_hook=hook)))
    assert m["title"] == "X & Y"
    assert m["author"] == "C1"
    # /Info wins over XMP when present; XMP fills only the missing slots
    pdf = _doc_with(b"<</Title(InfoTitle)>>", builder_hook=hook)
    m2 = extract_pdf_meta(Resolver(pdf))
    assert m2["title"] == "InfoTitle"
    assert m2["author"] == "C1"  # missing in /Info -> XMP fills


# --- link annotations ----------------------------------------------------------

def test_corpus_info_annots_variant():
    pdf = _info_annots_doc(["one line of text"])
    r = Resolver(pdf)
    m = extract_pdf_meta(r)
    assert m["title"] == "Título — 例"
    assert m["author"] == "J. Author ﬁﬂ"
    assert m["created"] == "2024-01-15T10:30:00+00:00"
    assert extract_pdf_links(r) == [
        "https://example.com/next",
        "https://example.com/refs",
    ]


def test_info_annots_text_roundtrip_unperturbed():
    from pdf_spark.core.extract import assemble_text, extract_document

    idx = next(
        i for i in range(N_VARIANTS)
        if generate_doc("x", i)[2] == "info_annots"
    )
    pdf, expected, _, _ = generate_doc(
        "metadata must never perturb the extracted text bytes", idx
    )
    r = extract_document(pdf)
    assert r.ok and assemble_text(r.spans) == expected


def test_links_skip_malformed_entries():
    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]))
    good = b.add(b"<</Subtype/Link/A<</S/URI/URI(https://ok)>>>>")
    no_a = b.add(b"<</Subtype/Link>>")
    goto = b.add(b"<</Subtype/Link/A<</S/GoTo/D[1 0 R]>>>>")  # non-URI action
    num = b.add(b"42")  # not even a dict
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(page, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
          b"/MediaBox[0 0 612 792]"
          b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
          b"/Contents " + str(cont).encode() + b" 0 R"
          b"/Annots[" + b" ".join(
              str(a).encode() + b" 0 R" for a in (good, no_a, goto, num)
          ) + b"]>>")
    assert extract_pdf_links(Resolver(b.build(cat))) == ["https://ok"]


# --- HTML head metadata ---------------------------------------------------------

def test_html_meta_basic():
    page = (b'<!doctype html><html lang="en-US"><head>'
            b"<title> Hello &amp; Welcome </title>"
            b'<meta name="description" content="A test page">'
            b'<meta property="og:title" content="OG Hello">'
            b'<meta property="og:description" content="OG Desc">'
            b'<link rel="canonical" href="https://ex.com/p">'
            b"</head><body></body></html>")
    m = extract_html_meta(page)
    assert m == {
        "title": "Hello & Welcome", "description": "A test page",
        "og_title": "OG Hello", "og_description": "OG Desc",
        "canonical": "https://ex.com/p", "lang": "en-US",
        "robots": None, "base": None,
    }


def test_html_meta_robots_union_across_tags():
    # directives UNION across tags (most-restrictive-wins combination),
    # unlike the first-wins display fields; name match is case-blind
    page = (b"<html><head>"
            b'<meta name="robots" content="noindex">'
            b'<meta name="ROBOTS" content="nofollow, noarchive">'
            b"</head></html>")
    m = extract_html_meta(page)
    assert m["robots"] == "noindex,nofollow, noarchive"


def test_html_meta_robots_single_and_absent():
    assert extract_html_meta(
        b'<html><meta name=robots content="noindex, nofollow"></html>'
    )["robots"] == "noindex, nofollow"
    assert extract_html_meta(b"<html><body>x</body></html>")["robots"] is None


def test_html_meta_first_wins_and_rawtext_immune():
    page = (b"<html lang=de><head><title>First</title>"
            b"<script>document.title='<title>fake</title>';</script>"
            b"</head><body><title>Second</title>"
            b'<html lang="fr"></html>')
    m = extract_html_meta(page)
    assert m["title"] == "First"
    assert m["lang"] == "de"


def test_html_meta_attr_quoting_variants():
    page = (b"<html><head>"
            b"<meta content='single quoted' name=description>"
            b"<link href=https://c.example rel=canonical>"
            b"</head></html>")
    m = extract_html_meta(page)
    assert m["description"] == "single quoted"
    assert m["canonical"] == "https://c.example"


def test_html_meta_rel_list_and_empty():
    m = extract_html_meta(b'<html><link rel="alternate canonical" href="/x"></html>')
    assert m["canonical"] == "/x"
    m = extract_html_meta(b"<html><body>nothing</body></html>")
    assert all(v is None for v in m.values())


def test_html_meta_never_raises_on_garbage():
    for junk in (b"", b"<", b"<html", b"\xff\xfe\x00\x01" * 50,
                 b"<html><title>" + b"a" * 10000):
        m = extract_html_meta(junk)
        assert isinstance(m, dict)


def test_fuzz_meta_never_raises():
    import random

    from pdf_spark.core.errors import PdfError

    rng = random.Random(31338)
    base = _info_annots_doc(["some text to mutate around"])
    for _ in range(250):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        data = bytes(buf)
        try:
            r = Resolver(data)
        except PdfError:
            continue  # structural failure is the error-row path, fine
        m1 = extract_pdf_meta(r)
        l1 = extract_pdf_links(r)
        r2 = Resolver(data)
        assert extract_pdf_meta(r2) == m1 and extract_pdf_links(r2) == l1


def test_fuzz_html_meta_never_raises():
    import random

    rng = random.Random(555)
    base = (b'<!doctype html><html lang="en"><head><title>T</title>'
            b'<meta name="description" content="d">'
            b'<link rel="canonical" href="/c"></head><body>x</body></html>')
    for _ in range(300):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 10)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        m = extract_html_meta(bytes(buf))
        assert isinstance(m, dict)


# --- outline (bookmarks) ---------------------------------------------------------

def _outline_doc(cycle: bool = False) -> bytes:
    """Catalog /Outlines with two top-level items, the first having one
    child; optional /Next cycle between the top-level items."""
    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]))
    outlines = b.reserve()
    i1 = b.reserve()
    i2 = b.reserve()
    c1 = b.reserve()
    r = lambda n: str(n).encode() + b" 0 R"
    b.set(outlines, b"<</Type/Outlines/First " + r(i1) + b"/Last " + r(i2) + b">>")
    nxt2 = b"/Next " + r(i1) if cycle else b""
    b.set(i1, b"<</Title(Chapter 1)/Parent " + r(outlines)
          + b"/First " + r(c1) + b"/Last " + r(c1) + b"/Next " + r(i2) + b">>")
    b.set(i2, b"<</Title(" + _escb(b"\xfe\xff" + "Chapitre 2 \u00e9".encode("utf-16-be"))
          + b")/Parent " + r(outlines) + nxt2 + b">>")
    b.set(c1, b"<</Title(Section 1.1)/Parent " + r(i1) + b">>")
    b.set(cat, b"<</Type/Catalog/Pages " + r(pages) + b"/Outlines " + r(outlines) + b">>")
    b.set(pages, b"<</Type/Pages/Kids[" + r(page) + b"]/Count 1>>")
    b.set(page, b"<</Type/Page/Parent " + r(pages)
          + b"/MediaBox[0 0 612 792]"
          b"/Resources<</Font<</F1 " + r(font) + b">>>>"
          b"/Contents " + r(cont) + b">>")
    return b.build(cat)


def test_outline_order_and_levels():
    from pdf_spark.core.meta import extract_pdf_outline

    got = extract_pdf_outline(Resolver(_outline_doc()))
    assert got == [
        (0, "Chapter 1"),
        (1, "Section 1.1"),
        (0, "Chapitre 2 \u00e9"),
    ]


def test_outline_cycle_bounded():
    from pdf_spark.core.meta import extract_pdf_outline

    got = extract_pdf_outline(Resolver(_outline_doc(cycle=True)))
    # the /Next cycle back to item 1 is cut by the visited set
    assert got == [
        (0, "Chapter 1"),
        (1, "Section 1.1"),
        (0, "Chapitre 2 \u00e9"),
    ]


def test_outline_absent_or_malformed():
    from pdf_spark.core.meta import extract_pdf_outline

    assert extract_pdf_outline(Resolver(_doc_with())) == []
    pdf = _doc_with(catalog_extra=b"/Outlines 42")
    assert extract_pdf_outline(Resolver(pdf)) == []


# --- AcroForm field extraction (§12.7) ------------------------------------------


def _acroform_resolver():
    from pdf_spark.core.document import Resolver
    from pdf_spark.gen.pdfgen import _GOOD_VARIANTS

    build = dict(_GOOD_VARIANTS)["acroform"]
    return Resolver(build(["form body text"]))


def test_form_fields_full_walk():
    from pdf_spark.core.meta import extract_form_fields

    rows = extract_form_fields(_acroform_resolver())
    assert rows == [
        ("name", "Tx", "Ada Lovelace"),          # widget kid not double-emitted
        ("title", "Tx", "Straße — 例"),          # UTF-16BE text string
        ("subscribed", "Btn", "Yes"),            # name value
        ("address.street", "Tx", "Main St 7"),   # qualified name, own /V
        ("address.city", "Tx", "Berlin"),        # qualified name, inherited /V
    ]


def test_form_fields_absent_and_malformed():
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_form_fields
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    def doc(acroform: bytes | None) -> bytes:
        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(F_HELV)
        cont = b.stream(_content_td_tj(["x"]), filters="FlateDecode")
        extra = b""
        if acroform is not None:
            extra = b"/AcroForm " + str(b.add(acroform)).encode() + b" 0 R"
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R" + extra + b">>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(page, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
                    b"/MediaBox[0 0 612 792]"
                    b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
                    b"/Contents " + str(cont).encode() + b" 0 R>>")
        return b.build(cat)

    assert extract_form_fields(Resolver(doc(None))) == []
    assert extract_form_fields(Resolver(doc(b"<</Fields 3>>"))) == []  # not an array
    assert extract_form_fields(Resolver(doc(b"<</Fields[null 7 (x)]>>"))) == []


def test_form_fields_kid_cycle_bounded():
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_form_fields
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]), filters="FlateDecode")
    # a field whose /Kids points back at itself (both carry /T: walked)
    f1 = b.reserve()
    b.set(f1, b"<</FT/Tx/T(loop)/Kids[" + str(f1).encode() + b" 0 R]>>")
    acro = b.add(b"<</Fields[" + str(f1).encode() + b" 0 R]>>")
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode()
               + b" 0 R/AcroForm " + str(acro).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(page, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
                b"/MediaBox[0 0 612 792]"
                b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
                b"/Contents " + str(cont).encode() + b" 0 R>>")
    rows = extract_form_fields(Resolver(b.build(cat)))
    assert rows == []  # cycle visits once, terminates, emits nothing twice


def test_image_inventory_dedup_and_form_depth():
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_image_inventory
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    p1 = b.reserve()
    p2 = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]), filters="FlateDecode")
    shared = b.stream(
        b"\x00",
        extra_dict=b"/Subtype/Image/Width 10/Height 20/BitsPerComponent 8",
    )
    # form -> form -> form -> image: beyond the depth-2 walk, not counted
    deep_img = b.stream(
        b"\x00", extra_dict=b"/Subtype/Image/Width 9/Height 9"
    )
    f3 = b.stream(b"", extra_dict=b"/Subtype/Form/BBox[0 0 1 1]"
                  b"/Resources<</XObject<</I " + str(deep_img).encode() + b" 0 R>>>>")
    f2 = b.stream(b"", extra_dict=b"/Subtype/Form/BBox[0 0 1 1]"
                  b"/Resources<</XObject<</F " + str(f3).encode() + b" 0 R>>>>")
    f1 = b.stream(b"", extra_dict=b"/Subtype/Form/BBox[0 0 1 1]"
                  b"/Resources<</XObject<</F " + str(f2).encode() + b" 0 R>>>>")

    def page(pid, parent):
        b.set(pid, b"<</Type/Page/Parent " + str(parent).encode() + b" 0 R"
              b"/MediaBox[0 0 612 792]"
              b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>"
              b"/XObject<</Im " + str(shared).encode() + b" 0 R"
              b"/Fm " + str(f1).encode() + b" 0 R>>>>"
              b"/Contents " + str(cont).encode() + b" 0 R>>")

    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(p1).encode() + b" 0 R "
          + str(p2).encode() + b" 0 R]/Count 2>>")
    page(p1, pages)
    page(p2, pages)
    rows = extract_image_inventory(Resolver(b.build(cat)))
    # shared image counted ONCE (visited set), deep image beyond depth cap
    assert rows == [(0, "Im", 10, 20, 8, None)]


def test_annotation_texts_markup_only():
    # /Text + /FreeText (UTF-16BE) + /Highlight emit; the /Popup mirror,
    # /Link alt text, and a Contents-less /Square do not (§12.5.6.2/.14)
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_annotation_texts
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj, _escb

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["body"]), filters="FlateDecode")
    pop = b.reserve()
    a1 = b.add(
        b"<</Type/Annot/Subtype/Text/Rect[0 0 9 9]/Contents(Fix the heading)"
        b"/Popup " + str(pop).encode() + b" 0 R>>"
    )
    b.set(
        pop,
        b"<</Type/Annot/Subtype/Popup/Rect[0 0 9 9]"
        b"/Contents(Fix the heading)>>",
    )
    u = b"\xfe\xff" + "Größe — ok".encode("utf-16-be")
    a2 = b.add(
        b"<</Type/Annot/Subtype/FreeText/Rect[0 0 9 9]/Contents("
        + _escb(u) + b")>>"
    )
    a3 = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]/Contents(alt)"
        b"/A<</S/URI/URI(http://x)>>>>"
    )
    a4 = b.add(b"<</Type/Annot/Subtype/Highlight/Rect[0 0 9 9]>>")
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(
        page,
        b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
        b"/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        b"/Contents " + str(cont).encode() + b" 0 R"
        b"/Annots[" + b" ".join(str(a).encode() + b" 0 R" for a in (a1, pop, a2, a3, a4))
        + b"]>>",
    )
    got = extract_annotation_texts(Resolver(b.build(cat)))
    assert got == [
        (0, "Text", "Fix the heading"),
        (0, "FreeText", "Größe — ok"),
    ]


def test_annotation_texts_never_raises_on_garbage():
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_annotation_texts
    from pdf_spark.gen.pdfgen import generate_doc

    # malformed docs (bad xref etc.) and docs without /Annots -> []
    pdf, _, _, _ = generate_doc("plain text", 0)
    assert extract_annotation_texts(Resolver(pdf)) == []


# --- embedded files (§7.11 + §7.7.4 name tree) -------------------------------

def _doc_with_attachments():
    import zlib

    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj, _escb

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["body"]), filters="FlateDecode")

    # leaf 1: CSV, Flate-encoded, declared /Size WRONG on purpose (7 vs 12),
    # MIME with a #2F escape in the Name
    csv_payload = b"id,value\n1,1"
    ef1 = b.add(
        b"<</Length " + str(len(zlib.compress(csv_payload))).encode()
        + b"/Filter/FlateDecode/Subtype/text#2Fcsv/Params<</Size 7>>"
        b">>\nstream\n" + zlib.compress(csv_payload) + b"\nendstream"
    )
    spec1 = b.add(
        b"<</Type/Filespec/F(data.csv)/EF<</F " + str(ef1).encode() + b" 0 R>>>>"
    )
    # leaf 2: raw stream, /UF preferred over /F, UTF-16BE /Desc
    ef2 = b.add(
        b"<</Length 9/Subtype/text#2Fplain/Params<</Size 9>>"
        b">>\nstream\nreadme ok\nendstream"
    )
    desc = b"\xfe\xff" + "Liesmich — hier".encode("utf-16-be")
    spec2 = b.add(
        b"<</Type/Filespec/F(legacy83.txt)/UF(r\xe9adme.txt)/Desc("
        + _escb(desc) + b")/EF<</UF " + str(ef2).encode() + b" 0 R>>>>"
    )
    # external reference: /F but no /EF -> must NOT emit
    spec_ext = b.add(b"<</Type/Filespec/F(on-disk-only.bin)>>")
    # attachment annot with its own filespec
    ef3 = b.add(
        b"<</Length 6/Subtype/application#2Foctet-stream"
        b">>\nstream\nblob!!\nendstream"
    )
    spec3 = b.add(
        b"<</Type/Filespec/F(note.bin)/EF<</F " + str(ef3).encode() + b" 0 R>>>>"
    )
    annot = b.add(
        b"<</Type/Annot/Subtype/FileAttachment/Rect[0 0 9 9]/FS "
        + str(spec3).encode() + b" 0 R>>"
    )
    # name tree: root -> two kids (tree order: kid1 then kid2)
    kid1 = b.add(
        b"<</Limits[(a)(m)]/Names[(data.csv) " + str(spec1).encode() + b" 0 R]>>"
    )
    kid2 = b.add(
        b"<</Limits[(n)(z)]/Names[(readme) " + str(spec2).encode()
        + b" 0 R (x-ext) " + str(spec_ext).encode() + b" 0 R]>>"
    )
    root = b.add(
        b"<</Kids[" + str(kid1).encode() + b" 0 R " + str(kid2).encode()
        + b" 0 R]>>"
    )
    b.set(
        cat,
        b"<</Type/Catalog/Pages " + str(pages).encode()
        + b" 0 R/Names<</EmbeddedFiles " + str(root).encode() + b" 0 R>>>>",
    )
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(
        page,
        b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
        b"/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        b"/Contents " + str(cont).encode() + b" 0 R"
        b"/Annots[" + str(annot).encode() + b" 0 R]>>",
    )
    return b, cat, spec3


def test_embedded_files_name_tree_and_annot():
    import hashlib

    from pdf_spark.core.meta import extract_embedded_files

    b, cat, _ = _doc_with_attachments()
    got = extract_embedded_files(Resolver(b.build(cat)))
    assert got == [
        # declared size 7 is the producer's lie; actual decoded is 12
        ("names", "data.csv", None, "text/csv", 7, 12,
         hashlib.md5(b"id,value\n1,1").hexdigest()),
        # /UF beats /F; PDFDoc-encoded name, UTF-16BE desc
        ("names", "réadme.txt", "Liesmich — hier", "text/plain", 9, 9,
         hashlib.md5(b"readme ok").hexdigest()),
        # the external no-/EF filespec is skipped entirely
        ("annot", "note.bin", None, "application/octet-stream", None, 6,
         hashlib.md5(b"blob!!").hexdigest()),
    ]


def test_embedded_files_dedup_across_channels_and_cycles():
    from pdf_spark.core.meta import extract_embedded_files
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    ef = b.add(b"<</Length 4>>\nstream\nSAME\nendstream")
    spec = b.add(
        b"<</Type/Filespec/F(dup.txt)/EF<</F " + str(ef).encode() + b" 0 R>>>>"
    )
    # a self-cyclic name-tree node that also lists the spec
    node = b.reserve()
    b.set(
        node,
        b"<</Kids[" + str(node).encode() + b" 0 R]"
        b"/Names[(dup) " + str(spec).encode() + b" 0 R]>>",
    )
    annot = b.add(
        b"<</Type/Annot/Subtype/FileAttachment/Rect[0 0 9 9]/FS "
        + str(spec).encode() + b" 0 R>>"
    )
    b.set(
        cat,
        b"<</Type/Catalog/Pages " + str(pages).encode()
        + b" 0 R/Names<</EmbeddedFiles " + str(node).encode() + b" 0 R>>>>",
    )
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(
        page,
        b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
        b"/MediaBox[0 0 612 792]"
        b"/Annots[" + str(annot).encode() + b" 0 R]>>",
    )
    got = extract_embedded_files(Resolver(b.build(cat)))
    # cycle bounded; the SAME filespec reached via tree AND annot emits once
    assert [(r[0], r[1], r[5]) for r in got] == [("names", "dup.txt", 4)]


def test_embedded_files_never_raises_on_garbage():
    from pdf_spark.core.meta import extract_embedded_files
    from pdf_spark.gen.pdfgen import generate_doc

    pdf, _, _, _ = generate_doc("plain text", 0)
    assert extract_embedded_files(Resolver(pdf)) == []
    for cut in (40, 120, 400):
        try:
            assert extract_embedded_files(Resolver(pdf[:cut])) == []
        except Exception as exc:  # Resolver itself may reject the stub
            from pdf_spark.core.errors import PdfError

            assert isinstance(exc, PdfError)


# --- internal destinations (§12.3.2 GoTo/Dest + named dests) -----------------

def _doc_with_internal_links(legacy_dests: bool = False):
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    p1, p2, p3 = b.reserve(), b.reserve(), b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]), filters="FlateDecode")
    # explicit-array /Dest to page 3
    a_dest = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]/Dest["
        + str(p3).encode() + b" 0 R/XYZ 0 792 0]>>"
    )
    # /GoTo action with a NAMED byte-string destination -> page 2 via tree,
    # value wrapped in <</D [...]>> (the PDF-1.2 shape)
    wrapped = b.add(b"<</D[" + str(p2).encode() + b" 0 R/Fit]>>")
    a_goto = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
        b"/A<</S/GoTo/D(sec.two)>>>>"
    )
    # named dest that dangles (no such entry) -> row with page_to NULL
    a_broken = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
        b"/A<</S/GoTo/D(no.such)>>>>"
    )
    # GoToR (remote) and URI links must NOT emit here
    a_remote = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
        b"/A<</S/GoToR/F(other.pdf)/D[0/Fit]>>>>"
    )
    a_uri = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
        b"/A<</S/URI/URI(https://x)>>>>"
    )
    if legacy_dests:
        extra = b"/Dests<</sec#2Etwo " + str(wrapped).encode() + b" 0 R>>"
    else:
        leaf = b.add(
            b"<</Names[(sec.two) " + str(wrapped).encode() + b" 0 R]>>"
        )
        extra = b"/Names<</Dests " + str(leaf).encode() + b" 0 R>>"
    b.set(
        cat,
        b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R"
        + extra
        + b">>",
    )
    b.set(
        pages,
        b"<</Type/Pages/Kids[" + str(p1).encode() + b" 0 R "
        + str(p2).encode() + b" 0 R " + str(p3).encode()
        + b" 0 R]/Count 3>>",
    )
    common = (
        b" 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        b"/Contents " + str(cont).encode() + b" 0 R"
    )
    b.set(
        p1,
        b"<</Type/Page/Parent " + str(pages).encode() + common
        + b"/Annots["
        + b" ".join(
            str(a).encode() + b" 0 R"
            for a in (a_dest, a_goto, a_broken, a_remote, a_uri)
        )
        + b"]>>",
    )
    b.set(p2, b"<</Type/Page/Parent " + str(pages).encode() + common + b">>")
    b.set(p3, b"<</Type/Page/Parent " + str(pages).encode() + common + b">>")
    return b.build(cat)


def test_internal_links_dest_goto_named_broken():
    from pdf_spark.core.meta import extract_internal_links

    got = extract_internal_links(Resolver(_doc_with_internal_links()))
    assert got == [
        (0, "Dest", None, 2, "XYZ"),
        (0, "GoTo", "sec.two", 1, "Fit"),
        (0, "GoTo", "no.such", None, None),
    ]


def test_internal_links_bytearray_tree_key(monkeypatch):
    # a name-tree key handed over as a (mutable, unhashable) bytearray
    # must still register its named destination
    from pdf_spark.core import meta

    walk = meta.walk_name_tree

    def walk_bytearray_keys(resolver, root_ref, visit, *args, **kwargs):
        def visit_bytearray(key, value_ref):
            visit(None if key is None else bytearray(key), value_ref)

        walk(resolver, root_ref, visit_bytearray, *args, **kwargs)

    monkeypatch.setattr(meta, "walk_name_tree", walk_bytearray_keys)
    got = meta.extract_internal_links(Resolver(_doc_with_internal_links()))
    assert (0, "GoTo", "sec.two", 1, "Fit") in got


def test_internal_links_legacy_dests_dict():
    from pdf_spark.core.meta import extract_internal_links

    got = extract_internal_links(
        Resolver(_doc_with_internal_links(legacy_dests=True))
    )
    assert (0, "GoTo", "sec.two", 1, "Fit") in got


def test_internal_links_never_raises_on_garbage():
    from pdf_spark.core.meta import extract_internal_links
    from pdf_spark.gen.pdfgen import generate_doc

    pdf, _, _, _ = generate_doc("plain", 0)
    assert extract_internal_links(Resolver(pdf)) == []


# --- page labels (§12.4.2) ----------------------------------------------------

def _doc_with_page_labels(nums_body: bytes, n_pages: int = 5):
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    kids = [b.reserve() for _ in range(n_pages)]
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]), filters="FlateDecode")
    extra = b""
    if nums_body:
        labels = b.add(nums_body)
        extra = b"/PageLabels " + str(labels).encode() + b" 0 R"
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R"
          + extra + b">>")
    b.set(
        pages,
        b"<</Type/Pages/Kids["
        + b" ".join(str(k).encode() + b" 0 R" for k in kids)
        + b"]/Count " + str(n_pages).encode() + b">>",
    )
    for k in kids:
        b.set(
            k,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
    return b.build(cat)


def test_page_labels_styles_prefixes_starts():
    from pdf_spark.core.meta import extract_page_labels

    pdf = _doc_with_page_labels(
        b"<</Nums[0<</S/r>> 2<</S/D/P(p-)/St 10>> 4<</P(App )>>]>>"
    )
    assert extract_page_labels(Resolver(pdf)) == [
        (0, "i"), (1, "ii"), (2, "p-10"), (3, "p-11"), (4, "App "),
    ]


def test_page_labels_fallback_and_missing_range_zero():
    from pdf_spark.core.meta import extract_page_labels

    # no /PageLabels at all -> viewer-default 1-based decimal
    assert extract_page_labels(Resolver(_doc_with_page_labels(b""))) == [
        (0, "1"), (1, "2"), (2, "3"), (3, "4"), (4, "5"),
    ]
    # malformed: first range starts at 2 -> pages 0-1 fall back
    pdf = _doc_with_page_labels(b"<</Nums[2<</S/A>>]>>")
    assert extract_page_labels(Resolver(pdf)) == [
        (0, "1"), (1, "2"), (2, "A"), (3, "B"), (4, "C"),
    ]


def test_page_labels_roman_letters_helpers():
    from pdf_spark.core.meta import _letters, _roman

    assert [_roman(n) for n in (1, 4, 9, 14, 40, 90, 400, 1990)] == [
        "i", "iv", "ix", "xiv", "xl", "xc", "cd", "mcmxc",
    ]
    assert [_letters(n) for n in (1, 26, 27, 52, 53)] == [
        "a", "z", "aa", "zz", "aaa",
    ]


# --- document profile (§14.9.2 /Lang + triage booleans) ----------------------

def test_doc_profile_full():
    from pdf_spark.core.meta import extract_doc_profile
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    p1, p2 = b.reserve(), b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]), filters="FlateDecode")
    leaf = b.add(b"<</Names[]>>")
    acro = b.add(b"<</Fields[]>>")
    outline = b.add(b"<</Type/Outlines/Count 0>>")
    labels = b.add(b"<</Nums[0<</S/D>>]>>")
    b.set(
        cat,
        b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R"
        b"/Lang(de-DE)/Version/2.0/MarkInfo<</Marked true>>"
        b"/AcroForm " + str(acro).encode() + b" 0 R"
        b"/Outlines " + str(outline).encode() + b" 0 R"
        b"/PageLabels " + str(labels).encode() + b" 0 R"
        b"/Names<</EmbeddedFiles " + str(leaf).encode() + b" 0 R>>>>",
    )
    b.set(pages, b"<</Type/Pages/Kids[" + str(p1).encode() + b" 0 R "
          + str(p2).encode() + b" 0 R]/Count 2>>")
    for p in (p1, p2):
        b.set(p, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
              b"/MediaBox[0 0 612 792]"
              b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
              b"/Contents " + str(cont).encode() + b" 0 R>>")
    got = extract_doc_profile(Resolver(b.build(cat)))
    assert got == {
        "lang": "de-DE", "version": "2.0", "page_count": 2,
        "tagged": True, "encrypted": False, "has_acroform": True,
        "has_outline": True, "has_attachments": True,
        "has_page_labels": True, "file_id": None, "id_unchanged": None,
    }


def test_doc_profile_defaults_and_older_version_ignored():
    from pdf_spark.core.meta import extract_doc_profile
    from pdf_spark.gen.pdfgen import generate_doc

    pdf, _, _, _ = generate_doc("plain", 0)
    got = extract_doc_profile(Resolver(pdf))
    assert got["version"] == "1.7" and got["page_count"] == 1
    assert got["lang"] is None and not got["tagged"]
    # catalog /Version OLDER than the header is ignored (§7.7.2)
    pdf2 = pdf.replace(b"/Type/Catalog", b"/Type/Catalog/Version/1.4", 1)
    # xref offsets shift -> scavenge may kick in; profile must not raise
    got2 = extract_doc_profile(Resolver(pdf2))
    assert got2["version"] == "1.7"


def test_doc_profile_encrypted_variant():
    from pdf_spark.core.meta import extract_doc_profile
    from pdf_spark.gen.pdfgen import N_VARIANTS, generate_doc

    idx = next(
        (i for i in range(N_VARIANTS)
         if "encrypted" in generate_doc("x", i)[2]), None
    )
    assert idx is not None
    pdf, _, name, _ = generate_doc("secret body", idx)
    got = extract_doc_profile(Resolver(pdf))
    assert got["encrypted"] is True, name


# --- digital-signature & revision forensics (E122, §12.8) --------------------


def _signed_doc(byte_range=None, extra_field=b"", tail=b""):
    """One signed Sig field; byte_range None -> patch the real [0 a b c]."""
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    placeholder = b"/ByteRange[0 0000000000 0000000000 0000000000]"
    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["signed"]), filters="FlateDecode")
    sig = b.add(
        b"<</Type/Sig/Filter/Adobe.PPKLite/SubFilter/adbe.pkcs7.detached"
        b"/Name(Alice)/M(D:20260101120000Z)/Reason(approval)"
        + (placeholder if byte_range is None else byte_range)
        + b"/Contents<" + b"00" * 16 + b">>>"
    )
    fld = b.add(
        b"<</FT/Sig/T(Sig1)/V " + str(sig).encode() + b" 0 R"
        b"/Type/Annot/Subtype/Widget/Rect[0 0 0 0]>>"
    )
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode()
          + b" 0 R/AcroForm<</SigFlags 3/Fields[" + str(fld).encode()
          + b" 0 R" + extra_field + b"]>>>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode()
          + b" 0 R]/Count 1>>")
    b.set(page, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
          b"/MediaBox[0 0 612 792]"
          b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
          b"/Contents " + str(cont).encode() + b" 0 R>>")
    raw = b.build(cat)
    if byte_range is None:
        a = raw.index(b"/Contents<") + len(b"/Contents")
        e = raw.index(b">", a) + 1
        br = b"/ByteRange[0 %010d %010d %010d]" % (a, e, len(raw) - e)
        raw = raw.replace(placeholder, br, 1)
    return raw + tail


def test_signature_whole_file_and_revisions():
    from pdf_spark.core.meta import count_revisions, extract_signatures

    raw = _signed_doc()
    rows = extract_signatures(Resolver(raw))
    assert rows == [
        ("Sig1", "adbe.pkcs7.detached", "Alice",
         "2026-01-01T12:00:00+00:00", "approval", True, 1)
    ]
    assert count_revisions(raw) == 1

    # bytes appended after signing -> no longer covers EOF
    rows2 = extract_signatures(Resolver(_signed_doc(tail=b"\n% junk\n")))
    assert rows2[0][5] is False and rows2[0][6] == 1

    # a post-signing incremental update adds a revision
    upd = b"\nxref\n0 0\ntrailer\n<<>>\nstartxref\n0\n%%EOF\n"
    rows3 = extract_signatures(Resolver(_signed_doc(tail=upd)))
    assert rows3[0][5] is False and rows3[0][6] == 2
    assert count_revisions(b"%%EOF" * 1000) == 64  # bounded


def test_signature_malformed_range_and_placeholder_skipped():
    from pdf_spark.core.meta import extract_signatures

    # malformed ByteRange shapes are whole_file False, never fatal
    for br in (b"/ByteRange[0 1 2]",              # wrong arity
               b"/ByteRange[1 2 3 4]",            # doesn't start at 0
               b"/ByteRange[0 (a) 3 4]",          # non-integer
               b"/ByteRange[0 99 3 4]"):          # hole inverted
        rows = extract_signatures(Resolver(_signed_doc(byte_range=br)))
        assert len(rows) == 1 and rows[0][5] is False, br

    # an unsigned placeholder field (no /V) emits nothing
    from pdf_spark.gen.pdfgen import PdfBuilder

    raw = _signed_doc()
    # second field without /V, appended into /Fields via extra_field:
    # build a fresh doc whose only field has no /V
    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    fld = b.add(b"<</FT/Sig/T(Empty)>>")
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode()
          + b" 0 R/AcroForm<</Fields[" + str(fld).encode() + b" 0 R]>>>>")
    b.set(pages, b"<</Type/Pages/Kids[]/Count 0>>")
    assert extract_signatures(Resolver(b.build(cat))) == []
    assert len(extract_signatures(Resolver(raw))) == 1


def test_signature_field_tree_dotted_name_and_garbage():
    from pdf_spark.core.meta import extract_signatures
    from pdf_spark.gen.pdfgen import PdfBuilder

    # signature as a CHILD field: dotted name parent.child (§12.7.4.2)
    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    sig = b.add(b"<</Type/Sig/SubFilter/ETSI.CAdES.detached"
                b"/ByteRange[0 10 20 30]>>")
    child = b.add(b"<</FT/Sig/T(child)/V " + str(sig).encode() + b" 0 R>>")
    parent = b.add(b"<</T(grp)/Kids[" + str(child).encode() + b" 0 R]>>")
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode()
          + b" 0 R/AcroForm<</Fields[" + str(parent).encode() + b" 0 R]>>>>")
    b.set(pages, b"<</Type/Pages/Kids[]/Count 0>>")
    rows = extract_signatures(Resolver(b.build(cat)))
    assert len(rows) == 1
    assert rows[0][0] == "grp.child"
    assert rows[0][1] == "ETSI.CAdES.detached"
    assert rows[0][2] is None and rows[0][3] is None

    # garbage never raises
    for junk in (b"", b"%PDF-1.7\nnot a pdf", _signed_doc()[:200]):
        try:
            r = Resolver(junk)
        except Exception:
            continue
        assert extract_signatures(r) == []


class TestFileId:
    def _doc(self, trailer_extra=b""):
        from pdf_spark.core.document import Resolver
        from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(F_HELV)
        cont = b.stream(_content_td_tj(["x"]))
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode()
              + b" 0 R]/Count 1>>")
        b.set(page, b"<</Type/Page/Parent " + str(pages).encode()
              + b" 0 R/MediaBox[0 0 612 792]/Resources<</Font<</F1 "
              + str(font).encode() + b" 0 R>>>>/Contents "
              + str(cont).encode() + b" 0 R>>")
        return Resolver(b.build(cat, trailer_extra=trailer_extra))

    def test_id_unchanged_pair(self):
        from pdf_spark.core.meta import extract_doc_profile

        prof = extract_doc_profile(
            self._doc(b"/ID[<0102030405060708090a0b0c0d0e0f10>"
                      b"<0102030405060708090a0b0c0d0e0f10>]")
        )
        assert prof["file_id"] == "0102030405060708090a0b0c0d0e0f10"
        assert prof["id_unchanged"] is True

    def test_id_changed_pair(self):
        from pdf_spark.core.meta import extract_doc_profile

        prof = extract_doc_profile(
            self._doc(b"/ID[<01><02>]")
        )
        assert prof["file_id"] == "01"
        assert prof["id_unchanged"] is False

    def test_id_absent_or_malformed(self):
        from pdf_spark.core.meta import extract_doc_profile

        assert extract_doc_profile(self._doc())["file_id"] is None
        assert extract_doc_profile(self._doc())["id_unchanged"] is None
        # one-element array and non-string halves are rejected shapes
        assert extract_doc_profile(self._doc(b"/ID[<01>]"))["file_id"] is None
        assert extract_doc_profile(
            self._doc(b"/ID[3 4]")
        )["file_id"] is None
