"""Seeded corpora for the benchmark workloads.

Every corpus is a pure function of ``(workload, seed)`` and of the
generator sources, and is written once to a cache directory keyed by all
three. The program under test receives only ``pages/`` (parquet with
``url`` and ``html``); the expected ``(status, error_code, text)`` of every
row lives in ``expected.parquet`` and is read back by the benchmark alone.

Layout of one cache entry::

    pages/     the timed input, PAGE_FILES parquet files
    warmup/    disjoint warm-up slice, WARMUP_FILES files
    expected.parquet
    meta.json  doc count, payload bytes, generator key
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_spark.gen import htmlgen
from pdf_spark.gen.corpus import BAD_CADENCE
from pdf_spark.gen.pdfgen import N_BAD_VARIANTS, N_VARIANTS, PdfBuilder, esc, generate_doc

# Input files per corpus. Spark packs small files into about one split per
# core, so the extract and warm-up stages run one even wave on any core
# count up to 32.
PAGE_FILES = 32
WARMUP_FILES = 32

SMALL_DOCS = 12000
SMALL_WARMUP = 512  # every worker sees the whole variant cycle: font cache and lazy tables filled
HEAVY_DOCS = 160
# The executor font and CMap caches keep the first 256 entries a worker
# process sees and never evict. Every heavy warm-up doc selects more one-off
# fonts than that, one per line, so any worker that runs a warm-up doc has
# full caches: the timed heavy docs then run cache-cold, as a long-lived
# executor would on real subset fonts. The timed docs' fonts carry their
# own family name, so a cache probe can tell them apart.
HEAVY_WARMUP = 32
HEAVY_WARMUP_FONTS = 288
HEAVY_FONTS = 8
TIMED_FONT = "BenchSerif"
WARMUP_FONT = "BenchWarm"
HTML_CADENCE = 16  # one long HTML article per 16 heavy docs

WORDS = (
    "the of and to in is was for on that with as by at from this be are or "
    "it an which not have had were but their has its been they one all "
    "other more also new when can there these into some first would only "
    "after most two time may over such where through between both under "
    "while during system document page text stream font layer spark arrow "
    "extraction corpus record parse object table value index result model "
    "report measure engine column worker batch cluster storage network "
    "sample signal market policy region energy history science language "
    "research training reading output input scale memory process thread"
).split()

GEN_SOURCES = (
    os.path.abspath(__file__),
    *sorted(
        glob.glob(
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "pdf_spark", "gen", "*.py",
            )
        )
    ),
)


def generator_key() -> str:
    """Digest of every source file the corpus depends on."""
    h = hashlib.sha256()
    for path in GEN_SOURCES:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _line(rng: random.Random, width: int = 60) -> str:
    """Whole words up to ``width`` characters (at least one word)."""
    words = rng.choices(WORDS, k=width // 2)
    n = len(words[0])
    for k in range(1, len(words)):
        n += 1 + len(words[k])
        if n > width:
            return " ".join(words[:k])
    return " ".join(words)


def _url(kind: str, seed: int, i: int) -> str:
    return f"https://bench.example/{kind}/{seed}/{i:09d}.pdf"


# -- small_mixed --------------------------------------------------------------


def small_row(rng: random.Random, i: int) -> tuple[bytes, str, str, str | None]:
    """Row ``i`` of the generator cadence: good variant ``i % N_VARIANTS``,
    or a corrupt variant every BAD_CADENCE rows. Returns ``(payload, status,
    error_code, text)`` as the extractor must report them."""
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(60, 190)))
    if i % BAD_CADENCE == 13:
        variant = N_VARIANTS + (i // BAD_CADENCE) % N_BAD_VARIANTS
    else:
        variant = i % N_VARIANTS
    payload, expected, _name, err = generate_doc(text, variant)
    if err:
        return payload, "error", err, None
    return payload, "ok", "", expected


# -- heavy_multipage ----------------------------------------------------------

_CHARSET = sorted(set("".join(WORDS) + " "))


def _subset_font(
    b: PdfBuilder, rng: random.Random, family: str
) -> tuple[int, dict[str, str]]:
    """Type0/CIDFontType2 with a per-font random code assignment and
    subset tag, as real subset fonts are: its ToUnicode CMap is unique, so
    no two documents share a font-cache entry."""
    codes = rng.sample(range(1, 4 * len(_CHARSET)), len(_CHARSET))
    code_of = dict(zip(_CHARSET, codes))
    bf = b"".join(
        f"<{code:04x}> <{ord(c):04x}>\n".encode()
        for c, code in sorted(code_of.items(), key=lambda kv: kv[1])
    )
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo <</Registry(Adobe)/Ordering(UCS)/Supplement 0>> def\n"
        b"/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        + str(len(code_of)).encode() + b" beginbfchar\n" + bf + b"endbfchar\n"
        b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
    )
    tag = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(6))
    name = f"/{tag}+{family}".encode()
    tu = b.stream(cmap, filters="FlateDecode")
    desc = b.add(
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont" + name +
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/DW 500/CIDToGIDMap/Identity>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type0/BaseFont" + name + b"/Encoding/Identity-H"
        b"/DescendantFonts[" + str(desc).encode() + b" 0 R]"
        b"/ToUnicode " + str(tu).encode() + b" 0 R>>"
    )
    return font, {c: f"{code:04x}" for c, code in code_of.items()}


def _hex(hex_of: dict[str, str], s: str) -> bytes:
    return b"<" + "".join(map(hex_of.__getitem__, s)).encode() + b">"


def _page_content(
    rng: random.Random, header: str, lines: list[str],
    line_fonts: list[tuple[str, dict[str, str]]],
) -> bytes:
    """One text object: the Helvetica header, then each line in its
    ``(resource name, code map)`` font, with a ``Tf`` wherever it changes."""
    ops = [b"BT", b"/H 10 Tf", b"1 0 0 1 72 760 Tm", b"(" + esc(header) + b") Tj"]
    current = None
    for k, (line, (font, hex_of)) in enumerate(zip(lines, line_fonts)):
        if font != current:
            ops.append(b"/" + font.encode() + b" 12 Tf")
            current = font
        ops.append(b"1 0 0 1 72 " + str(700 - 16 * k).encode() + b" Tm")
        cut = line.find(" ", len(line) // 2)
        if rng.random() < 0.5 and cut > 0:
            # kerned TJ: two strings, same baseline, one span each
            ops.append(
                b"[" + _hex(hex_of, line[:cut]) + b" -20 "
                + _hex(hex_of, line[cut:]) + b"] TJ"
            )
        else:
            ops.append(_hex(hex_of, line) + b" Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def heavy_pdf(
    rng: random.Random, n_pages: int, n_fonts: int, layout: str,
    lines_per_page: int = 20, font_per_line: bool = False,
    family: str = TIMED_FONT, line_width: int = 60,
) -> tuple[bytes, str]:
    """A multi-page PDF: a two-level page tree with inherited MediaBox and
    Resources, one Flate content stream per page, ``n_fonts`` unique subset
    fonts plus Helvetica page headers. Page ``p`` sets its text in font
    ``p % n_fonts``, or with ``font_per_line`` each line in the next font.
    ``layout`` is ``classic``, ``xref_stream`` or ``objstm`` (non-stream
    objects packed into an object stream). Returns ``(pdf, expected_text)``."""
    b = PdfBuilder()
    cat = b.reserve()
    root = b.reserve()
    helv = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
    fonts = [_subset_font(b, rng, family) for _ in range(n_fonts)]
    expected: list[str] = []
    page_ids: list[int] = []
    parents: list[int] = []
    for p in range(n_pages):
        if p % 10 == 0:
            parents.append(b.reserve())
        header = f"Page {p + 1} of {n_pages} {rng.choice(WORDS)}"
        lines = [_line(rng, line_width) for _ in range(lines_per_page)]
        fids = [
            (p * lines_per_page + k) % n_fonts if font_per_line else p % n_fonts
            for k in range(lines_per_page)
        ]
        cont = b.stream(
            _page_content(rng, header, lines, [(f"F{f}", fonts[f][1]) for f in fids]),
            filters="FlateDecode",
        )
        page_ids.append(
            b.add(
                b"<</Type/Page/Parent " + str(parents[-1]).encode() + b" 0 R"
                b"/Contents " + str(cont).encode() + b" 0 R>>"
            )
        )
        expected.append(header)
        expected.extend(lines)
    for k, parent in enumerate(parents):
        kids = page_ids[10 * k : 10 * k + 10]
        b.set(
            parent,
            b"<</Type/Pages/Parent " + str(root).encode() + b" 0 R/Kids["
            + b" ".join(str(x).encode() + b" 0 R" for x in kids)
            + b"]/Count " + str(len(kids)).encode() + b">>",
        )
    font_res = b"/H " + str(helv).encode() + b" 0 R" + b"".join(
        f"/F{k} {fid} 0 R".encode() for k, (fid, _) in enumerate(fonts)
    )
    b.set(cat, b"<</Type/Catalog/Pages " + str(root).encode() + b" 0 R>>")
    b.set(
        root,
        b"<</Type/Pages/Kids["
        + b" ".join(str(x).encode() + b" 0 R" for x in parents)
        + b"]/Count " + str(n_pages).encode()
        + b"/MediaBox[0 0 612 792]/Resources<</Font<<" + font_res + b">>>>>>",
    )
    if layout == "classic":
        pdf = b.build(cat)
    else:
        pdf = _xref_stream_build(b.objects, cat, pack=layout == "objstm")
    return pdf, "\n".join(expected)


def _xref_stream_build(bodies: list[bytes], root: int, pack: bool) -> bytes:
    """Serialize with a ``/Type/XRef`` stream; with ``pack`` every
    non-stream object goes into one ``/Type/ObjStm``."""
    out = bytearray(b"%PDF-1.7\n%\xb5\xb6\n\n")
    n = len(bodies)
    stm_id, xref_id = n + 1, n + 2
    rows: list[tuple[int, int, int]] = [(0, 0, 65535)]
    packed: list[tuple[int, bytes]] = []
    for oid, body in enumerate(bodies, start=1):
        if pack and not body.endswith(b"endstream"):
            rows.append((2, stm_id, len(packed)))
            packed.append((oid, body))
        else:
            rows.append((1, len(out), 0))
            out += str(oid).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    if packed:
        head, data = [], bytearray()
        for oid, body in packed:
            head.append(f"{oid} {len(data)}")
            data += body + b"\n"
        header = (" ".join(head) + "\n").encode()
        enc = zlib.compress(header + bytes(data))
        rows.append((1, len(out), 0))
        out += (
            str(stm_id).encode() + b" 0 obj\n<</Type/ObjStm/N "
            + str(len(packed)).encode() + b"/First " + str(len(header)).encode()
            + b"/Filter/FlateDecode/Length " + str(len(enc)).encode()
            + b">>\nstream\n" + enc + b"\nendstream\nendobj\n"
        )
    else:
        rows.append((0, 0, 0))  # unused id n+1 keeps the numbering fixed
    rows.append((1, len(out), 0))
    table = b"".join(
        bytes([t]) + a.to_bytes(4, "big") + c.to_bytes(2, "big") for t, a, c in rows
    )
    enc = zlib.compress(table)
    xref_off = len(out)
    out += (
        str(xref_id).encode() + b" 0 obj\n<</Type/XRef/Size " + str(xref_id + 1).encode()
        + b"/W[1 4 2]/Root " + str(root).encode() + b" 0 R/Filter/FlateDecode"
        + b"/Length " + str(len(enc)).encode() + b">>\nstream\n" + enc
        + b"\nendstream\nendobj\nstartxref\n" + str(xref_off).encode() + b"\n%%EOF"
    )
    return bytes(out)


_LAYOUTS = ("classic", "xref_stream", "classic", "objstm")


def heavy_row(rng: random.Random, i: int) -> tuple[bytes, str, str, str]:
    """Heavy doc ``i``: 24..48 pages by a fixed cycle (so every seed has
    the same page mix), or a long HTML article every HTML_CADENCE rows."""
    if i % HTML_CADENCE == 5:
        lines = [_line(rng) for _ in range(400)]
        payload = htmlgen.html_article(lines)
        return payload, "ok", "", htmlgen.expected_for_variant("html_article", lines)
    n_pages = 24 + (7 * i) % 25
    pdf, text = heavy_pdf(rng, n_pages, HEAVY_FONTS, _LAYOUTS[i % len(_LAYOUTS)])
    return pdf, "ok", "", text


def heavy_warmup_row(rng: random.Random, i: int) -> tuple[bytes, str, str, str]:
    """Warm-up doc ``i``: 18 pages of 16 short lines, each line in the next
    of HEAVY_WARMUP_FONTS one-off fonts."""
    pdf, text = heavy_pdf(
        rng, 18, HEAVY_WARMUP_FONTS, _LAYOUTS[i % len(_LAYOUTS)],
        lines_per_page=16, font_per_line=True, family=WARMUP_FONT, line_width=24,
    )
    return pdf, "ok", "", text


# -- corpus files -------------------------------------------------------------


def _write(dir_path: str, urls: list[str], payloads: list[bytes], n_files: int) -> None:
    os.makedirs(dir_path)
    n = len(urls)
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(
            pa.table({
                "url": pa.array(urls[lo:hi], pa.string()),
                "html": pa.array(payloads[lo:hi], pa.binary()),
            }),
            os.path.join(dir_path, f"part-{k:05d}.parquet"),
        )


def _rows(kind: str, seed: int, row_fn, count: int, start: int = 0):
    rng = random.Random(f"{kind}:{seed}:{start}")
    return [(_url(kind, seed, i), *row_fn(rng, i)) for i in range(start, start + count)]


def build(workload: str, seed: int, cache_root: str) -> str:
    """Generate (or reuse) the corpus of ``workload`` for ``seed``; returns
    its cache directory."""
    key = f"{workload}-s{seed}-g{generator_key()}"
    out = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "heavy_multipage":
        rows = _rows("heavy", seed, heavy_row, HEAVY_DOCS)
        warm = _rows("heavy-warmup", seed, heavy_warmup_row, HEAVY_WARMUP)
    else:
        rows = _rows("small", seed, small_row, SMALL_DOCS)
        warm = _rows("small", seed, small_row, SMALL_WARMUP, start=SMALL_DOCS)
    _write(os.path.join(tmp, "pages"), [r[0] for r in rows], [r[1] for r in rows], PAGE_FILES)
    _write(os.path.join(tmp, "warmup"), [r[0] for r in warm], [r[1] for r in warm], WARMUP_FILES)
    everything = rows + warm
    pq.write_table(
        pa.table({
            "url": [r[0] for r in everything],
            "status": [r[2] for r in everything],
            "error_code": [r[3] for r in everything],
            "text": pa.array([r[4] for r in everything], pa.string()),
        }),
        os.path.join(tmp, "expected.parquet"),
    )
    meta = {
        "workload": workload,
        "seed": seed,
        "generator": generator_key(),
        "docs": len(rows),
        "payload_bytes": sum(len(r[1]) for r in rows),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)
    _prune(cache_root, workload, keep=out)
    return out


def _prune(cache_root: str, workload: str, keep: str, max_entries: int = 4) -> None:
    """Bound the cache: keep the newest ``max_entries`` corpora per workload."""
    entries = sorted(
        (p for p in glob.glob(os.path.join(cache_root, f"{workload}-s*")) if p != keep),
        key=os.path.getmtime,
    )
    for p in entries[: max(0, len(entries) - (max_entries - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def load_expected(corpus_dir: str) -> dict[str, tuple[str, str, str | None]]:
    t = pq.read_table(os.path.join(corpus_dir, "expected.parquet")).to_pydict()
    return {
        u: (s, c, x)
        for u, s, c, x in zip(t["url"], t["status"], t["error_code"], t["text"])
    }


def load_meta(corpus_dir: str) -> dict:
    with open(os.path.join(corpus_dir, "meta.json")) as f:
        return json.load(f)


def read_payloads(dir_path: str) -> list[tuple[str, bytes]]:
    """All ``(url, html)`` rows of one corpus directory, in file order."""
    t = pq.read_table(dir_path, columns=["url", "html"]).to_pydict()
    return list(zip(t["url"], t["html"]))
