"""Per-document extraction: bytes -> spans -> deterministic text.

This is the pure function the Spark ``mapInArrow`` stage applies per row
(SURVEY.md §3 EP1: everything from ``pdf_resolver_new`` through the content
interpreter stays inside the UDF; only flat span/text columns cross the
Arrow boundary).

Any ``PdfError`` becomes an error-code result — never an exception out of
this module (north rule: bad documents are rows, not task failures).

Text assembly rule (deterministic, the generator computes the same):
sort spans by ``(page asc, y desc, x asc, glyph_order asc)``; spans on the
same (page, y) concatenate directly; a change of y or page starts a new
line ("\\n"). Exact float equality on y is deterministic because every
executor runs the same IEEE-754 ops on the same bytes (SURVEY.md §7.3).
"""

from __future__ import annotations

from typing import Optional

from pdf_spark.core.document import Resolver
from pdf_spark.core.errors import (
    DOC_TOO_LARGE,
    EMPTY_DOC,
    FILTER_ERROR,
    INTERNAL_ERROR,
    PdfError,
)
from pdf_spark.core.htmltext import html_spans, looks_like_html
from pdf_spark.core.interp import IDENTITY, Interpreter, Span, translate

DEFAULT_MAX_BYTES = 512 * 1024 * 1024  # per-doc byte cap (skew guard)


class ExtractResult:
    __slots__ = ("status", "error_code", "spans", "n_pages")

    def __init__(self, status: str, error_code: str, spans: list[Span], n_pages: int):
        self.status = status
        self.error_code = error_code
        self.spans = spans
        self.n_pages = n_pages

    @property
    def ok(self) -> bool:
        return self.status == "ok"


def gunzip_payload(data: bytes, max_bytes: int):
    """Bounded gzip-transport decode (Content-Encoding: gzip bodies are
    routinely stored raw in crawl archives). Returns the decompressed
    bytes, or None if the stream is corrupt, truncated, or expands past
    ``max_bytes`` (decompression-bomb guard: zlib is fed a hard
    ``max_length`` so a bomb costs at most max_bytes of output, never
    unbounded memory)."""
    import zlib

    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    try:
        out = d.decompress(data, max_bytes + 1)
    except zlib.error:
        return None
    if len(out) > max_bytes or not d.eof:
        return None
    return out


def payload_kind(data: bytes, max_bytes: int = DEFAULT_MAX_BYTES) -> str:
    """Routing decision as a pure function: 'html' or 'pdf' (the error
    tiers fall under 'pdf', whose parser owns the error taxonomy)."""
    if data[:2] == b"\x1f\x8b":
        inner = gunzip_payload(data, max_bytes)
        if inner is not None:
            data = inner
    return "html" if looks_like_html(data) else "pdf"


def extract_document(
    data: Optional[bytes], max_bytes: int = DEFAULT_MAX_BYTES
) -> ExtractResult:
    """Parse one payload (PDF or HTML, optionally gzip transport-encoded;
    all sniffed by magic) into spans. Never raises."""
    if not data or len(data) <= 8:
        return ExtractResult("error", EMPTY_DOC, [], 0)
    if len(data) > max_bytes:
        return ExtractResult("error", DOC_TOO_LARGE, [], 0)
    if data[:2] == b"\x1f\x8b":
        # gzip transport encoding: unwrap (bounded) and re-dispatch once.
        # A corrupt/bomb stream is an error row, not a crash; the byte cap
        # applies to the DECOMPRESSED size, same contract as raw payloads.
        inner = gunzip_payload(bytes(data), max_bytes)
        if inner is None:
            return ExtractResult("error", FILTER_ERROR, [], 0)
        data = inner
        if len(data) <= 8:
            return ExtractResult("error", EMPTY_DOC, [], 0)
    if looks_like_html(data):
        # HTML tier (north rule: "HTML boilerplate strip ... DOM
        # heuristics"). Routed by magic bytes, never URL extension —
        # Content-Type lies at crawl scale. One content block = one span
        # at (page 0, y = -block_index), so assembly, lineage, streaming
        # and every downstream operator work unchanged on mixed corpora.
        try:
            spans, _n_blocks = html_spans(bytes(data))
            return ExtractResult("ok", "", spans, 1)
        except Exception:  # noqa: BLE001 — bad doc = row, not crash
            return ExtractResult("error", INTERNAL_ERROR, [], 0)
    try:
        resolver = Resolver(bytes(data))
        spans: list[Span] = []
        font_cache: dict = {}
        n_pages = 0
        page_span_ranges: list[tuple[dict, int, int]] = []
        for page_index, page in enumerate(resolver.iter_pages()):
            n_pages += 1
            # base CTM: translate MediaBox origin to (0,0); no y-flip
            # (render.c:1158-1172 flips for the raster canvas; user space
            # stays y-up here so `y desc` = top-of-page first)
            base = IDENTITY
            page_w = page_h = None
            mb = resolver.resolve(page.get("MediaBox"))
            if isinstance(mb, list) and len(mb) == 4:
                x0 = float(resolver.resolve(mb[0]))
                y0 = float(resolver.resolve(mb[1]))
                page_w = float(resolver.resolve(mb[2])) - x0
                page_h = float(resolver.resolve(mb[3])) - y0
                if x0 or y0:
                    base = translate(-x0, -y0)
            resources = page.get("Resources")
            res_dict = (
                resolver.get_dict(resources, "page resources")
                if resources is not None
                else {}
            )
            interp = Interpreter(resolver, page_index, res_dict, font_cache)
            streams = resolver.content_streams(page)
            n_before = len(spans)
            spans.extend(interp.run_streams(streams, base))
            _apply_page_rotation(
                spans, n_before, resolver.resolve(page.get("Rotate")),
                page_w, page_h,
            )
            _apply_vertical_order(spans, n_before)
            page_span_ranges.append((page, n_before, len(spans)))
        if not _apply_struct_order(spans, page_span_ranges, resolver):
            assign_columns(spans)
        return ExtractResult("ok", "", spans, n_pages)
    except PdfError as exc:
        return ExtractResult("error", exc.code, [], 0)
    except RecursionError:
        return ExtractResult("error", "RECURSION_LIMIT", [], 0)
    except Exception:  # noqa: BLE001 — any other bug: error row, not crash
        return ExtractResult("error", INTERNAL_ERROR, [], 0)


def _apply_page_rotation(spans, start, rotate, page_w, page_h) -> None:
    """Normalize span coordinates into READER space when the page carries
    a ``/Rotate`` of 90/180/270 (inheritable, §7.7.3.3/§14.2 — the page is
    displayed rotated clockwise by that many degrees). The (y desc, x asc)
    reading-order sort is meaningful only in the orientation a human reads,
    so spans on rotated pages (scanned landscape docs are the common
    real-corpus case) are mapped through the display rotation before
    assembly. The reference parses Rotate for its raster canvas
    (page.c:51,110) but its extractor ignores it; unrotated pages —
    every reference fixture — are byte-unaffected (rot 0 is a no-op).
    Values are snapped per spec (multiples of 90; anything else reads as
    0), negatives wrap. MediaBox-less pages can't be rotated (no dims)."""
    try:
        rot = int(rotate) % 360
    except (TypeError, ValueError):
        return
    if rot not in (90, 180, 270) or page_w is None or page_h is None:
        return
    for s in spans[start:]:
        if rot == 90:  # reader space is (H x W); rx = y, ry = W - x
            s.x, s.y = s.y, page_w - s.x
        elif rot == 180:
            s.x, s.y = page_w - s.x, page_h - s.y
        else:  # 270
            s.x, s.y = page_h - s.y, s.x


def _apply_struct_order(spans, page_span_ranges, resolver) -> bool:
    """Tagged-PDF reading order (§14.8): when the document declares
    ``/MarkInfo /Marked true`` with a ``/StructTreeRoot`` whose tree
    covers EVERY emitted span's MCID, spans are re-ordered by the
    structure tree's logical order instead of geometry. Serialization
    rule: one assembly LINE per structure-tree leaf (MCID), spans within
    a leaf in content order — encoded as the coordinate transform
    ``y = -rank, x = glyph_order`` so the standard ``(y desc, x asc)``
    sort and the Spark-side declarative assembly both follow it
    unchanged (the same trick _apply_page_rotation and
    _apply_vertical_order use). CONSERVATIVE: any span without an MCID,
    or any MCID missing from the tree, keeps the geometric order for the
    whole document (a partially-tagged PDF's tree order is not evidence
    of full reading order). Returns True when applied (callers then skip
    the geometric column heuristic)."""
    if not spans:
        return False
    order = resolver.struct_mcid_order()
    if not order:
        return False
    for page_dict, start, end in page_span_ranges:
        ranks = order.get(page_dict.get("_node_id"))
        for s in spans[start:end]:
            if s.mcid < 0 or ranks is None or s.mcid not in ranks:
                return False
    for page_dict, start, end in page_span_ranges:
        ranks = order[page_dict.get("_node_id")]
        for s in spans[start:end]:
            s.y = -float(ranks[s.mcid])
            s.x = float(s.glyph_order)
    return True


def _apply_vertical_order(spans, start) -> None:
    """Column-major reading order for vertical-writing pages (WMode 1,
    §9.7.5.1): map span sort coordinates ``(x, y) -> (-y, x)`` so the
    standard ``(y desc, x asc)`` assembly reads columns right-to-left and
    each column top-to-bottom — a vertical COLUMN (constant x) becomes one
    assembly LINE (constant y'), exactly like ``_apply_page_rotation``
    normalizes rotated pages into reader space. Applied only when the
    page's vertical spans carry the majority of its characters (mixed
    pages with a horizontal majority keep the horizontal order; the
    embedded horizontal runs stay grouped by their y). The reference has
    no vertical path at all — its predefined-CMap table lists the ``*-V``
    names (fonts/cmap_paths.c) but the render loop advances x only."""
    seg = spans[start:]
    if not seg:
        return
    vchars = sum(len(s.text) for s in seg if s.vert)
    if 2 * vchars <= sum(len(s.text) for s in seg):
        return
    for s in seg:
        s.x, s.y = -s.y, s.x


# Column detection thresholds — deliberately conservative: a split only
# happens when the page unambiguously presents as side-by-side columns.
# Anything ambiguous keeps col=0 everywhere, i.e. the historical
# (page, y desc, x) order, so the reference fixtures and every
# single-column layout are byte-unaffected.
_COL_MIN_SPANS = 6      # per side
_COL_MIN_GUTTER = 24.0  # empty vertical band no span may cross (pt)
_COL_CHAR_W = 0.6       # estimated advance per char, em fraction
_COL_MIN_Y_OVERLAP = 0.5  # columns must run side by side, not stacked


def _detect_gutter(page_spans: list) -> Optional[float]:
    if len(page_spans) < 2 * _COL_MIN_SPANS:
        return None
    if any(s.vert for s in page_spans):
        # vertical-majority pages were already transformed into reading
        # space by _apply_vertical_order (their "columns" ARE lines);
        # horizontal-majority mixed pages keep geometric order — the
        # two-column heuristic is meaningful only for pure horizontal text
        return None
    spans = sorted(page_spans, key=lambda s: s.x)
    ends = [
        s.x + _COL_CHAR_W * (s.size or 12.0) * len(s.text or "") for s in spans
    ]
    best_gap, gutter = 0.0, None
    lmax_end = 0.0
    for i in range(1, len(spans)):
        lmax_end = max(lmax_end, ends[i - 1])
        if i < _COL_MIN_SPANS or len(spans) - i < _COL_MIN_SPANS:
            continue
        gap = spans[i].x - lmax_end
        if gap >= _COL_MIN_GUTTER and gap > best_gap:
            best_gap, gutter = gap, spans[i].x
    if gutter is None:
        return None
    left_y = sorted(s.y for s in spans if s.x < gutter)
    right_y = sorted(s.y for s in spans if s.x >= gutter)
    l_span = left_y[-1] - left_y[0]
    r_span = right_y[-1] - right_y[0]
    if l_span <= 0 or r_span <= 0:
        return None
    overlap = min(left_y[-1], right_y[-1]) - max(left_y[0], right_y[0])
    if overlap < _COL_MIN_Y_OVERLAP * max(l_span, r_span):
        return None
    return gutter


def assign_columns(spans: list) -> None:
    """Conservative two-column reading order (layout tier, north rule
    "PDF/layout parse"): per page, when spans split into two >=6-span
    groups separated by a >=24pt empty gutter (span extents estimated
    from font size — no span crosses it) whose y-ranges overlap >=50%,
    the right group gets ``col=1`` and reads AFTER the whole left column
    — the reading order every real 2-column paper/newsletter intends,
    where the plain (y, x) sort would interleave the columns line by
    line. Ambiguous pages keep col=0 (exact historical order)."""
    by_page: dict = {}
    for s in spans:
        by_page.setdefault(s.page, []).append(s)
    for page_spans in by_page.values():
        gutter = _detect_gutter(page_spans)
        if gutter is not None:
            for s in page_spans:
                s.col = 1 if s.x >= gutter else 0


def assemble_text(spans: list[Span]) -> str:
    """Deterministic (page, col, y desc, x asc, glyph_order) sort + line
    joins; ``col`` comes from :func:`assign_columns` (0 unless the page
    unambiguously reads as two columns)."""
    if not spans:
        return ""
    ordered = sorted(spans, key=lambda s: (s.page, s.col, -s.y, s.x, s.glyph_order))
    parts: list[str] = []
    prev_key = None
    for s in ordered:
        key = (s.page, s.col, s.y)
        if prev_key is not None and key != prev_key:
            parts.append("\n")
        parts.append(s.text)
        prev_key = key
    return "".join(parts)


def extract_text(data: Optional[bytes], max_bytes: int = DEFAULT_MAX_BYTES):
    """Fused helper: returns ``(text, status, error_code, n_pages, n_spans)``."""
    r = extract_document(data, max_bytes)
    return assemble_text(r.spans), r.status, r.error_code, r.n_pages, len(r.spans)


def detect_table_cells(
    spans: list, y_tol: float = 2.0
) -> list[tuple[int, int, int, str]]:
    """Conservative grid/table recovery from span geometry (layout tier;
    the PDF twin of the HTML ``<td>`` walk in qx09). Per page: spans
    cluster into rows by y (within ``y_tol``); an x position that starts
    spans in >=2 DIFFERENT rows is a column candidate; rows holding >=2
    candidate columns are table rows, and a table needs >=2 such rows.
    Returns ``(page, row_idx, col_idx, text)`` sorted in row-major
    reading order; cells sharing a (row, col) concatenate in glyph
    order. A normal text page — every line starting at one left margin —
    yields a single repeated x, below the >=2-column floor, so prose is
    never misread as a table (same conservatism rule as
    :func:`assign_columns`)."""
    by_page: dict = {}
    for s in spans:
        by_page.setdefault(s.page, []).append(s)
    out: list[tuple[int, int, int, str]] = []
    for page in sorted(by_page):
        rows: list[list] = []  # list of [y_repr, spans]
        for s in sorted(by_page[page], key=lambda t: (-t.y, t.x, t.glyph_order)):
            if rows and abs(rows[-1][0] - s.y) <= y_tol:
                rows[-1][1].append(s)
            else:
                rows.append([s.y, [s]])
        # column candidates: x starts seen in >= 2 distinct rows
        seen_in_rows: dict = {}
        for ri, (_, row_spans) in enumerate(rows):
            for s in row_spans:
                xs = round(s.x, 1)
                seen_in_rows.setdefault(xs, set()).add(ri)
        col_xs = sorted(x for x, rws in seen_in_rows.items() if len(rws) >= 2)
        if len(col_xs) < 2:
            continue
        col_idx = {x: i for i, x in enumerate(col_xs)}
        table_rows = [
            (ri, row_spans)
            for ri, (_, row_spans) in enumerate(rows)
            if len({round(s.x, 1) for s in row_spans} & set(col_xs)) >= 2
        ]
        if len(table_rows) < 2:
            continue
        for out_ri, (_, row_spans) in enumerate(table_rows):
            cells: dict = {}
            for s in row_spans:
                ci = col_idx.get(round(s.x, 1))
                if ci is None:
                    continue
                cells.setdefault(ci, []).append(s)
            for ci in sorted(cells):
                text = "".join(
                    t.text
                    for t in sorted(cells[ci], key=lambda t: t.glyph_order)
                )
                out.append((page, out_ri, ci, text))
    return out


def classify_headings(
    spans: list, ratio: float = 1.3
) -> list[tuple[int, str]]:
    """Font-size heading detection (layout tier; the PDF twin of the
    HTML heading walk in qx18): body size = the modal span size over the
    document (ties -> smaller, the prose size), a LINE is a heading when
    every span on it is >= ``ratio`` x body size. Returns
    ``(line_index, line_text)`` in reading order over the heading lines
    only — the signal a markdownified-PDF tier would prefix with '#'."""
    if not spans:
        return []
    freq: dict = {}
    for s in spans:
        freq[s.size] = freq.get(s.size, 0) + len(s.text)
    body = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    ordered = sorted(
        spans, key=lambda s: (s.page, s.col, -s.y, s.x, s.glyph_order)
    )
    lines: list[tuple[list, bool]] = []
    prev_key = None
    for s in ordered:
        key = (s.page, s.col, s.y)
        if key != prev_key:
            lines.append(([], True))
            prev_key = key
        lines[-1][0].append(s.text)
        if s.size < ratio * body:
            lines[-1] = (lines[-1][0], False)
    return [
        (i, "".join(texts)) for i, (texts, is_h) in enumerate(lines) if is_h
    ]


def assemble_markdown(spans: list, ratio: float = 1.3) -> str:
    """Markdownified-PDF serialization (the PDF twin of
    ``htmltext.extract_markdown``): same deterministic reading order as
    :func:`assemble_text`, with :func:`classify_headings`' font-size
    rule prefixing heading lines with ``## ``. Stripping the markers
    recovers :func:`assemble_text`'s output exactly (content coverage
    can never diverge between the two serializations — the qx24
    contract, now held on the PDF side too)."""
    if not spans:
        return ""
    heads = {i for i, _ in classify_headings(spans, ratio)}
    ordered = sorted(
        spans, key=lambda s: (s.page, s.col, -s.y, s.x, s.glyph_order)
    )
    lines: list[str] = []
    prev_key = None
    for s in ordered:
        key = (s.page, s.col, s.y)
        if key != prev_key:
            lines.append("")
            prev_key = key
        lines[-1] += s.text
    return "\n".join(
        ("## " + l) if i in heads else l for i, l in enumerate(lines)
    )
