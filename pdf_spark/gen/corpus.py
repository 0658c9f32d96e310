"""Deterministic pages-corpus builder (FIXTURES.md §1).

Produces the Common-Crawl-style ``pages`` table mandated by
``BASELINE.json`` ``input_hint``:

    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)

Rows are a pure function of ``(texts, start_index)``: row *i* takes its
payload text from the source text list, its PDF shape from
``variant = i % (N_VARIANTS + inject-bad cadence)``, and ~1/64 rows are
corrupt (error-class payloads with ``text = NULL``). The three reference
fixtures are injected at fixed indices so the parity floor rides along in
every corpus.

Two entry points:
- ``rows_for_texts``  — pure pandas/python (used inside Spark UDFs and tests)
- ``pages_from_documents`` — Spark DataFrame: documents table -> pages table
  via ``map_records`` (the scale path: generation itself is distributed).
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator, Optional

from pdf_spark.gen.pdfgen import N_BAD_VARIANTS, N_VARIANTS, generate_doc

_FIXDIR = "/root/reference/test-files"
_FIXTURES = ("test.pdf", "compressed.pdf", "embedded.pdf")
_FIXTURE_TEXT = "Hello World!"
_EPOCH = _dt.datetime(2026, 1, 1, 0, 0, 0)
LANGS = ("en", "de", "fr", "ja", "zh")
BAD_CADENCE = 64  # every 64th row is a corrupt payload (~1.6%)
FIXTURE_CADENCE = 1009  # fixture rows injected at this prime cadence

_fixture_cache: dict[str, bytes] = {}


def _fixture_bytes(name: str) -> Optional[bytes]:
    if name not in _fixture_cache:
        try:
            with open(f"{_FIXDIR}/{name}", "rb") as f:
                _fixture_cache[name] = f.read()
        except OSError:
            return None
    return _fixture_cache[name]


def make_row(i: int, text: str) -> dict:
    """Deterministic row i: url, warc_ts, html, text (expected), lang."""
    url = f"https://example.org/crawl/{i:012d}.pdf"
    ts = _EPOCH + _dt.timedelta(seconds=137 * i)
    lang = LANGS[i % len(LANGS)]
    if i % FIXTURE_CADENCE == 7:
        name = _FIXTURES[(i // FIXTURE_CADENCE) % len(_FIXTURES)]
        data = _fixture_bytes(name)
        if data is not None:
            return dict(url=url, warc_ts=ts, html=data, text=_FIXTURE_TEXT, lang=lang)
        # fixture file unreadable (host without the reference tree): fall
        # through to a GOOD generated doc, never the corrupt branch —
        # expected_error_col can only derive ground truth for rows whose
        # corruptness is a pure function of the index
        variant = i % N_VARIANTS
        pdf, expected, _, _ = generate_doc(text, variant)
        return dict(url=url, warc_ts=ts, html=pdf, text=expected, lang=lang)
    if i % BAD_CADENCE == 13:
        variant = N_VARIANTS + (i // BAD_CADENCE) % N_BAD_VARIANTS
        pdf, _, _, _err = generate_doc(text, variant)
        return dict(url=url, warc_ts=ts, html=pdf, text=None, lang=lang)
    variant = i % N_VARIANTS
    pdf, expected, _, _ = generate_doc(text, variant)
    return dict(url=url, warc_ts=ts, html=pdf, text=expected, lang=lang)


def rows_for_texts(texts: list[str], start_index: int = 0) -> list[dict]:
    return [make_row(start_index + k, t) for k, t in enumerate(texts)]


def expected_error_col(url_col):
    """Spark Column: the exact error_code a corrupt row must produce, NULL
    for good/fixture rows.

    The pages table keeps the mandated 5-column shape, so ground truth for
    corrupt rows can't ride in the schema; it is re-derived here from the
    deterministic generator mapping: doc index i (from the url), corrupt iff
    i % BAD_CADENCE == 13 (and not a fixture row), bad variant
    (i // BAD_CADENCE) % N_BAD_VARIANTS -> that variant's error code."""
    from pyspark.sql import functions as F

    from pdf_spark.gen.pdfgen import _BAD_VARIANTS

    i = F.regexp_extract(url_col, r"/(\d{12})\.pdf$", 1).cast("long")
    bad_idx = (i / BAD_CADENCE).cast("long") % len(_BAD_VARIANTS)
    codes = F.array(*[F.lit(err) for _, _, err in _BAD_VARIANTS])
    is_fixture = i % FIXTURE_CADENCE == 7
    return F.when(
        (i % BAD_CADENCE == 13) & ~is_fixture,
        F.element_at(codes, (bad_idx + 1).cast("int")),
    )


def pages_from_documents(documents_df, id_col: str = "doc_id", text_col: str = "text"):
    """Distributed corpus generation: ``documents(doc_id, text, ...)`` ->
    ``pages`` via ``map_records`` (one Arrow batch of texts -> one batch of
    PDFs). The document id seeds the variant choice, so the corpus is
    deterministic regardless of partitioning. ``warc_ts`` is naive and
    lands as UTC, the session time zone ``spark_session`` pins."""
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )

    from pdf_spark.operators.extract import map_records

    def gen(r: dict) -> Iterator[dict]:
        yield make_row(r[id_col], r[text_col] or "")

    return map_records(documents_df.select(id_col, text_col), gen, schema)
