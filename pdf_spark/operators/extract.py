"""The mapInArrow extraction stage (SURVEY.md §2.5, §3 EP1).

``map_records(df, fn, schema)`` is the one row-mapping idiom every query
module uses (Arrow batch in, Arrow batch out). Two extraction shapes sit on
top, both with zero per-row Python at the Spark level (``input_hint``
mandate):

- ``extract_docs_text(df)`` — the FUSED fast path: one row in -> one row
  out ``(url, text, status, error_code, n_pages, n_spans)``. The span sort
  and line assembly happen *inside* the UDF (per document, embarrassingly
  parallel) so the whole extraction is a single narrow map stage — **no
  shuffle at all** between scan and sink. This is the 100 TB path: wall
  time scales with bytes scanned / cores, and there is no wide dependency
  to skew.

- ``extract_spans(df)`` — the span-table path: one row in -> N span rows
  out (flatMap shape). Feeds layout-aware downstream queries and the
  Spark-side assembly in ``operators.assemble`` (which demonstrates the
  declarative sort semantics and must agree byte-for-byte with the fused
  path — tested).

Per-batch guards (SURVEY.md §7.3 "skew + memory"): the Arrow batch row cap
is configured at session level; each document is additionally size-capped
(``DOC_TOO_LARGE``) and any parse failure becomes an error row.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_spark.core.extract import (
    DEFAULT_MAX_BYTES,
    assemble_markdown,
    assemble_text,
    extract_document,
)

DOCS_TEXT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("status", StringType()),
        StructField("error_code", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_spans", IntegerType()),
    ]
)

SPANS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", IntegerType()),
        StructField("col", IntegerType()),
        StructField("y", DoubleType()),
        StructField("x", DoubleType()),
        StructField("glyph_order", LongType()),
        StructField("text", StringType()),
        StructField("font", StringType()),
        StructField("size", DoubleType()),
        StructField("status", StringType()),
        StructField("error_code", StringType()),
    ]
)


def map_records(
    df: DataFrame, fn: Callable[[dict], Iterable[dict]], schema: StructType
) -> DataFrame:
    """The one row-mapping UDF idiom: ``fn(row)`` yields zero or more output
    dicts per input row, packed into one Arrow batch per input batch.

    Keys outside ``schema`` are ignored and missing keys become NULL; Arrow
    carries the nulls, so ``fn`` returns plain Python values. Unlike
    ``mapInPandas``, a float NaN stays NaN (map it to ``None`` for NULL) and
    a bool into an integer column raises.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            rows = [out for row in batch.to_pylist() for out in fn(row)]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.mapInArrow(run, schema)


def extract_docs_text(
    pages: DataFrame,
    max_bytes: int = DEFAULT_MAX_BYTES,
    passthrough: tuple[str, ...] = (),
    markdown: bool = False,
) -> DataFrame:
    """pages(url, html, ...) -> docs_text — fused, shuffle-free.

    ``passthrough`` names string columns copied verbatim from input to
    output (e.g. ``input_file`` for lineage) without a post-UDF join.

    ``markdown=True`` adds an ``md`` column (``assemble_markdown`` over
    the same spans — assembly-only cost, the parse is not repeated):
    PDF headings surface as ``## `` via the font-size rule; HTML spans
    (uniform size) degrade to plain paragraphs here — the
    structure-preserving HTML serializer stays ``extract_markdown``
    (qx24's path), which needs block kinds the span schema drops.

    Hand-written rather than ``map_records``: this is the hot path, and
    url/passthrough columns are forwarded as Arrow arrays with zero copies.

    Implemented over ``mapInArrow`` rather than ``mapInPandas``: the UDF
    consumes the html bytes row-at-a-time anyway, so the pandas block
    manager on both sides of the Arrow boundary was pure overhead —
    RecordBatch in, RecordBatch out measured ~1.1x faster end-to-end on
    the 200k-doc corpus, and the url/passthrough columns are forwarded as
    Arrow arrays with zero copies.
    """
    schema = StructType(
        DOCS_TEXT_SCHEMA.fields
        + ([StructField("md", StringType())] if markdown else [])
        + [StructField(c, StringType()) for c in passthrough]
    )

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            urls = batch.column(names.index("url"))
            # url/passthrough keep their incoming Arrow types (string vs
            # large_string depends on the upstream source)
            out_fields = pa.schema(
                [
                    pa.field("url", urls.type),
                    pa.field("text", pa.string()),
                    pa.field("status", pa.string()),
                    pa.field("error_code", pa.string()),
                    pa.field("n_pages", pa.int32()),
                    pa.field("n_spans", pa.int32()),
                ]
                + ([pa.field("md", pa.string())] if markdown else [])
                + [
                    pa.field(c, batch.column(names.index(c)).type)
                    for c in passthrough
                ]
            )
            payloads = batch.column(names.index("html"))
            texts: list = []
            stats: list = []
            codes: list = []
            npg: list = []
            nsp: list = []
            mds: list = []
            for data in payloads:
                r = extract_document(data.as_py(), max_bytes)
                texts.append(assemble_text(r.spans) if r.ok else None)
                stats.append(r.status)
                codes.append(r.error_code)
                npg.append(r.n_pages)
                nsp.append(len(r.spans))
                if markdown:
                    mds.append(assemble_markdown(r.spans) if r.ok else None)
            arrays = [
                urls,
                pa.array(texts, pa.string()),
                pa.array(stats, pa.string()),
                pa.array(codes, pa.string()),
                pa.array(npg, pa.int32()),
                pa.array(nsp, pa.int32()),
            ] + (
                [pa.array(mds, pa.string())] if markdown else []
            ) + [batch.column(names.index(c)) for c in passthrough]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_fields)

    cols = ["url", "html", *passthrough]
    return pages.select(*cols).mapInArrow(run, schema)


def extract_spans(pages: DataFrame, max_bytes: int = DEFAULT_MAX_BYTES) -> DataFrame:
    """pages(url, html, ...) -> spans (one row per text-show element).

    Error documents emit a single marker row with ``page = -1`` so lineage
    counts reconcile (FIXTURES.md §7: docs_text.status derives from it).
    """

    def run(row: dict) -> Iterator[dict]:
        r = extract_document(row["html"], max_bytes)
        for s in r.spans:
            yield {
                "url": row["url"], "page": s.page, "col": s.col, "y": s.y,
                "x": s.x, "glyph_order": s.glyph_order, "text": s.text,
                "font": s.font, "size": s.size, "status": "ok",
                "error_code": "",
            }
        if not r.ok or not r.spans:
            yield {
                "url": row["url"], "page": -1, "col": 0, "y": 0.0, "x": 0.0,
                "glyph_order": 0, "text": "" if r.ok else None, "size": 0.0,
                "status": r.status, "error_code": r.error_code,
            }

    return map_records(pages.select("url", "html"), run, SPANS_SCHEMA)
