"""Spark-layer integration tests: corpus generation, fused-vs-declarative
assembly agreement, pipeline with lineage + resume, determinism across
partition counts (SURVEY.md §5.2 items 3-5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_spark.gen.corpus import rows_for_texts
from pdf_spark.operators.assemble import assemble_docs_text
from pdf_spark.operators.extract import extract_docs_text, extract_spans
from pdf_spark.operators.partitioning import prepare_pages
from pdf_spark.operators.pipeline import run_extraction

TEXTS = [
    f"Document number {i}: the quick brown fox jumps over the lazy dog "
    f"while sentence {i} rambles on long enough to wrap across lines."
    for i in range(160)
]


@pytest.fixture(scope="module")
def pages(spark):
    df = spark.createDataFrame(pd.DataFrame(rows_for_texts(TEXTS)))
    df = df.repartition(8).cache()
    df.count()
    return df


def test_corpus_shape(pages):
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == len(TEXTS)
    # ~1/64 corrupt rows carry NULL expected text
    assert pages.where(F.col("text").isNull()).count() >= 1


def test_fused_extraction_matches_expected(pages):
    docs = extract_docs_text(pages)
    joined = docs.join(pages.select("url", F.col("text").alias("expected")), "url")
    ok = joined.where(F.col("status") == "ok")
    mismatches = ok.where(F.col("text") != F.col("expected")).count()
    assert mismatches == 0
    # corrupt rows -> error status, never missing
    errs = joined.where(F.col("status") == "error")
    assert errs.count() == pages.where(F.col("text").isNull()).count()
    assert docs.count() == pages.count()


def test_spans_and_declarative_assembly_match_fused(pages):
    fused = extract_docs_text(pages).select("url", "text", "status")
    spans = extract_spans(pages)
    assembled = assemble_docs_text(spans).select("url", "text", "status")
    diff = (
        fused.alias("f")
        .join(assembled.alias("a"), "url", "full")
        .where(
            (F.col("f.status") != F.col("a.status"))
            | (
                F.coalesce(F.col("f.text"), F.lit("§"))
                != F.coalesce(F.col("a.text"), F.lit("§"))
            )
        )
    )
    assert diff.count() == 0


def test_determinism_across_partition_counts(pages):
    """Same input at 2 partition counts => identical docs_text rows
    (doubles as the scaling-evidence correctness check)."""
    a = extract_docs_text(pages.repartition(2)).orderBy("url").collect()
    b = extract_docs_text(prepare_pages(pages, 16)).orderBy("url").collect()
    assert [(r.url, r.text, r.status) for r in a] == [
        (r.url, r.text, r.status) for r in b
    ]


def test_pipeline_lineage_and_resume(spark, pages, tmp_out):
    m1 = run_extraction(spark, pages, tmp_out)
    assert m1["n_ok"] + m1["n_err"] == len(TEXTS)
    lin = spark.read.parquet(m1["lineage_path"])
    agg = lin.agg(
        F.sum("n_docs").alias("d"), F.sum("n_ok").alias("o"), F.sum("n_err").alias("e")
    ).collect()[0]
    # lineage reconciles with input counts (north rule)
    assert agg["d"] == len(TEXTS)
    assert agg["o"] == m1["n_ok"] and agg["e"] == m1["n_err"]
    # error codes surfaced in the map
    codes = lin.select(F.explode("error_codes")).groupBy("key").count().collect()
    assert {r["key"] for r in codes} >= {"INVALID_VERSION"}

    # resume: second run must process zero new docs (all committed)
    docs_before = spark.read.parquet(m1["docs_path"]).count()
    m2 = run_extraction(spark, pages, tmp_out)
    docs_after = spark.read.parquet(m1["docs_path"]).count()
    assert docs_after == docs_before
    # per-run lineage reconciles with per-run input: the resumed run
    # extracted nothing, so its summary and its lineage rows claim 0 docs
    # (not the whole corpus re-tagged under the new run_id)
    assert m2["n_ok"] + m2["n_err"] == 0
    lin2 = spark.read.parquet(m2["lineage_path"]).where(
        F.col("run_id") == m2["run_id"]
    )
    assert (lin2.agg(F.sum("n_docs")).collect()[0][0] or 0) == 0
    # run-1 lineage untouched
    lin1 = spark.read.parquet(m1["lineage_path"]).where(
        F.col("run_id") == m1["run_id"]
    )
    assert lin1.agg(F.sum("n_docs")).collect()[0][0] == len(TEXTS)


def test_fixture_rows_ride_along(pages):
    """Reference fixtures injected at the fixture cadence extract to
    'Hello World!' through the full Spark path."""
    docs = extract_docs_text(pages)
    fixture_urls = pages.where(F.col("text") == "Hello World!").select("url")
    got = docs.join(fixture_urls, "url").select("text").collect()
    assert len(got) >= 1
    assert all(r["text"] == "Hello World!" for r in got)


def test_legacy_flat_sink_migrates(spark, pages, tmp_path):
    """A docs_text sink written before run_id partitioning (flat parquet
    files at the base path) must keep working: files are moved under
    run_id=legacy and resume sees their urls as committed."""
    import os

    out = str(tmp_path / "legacy_out")
    docs_path = os.path.join(out, "docs_text")
    # simulate the old layout: flat write of extraction output
    extract_docs_text(pages).write.parquet(docs_path)
    n = spark.read.parquet(docs_path).count()

    m = run_extraction(spark, pages, out)
    # every url was already committed -> the resumed run extracts nothing
    assert m["n_ok"] + m["n_err"] == 0
    merged = spark.read.parquet(docs_path)
    assert merged.count() == n
    assert "run_id" in merged.columns
    assert merged.where(F.col("run_id") == "legacy").count() == n


def test_resume_with_parquet_pages(spark, pages, tmp_path):
    """Resume over PARQUET-backed pages (the spark-submit shape): the
    anti-join plan contains two file sources, which input_file_name() must
    not be projected across — lineage provenance is captured at scan time.
    Also asserts input_file is actually populated from the scan."""
    import os

    pages_dir = str(tmp_path / "pages_pq")
    pages.write.parquet(pages_dir)
    pq = spark.read.parquet(pages_dir)
    out = str(tmp_path / "out")

    m1 = run_extraction(spark, pq, out)
    assert m1["n_ok"] + m1["n_err"] == pages.count()
    lin = spark.read.parquet(m1["lineage_path"])
    files = [r["input_file"] for r in lin.select("input_file").distinct().collect()]
    assert any("pages_pq" in (f or "") for f in files)

    m2 = run_extraction(spark, pq, out)  # resume: must plan + run cleanly
    assert m2["n_ok"] + m2["n_err"] == 0


def test_empty_input_run_is_benign(spark, tmp_path):
    """A run over zero pages must return a 0-doc summary, not crash on
    schema inference over a file-less sink directory."""
    from pdf_spark.gen.corpus import rows_for_texts as _rft

    empty = spark.createDataFrame(
        pd.DataFrame(_rft(["x"]))
    ).where(F.lit(False))
    m = run_extraction(spark, empty, str(tmp_path / "empty_out"))
    assert m["n_ok"] == 0 and m["n_err"] == 0


def test_skewed_giants_spread_and_capped(spark):
    """E2E skew handling (north rule): giants spread across partitions by
    the salted (salt, size_bucket) repartition; docs over the byte cap
    become DOC_TOO_LARGE error rows, never task failures."""
    from pdf_spark.gen.pdfgen import generate_doc

    from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, _expected_text, wrap_lines

    rows = []
    for i in range(120):
        pdf, exp, _, _ = generate_doc(f"tiny doc {i} with a little text", 0)
        rows.append({"url": f"https://ex.com/t{i}", "html": pdf, "exp": exp})
    # giants: bypass generate_doc's MAX_LINES cap via the variant builder
    build_plain = dict(_GOOD_VARIANTS)["td_tj_plain"]
    for g in range(4):
        big_text = f"giant {g} sentence that wraps across many lines. " * 3000
        lines = wrap_lines(big_text, max_lines=10**9)
        pdf = build_plain(lines)
        exp = _expected_text(lines, "td_tj_plain")
        assert len(pdf) > 64 * 1024, "giant fixture unexpectedly small"
        rows.append({"url": f"https://ex.com/giant{g}", "html": pdf, "exp": exp})

    pdf_df = spark.createDataFrame(
        pd.DataFrame([{"url": r["url"], "html": r["html"]} for r in rows])
    )
    prepared = prepare_pages(pdf_df, salt_partitions=8, giant_bucket=16)

    # round-robin giant placement: all four giants on DISTINCT partitions
    part_of = (
        prepared.withColumn("pid", F.spark_partition_id())
        .where(F.col("url").startswith("https://ex.com/giant"))
        .select("url", "pid")
        .collect()
    )
    pids = [r["pid"] for r in part_of]
    assert len(set(pids)) == 4, f"giants clumped: {pids}"

    out = {r["url"]: r for r in extract_docs_text(prepared).collect()}
    assert len(out) == len(rows)
    exp_by_url = {r["url"]: r["exp"] for r in rows}
    for url, r in out.items():
        assert r["status"] == "ok", (url, r["error_code"])
        assert r["text"] == exp_by_url[url], url

    # byte cap: the giant docs error out as DOC_TOO_LARGE when the cap is low
    capped = {
        r["url"]: r
        for r in extract_docs_text(pdf_df, max_bytes=64 * 1024).collect()
    }
    for g in range(4):
        assert capped[f"https://ex.com/giant{g}"]["status"] == "error"
        assert capped[f"https://ex.com/giant{g}"]["error_code"] == "DOC_TOO_LARGE"
    assert capped["https://ex.com/t0"]["status"] == "ok"


def test_fused_operator_mixed_pdf_html(spark):
    """The fused mapInArrow stage handles a mixed PDF/HTML batch: routing
    is per row by magic bytes, and both tiers produce their expected text
    through one narrow stage."""
    import pandas as pd

    from pdf_spark.gen.htmlgen import expected_for_variant, html_article, html_messy
    from pdf_spark.gen.pdfgen import generate_doc

    rows = []
    for i in range(8):
        text = f"mixed corpus row number {i} with enough words to wrap around"
        if i % 2:
            fn, name = (html_article, "html_article") if i % 4 == 1 else (
                html_messy,
                "html_messy",
            )
            lines = [text]
            rows.append(
                dict(url=f"u{i}", html=fn(lines), exp=expected_for_variant(name, lines))
            )
        else:
            payload, exp, _, _ = generate_doc(text, i % 3)
            rows.append(dict(url=f"u{i}", html=payload, exp=exp))
    df = spark.createDataFrame(pd.DataFrame([{"url": r["url"], "html": r["html"]} for r in rows]))
    out = {r["url"]: r for r in extract_docs_text(df).collect()}
    for r in rows:
        got = out[r["url"]]
        assert got["status"] == "ok", (r["url"], got["error_code"])
        assert got["text"] == r["exp"], r["url"]


def test_partitioned_sink_prunes(spark, pages, tmp_path):
    """partition_cols=('lang',): the sink gains lang=... directories under
    run_id and a per-language read shows PartitionFilters on lang — the
    100 TB consumer's partition-pruned scan. Resume over the partitioned
    layout must still plan and extract nothing."""
    import os

    out = str(tmp_path / "out_part")
    m = run_extraction(spark, pages, out, partition_cols=("lang",))
    assert m["n_ok"] > 0

    run_dir = os.path.join(m["docs_path"], f"run_id={m['run_id']}")
    subdirs = {d for d in os.listdir(run_dir) if d.startswith("lang=")}
    assert subdirs, "sink not partitioned by lang"

    df = spark.read.parquet(m["docs_path"]).where(F.col("lang") == "en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re
    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "lang" in pf.group(1), plan[:2000]
    assert df.count() == pages.where(F.col("lang") == "en").count()

    m2 = run_extraction(spark, pages, out, partition_cols=("lang",))
    assert m2["n_ok"] + m2["n_err"] == 0


def test_two_column_agreement_fused_vs_declarative(spark):
    """A genuinely SPLIT two-column doc (long enough to trigger the gutter
    detector) must extract byte-identically through the fused path and the
    declarative span-assembly path — i.e. the `col` ordering key flows
    through the Spark-side sort too. The module corpus fixture's texts are
    too short to split, so this doc is crafted explicitly."""
    from pdf_spark.gen.corpus import make_row
    from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc
    from pdf_spark.operators.assemble import assemble_docs_text
    from pdf_spark.operators.extract import extract_spans

    vi = [i for i, (n, _) in enumerate(_GOOD_VARIANTS) if n == "twocolumn"][0]
    long_text = " ".join(f"col word {j} text" for j in range(80))
    rows = [make_row(vi, long_text)]
    pages = spark.createDataFrame(pd.DataFrame(rows))

    fused = extract_docs_text(pages).collect()[0]
    decl = assemble_docs_text(extract_spans(pages)).collect()[0]
    _, expected, name, _ = generate_doc(long_text, vi)
    assert name == "twocolumn"
    assert fused["text"] == expected  # actually split (column-major rewrap)
    assert decl["text"] == expected


def test_extract_markdown_column(spark):
    """markdown=True adds an md column whose marker-stripped text equals
    the text column (coverage contract through the fused Arrow path)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_spark.gen.corpus import rows_for_texts
    from pdf_spark.operators.extract import extract_docs_text

    pages = spark.createDataFrame(
        pd.DataFrame(rows_for_texts([f"md column doc {i}" for i in range(12)]))
    )
    docs = extract_docs_text(pages, markdown=True)
    assert "md" in docs.columns
    rows = docs.filter(F.col("status") == "ok").collect()
    assert rows
    for r in rows:
        stripped = "\n".join(
            l[3:] if l.startswith("## ") else l for l in r["md"].split("\n")
        )
        assert stripped == r["text"]


# --- map_records: the one row-mapping UDF idiom ------------------------------

def _records_schema(*fields):
    from pyspark.sql import types as T

    return T.StructType([T.StructField(n, t) for n, t in fields])


def test_map_records_zero_one_many_rows_per_input(spark):
    from pyspark.sql import types as T

    from pdf_spark.operators.extract import map_records

    def fan_out(r):
        for k in range(r["id"] % 4):  # 0, 1, 2 or 3 rows
            yield {"id": r["id"], "k": k}

    schema = _records_schema(("id", T.LongType()), ("k", T.IntegerType()))
    out = map_records(spark.range(8), fan_out, schema)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(i, k) for i in range(8) for k in range(i % 4)]


def test_map_records_empty_partitions_and_input(spark):
    from pyspark.sql import types as T

    from pdf_spark.operators.extract import map_records

    def one(r):
        yield {"id": r["id"]}

    schema = _records_schema(("id", T.LongType()))
    sparse = spark.range(0, 3, 1, numPartitions=8)  # 5 empty partitions
    got = map_records(sparse, one, schema).collect()
    assert sorted(r["id"] for r in got) == [0, 1, 2]
    empty = spark.range(0).where(F.col("id") > 0)
    assert map_records(empty, one, schema).collect() == []


def test_map_records_nulls_in_every_output_type(spark):
    import datetime as dt

    from pyspark.sql import types as T

    from pdf_spark.operators.extract import map_records

    schema = _records_schema(
        ("id", T.LongType()),
        ("i32", T.IntegerType()),
        ("s", T.StringType()),
        ("b", T.BooleanType()),
        ("raw", T.BinaryType()),
        ("x", T.DoubleType()),
        ("ts", T.TimestampType()),
    )
    full = {
        "i32": 7, "s": "seven", "b": True, "raw": b"\x00\x07", "x": 0.5,
        "ts": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
    }

    def run(r):
        # odd ids fill every column; even ids leave all but id missing or None
        if r["id"] % 2:
            yield {"id": r["id"], **full}
        else:
            yield {"id": r["id"], "i32": None, "s": None}

    rows = {r["id"]: r for r in map_records(spark.range(4), run, schema).collect()}
    for i in (0, 2):
        assert all(rows[i][c] is None for c in schema.names[1:])
    for i in (1, 3):
        got = rows[i].asDict()
        assert got["raw"] == bytearray(b"\x00\x07")
        assert got["ts"] is not None
        assert [got[c] for c in ("i32", "s", "b", "x")] == [7, "seven", True, 0.5]


def test_map_records_ignores_extra_keys(spark):
    from pyspark.sql import types as T

    from pdf_spark.operators.extract import map_records

    def run(r):
        yield {"id": r["id"], "not_in_schema": "dropped"}

    out = map_records(spark.range(3), run, _records_schema(("id", T.LongType())))
    assert out.columns == ["id"]
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2]


def test_map_records_bool_into_integer_raises(spark):
    from pyspark.sql import types as T

    from pdf_spark.operators.extract import map_records

    def run(r):
        yield {"n": r["id"] > 0}

    out = map_records(spark.range(2), run, _records_schema(("n", T.IntegerType())))
    with pytest.raises(Exception, match="got bool"):
        out.collect()


def test_query_modules_use_one_udf_idiom():
    """The query matrix maps rows through ``map_records`` only: no pandas
    batch loops or nullable-dtype shims come back."""
    import pathlib

    import pdf_spark

    root = pathlib.Path(pdf_spark.__file__).parent
    for rel in (
        "functions/docformats.py",
        "functions/multimodal.py",
        "functions/extraction_queries.py",
        "gen/corpus.py",
        "sources/warc.py",
    ):
        src = (root / rel).read_text()
        for banned in ("mapInPandas(", "pd.array(", "pd.DataFrame("):
            assert banned not in src, f"{rel} uses {banned}"
