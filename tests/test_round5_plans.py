"""Round-5 plan pins (VERDICT r4 findings): qr34 packed-bloom probe.

The runtime-filter query must keep its map-side membership test BEFORE
the verifying join, probe the packed word array in O(1) (element_at +
bit mask, never an array_contains scan of set positions), and keep all
joins broadcast — the shapes that make it a runtime filter rather than
a shuffle-everything join at 10^12 probe rows.
"""

import re


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_qr34_probe_is_packed_and_presorted(spark, sf_dir):
    from pdf_spark.functions.registry import all_queries

    plan = _plan(spark, all_queries()["qr34_bloom_semijoin"](spark, sf_dir))
    # O(1) membership: word lookup + mask, not a set-positions scan
    assert "shiftleft" in plan
    assert "array_contains" not in plan, "probe degraded to O(set-bits) scan"
    # the bloom scalar and the build side stay broadcast; the probe is
    # never shuffled for a merge join
    assert "SortMergeJoin" not in plan
    # membership predicate sits in the nested-loop join against the
    # single-row bloom (map-side, pre-join) — i.e. the bitmask word
    # lookup appears inside a Join condition, not after the verifying
    # join
    m = re.search(r"Join condition: .*element_at\(bs", plan)
    assert m is not None, plan


def test_qr34_conv_hash_equals_nibble_hash(spark):
    """_hash16_conv (Spark fast path) must equal _hash16 (the portable
    nibble arithmetic the DuckDB oracle runs) on every md5 window."""
    from pdf_spark.functions.relational import _hash16, _hash16_conv

    n = spark.sql(
        f"""
        SELECT COUNT(*) FROM (
          SELECT md5(CAST(id AS STRING)) AS h FROM range(20000)
        )
        WHERE {_hash16_conv('h', 1)} != {_hash16('h', 1)}
           OR {_hash16_conv('h', 5)} != {_hash16('h', 5)}
        """
    ).collect()[0][0]
    assert n == 0


def test_session8_new_queries_shuffle_free(spark, sf_dir):
    """qx72/qm50/qm51/qx73 are one pruned scan + one Arrow map stage —
    no Exchange anywhere (the shape that scales linearly with input
    splits at 10^12 rows)."""
    from pdf_spark.functions.registry import all_queries

    q = all_queries()
    for name in (
        "qx72_pdf_functions",
        "qm50_glyph_outlines",
        "qm51_icc_profile",
        "qx73_page_raster",
        "qm52_jp2_meta",
        "qm53_type1_outlines",
        "qx74_revision_forensics",
        "qx75_active_content",
        "qx76_struct_census",
    ):
        plan = _plan(spark, q[name](spark, sf_dir))
        assert "Exchange" not in plan, f"{name} must stay shuffle-free"
        assert "MapInArrow" in plan, name
        # column-pruned scan: only doc_id leaves parquet
        assert "ReadSchema: struct<doc_id:bigint>" in plan, name


def test_qt84_topk_is_bounded_not_windowed(spark, sf_dir):
    """The global vocab ranking must be a LIMIT-style top-K
    (TakeOrderedAndProject: per-partition top-K + driver merge), never
    an unbounded single-partition window over the full vocabulary."""
    from pdf_spark.functions.registry import all_queries

    plan = _plan(spark, all_queries()["qt84_vocab_coverage"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan, (
        "vocabulary ranking degraded to a single-partition window"
    )


def test_qg18_bowtie_classification_small_graph(spark):
    """Hand graph: 1->2->3->1 (SCC), 0->1 (IN), 3->4 (OUT), 5->6
    (disconnected = OTHER). Pivot = MIN src = 0 is in IN's component
    head — so pivot-relative classes follow from node 0: fwd covers
    everything downstream, bwd only 0 itself."""
    from pdf_spark.functions.graph import _bfs_closure

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (0, 1), (3, 4), (5, 6)],
        "src: long, dst: long",
    )
    fwd = {r["node"] for r in _bfs_closure(edges, 1, True).collect()}
    bwd = {r["node"] for r in _bfs_closure(edges, 1, False).collect()}
    assert fwd == {1, 2, 3, 4}
    assert bwd == {0, 1, 2, 3}
    scc = fwd & bwd
    assert scc == {1, 2, 3}


def test_revision_audit_hybrid_chain():
    """A classic trailer with /XRefStm must census the hybrid link and
    both section forms (PDF §7.5.8.4) — the layout Acrobat emits for
    1.4-compatible 1.5 files."""
    from pdf_spark.core.document import revision_audit
    from pdf_spark.gen.pdfgen import (
        _content_td_tj, _find_startxref, _simple_doc,
    )
    from pdf_spark.gen.pdfgen import _emit_xref_stream

    base = _simple_doc(["hybrid body"], _content_td_tj)
    prev = _find_startxref(base)
    out = bytearray(base)
    out += b"\n\n"
    content = _content_td_tj(["patched"])
    cont_off = len(out)
    out += (
        b"5 0 obj\n<</Length " + str(len(content)).encode()
        + b">>\nstream\n" + content + b"\nendstream\nendobj\n\n"
    )
    stm_rows = [(1, cont_off, 0), (1, len(out), 0)]
    _emit_xref_stream(
        out, 6, stm_rows, 1, predictor=False,
        extra=b"/Index[5 2]", size=7,
    )
    stm_off = _find_startxref(bytes(out))
    # classic update section whose trailer points at the xref stream
    xref_off = len(out)
    out += (
        b"xref\n0 1\n0000000000 65536 f \n"
        b"trailer\n<</Size 7/Root 1 0 R/Prev " + str(prev).encode()
        + b"/XRefStm " + str(stm_off).encode() + b">>\nstartxref\n"
        + str(xref_off).encode() + b"\n%%EOF"
    )
    audit = revision_audit(bytes(out))
    assert audit["has_hybrid"] == 1
    assert audit["n_classic"] == 2 and audit["n_streams"] == 1
    assert audit["n_shadowed"] >= 1
