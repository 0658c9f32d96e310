"""Single-process traced pass over the ``pdf_spark.core`` layers.

The pass swaps the module-level names that ``extract_document`` reaches
for thin timing wrappers, runs ``extract_document`` and ``assemble_text``
unchanged (the per-row work of the fused Spark UDF), and restores the
names afterwards. A layer's self time is its span's duration minus the
time of the spans it caused; the ``other`` span wraps each whole document,
so the self times add up to the traced wall time by construction, which
is the untraced time plus ``core.trace_overhead_frac``. Decoding is
counted (bytes) but not given a span: its time falls to the layer that
asked for the stream.

What can go wrong is a wrapper that no longer sits on the call path (the
package renames a function, or imports it under another name): its layer
would read 0 and its time would move to its parent. So every span, and
every counter, must fire on the sample, or the pass reports a problem.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pdf_spark.core import extract as core_extract
from pdf_spark.core import filters as core_filters
from pdf_spark.core import fonts as core_fonts
from pdf_spark.core import interp as core_interp

# span name -> per_layer metric (self time, us/doc)
SPANS = {
    "resolver_init": "core.document.resolver_init_us",
    "page_walk": "core.document.page_walk_us",
    "content_streams": "core.document.content_streams_us",
    "tokenize": "core.content.tokenize_us",
    "load_font": "core.fonts.load_font_us",
    "interp": "core.interp.run_us",
    "html_spans": "core.htmltext.html_spans_us",
    "assemble": "core.extract.assemble_us",
    "other": "core.extract.other_us",
}


class Tracer:
    """Self time per span name, plus counters, over a stack of open spans."""

    def __init__(self) -> None:
        self.self_ns: dict[str, int] = defaultdict(int)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, int] = defaultdict(int)
        self._child_ns: list[int] = []

    def call(self, name: str, fn, *args):
        self.calls[name] += 1
        self._child_ns.append(0)
        t0 = time.perf_counter_ns()
        try:
            return fn(*args)
        finally:
            dt = time.perf_counter_ns() - t0
            self.self_ns[name] += dt - self._child_ns.pop()
            if self._child_ns:
                self._child_ns[-1] += dt


@contextmanager
def traced(tr: Tracer):
    """Install the wrappers for the duration of the block."""
    Resolver = core_extract.Resolver
    Interpreter = core_extract.Interpreter
    html_spans = core_extract.html_spans
    parse_content_stream = core_interp.parse_content_stream
    load_font = core_interp.load_font
    load_font_uncached = core_fonts._load_font_uncached
    decode_stream = core_filters.decode_stream

    class TracedResolver(Resolver):
        def __init__(self, buf):
            tr.call("resolver_init", super().__init__, buf)

        def iter_pages(self):
            it = super().iter_pages()
            while True:
                try:
                    page = tr.call("page_walk", next, it)
                except StopIteration:
                    return
                yield page

        def content_streams(self, page):
            return tr.call("content_streams", super().content_streams, page)

    class TracedInterpreter(Interpreter):
        def run_streams(self, streams, base_ctm=core_interp.IDENTITY):
            spans = tr.call("interp", super().run_streams, streams, base_ctm)
            tr.counts["spans"] += len(spans)
            return spans

    def tokenize(data):
        ops = tr.call("tokenize", parse_content_stream, data)
        tr.counts["ops"] += len(ops)
        return ops

    def font(obj, resolver):
        tr.counts["load_font"] += 1
        return tr.call("load_font", load_font, obj, resolver)

    def font_uncached(obj, resolver):
        tr.counts["load_font_uncached"] += 1
        return load_font_uncached(obj, resolver)

    def decode(stream_dict, raw, resolver=None):
        out = decode_stream(stream_dict, raw, resolver)
        tr.counts["decoded_bytes"] += len(out)
        return out

    def spans_html(data):
        return tr.call("html_spans", html_spans, data)

    patches = [
        (core_extract, "Resolver", TracedResolver),
        (core_extract, "Interpreter", TracedInterpreter),
        (core_extract, "html_spans", spans_html),
        (core_interp, "parse_content_stream", tokenize),
        (core_interp, "load_font", font),
        (core_fonts, "_load_font_uncached", font_uncached),
        (core_filters, "decode_stream", decode),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    try:
        for mod, name, fn in patches:
            setattr(mod, name, fn)
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _extract(payload: bytes):
    r = core_extract.extract_document(payload)
    return r.status, r.error_code, core_extract.assemble_text(r.spans) if r.ok else None


def _traced_extract(tr: Tracer, payload: bytes):
    def one():
        r = core_extract.extract_document(payload)
        text = tr.call("assemble", core_extract.assemble_text, r.spans) if r.ok else None
        return r.status, r.error_code, text

    return tr.call("other", one)


def run_pass(
    payloads: list[bytes], expected: list[tuple], warmup: list[bytes], rounds: int
) -> tuple[dict[str, float], list[str]]:
    """Untraced and traced loops over ``payloads``, ``rounds`` times each in
    alternating order, after one untraced loop over ``warmup``. Returns the
    per_layer metrics of the core and a list of problems: documents whose
    untraced ``(status, error_code, text)`` differs from ``expected`` or
    whose traced output differs from the untraced one, and spans or
    counters that never fired."""
    for p in warmup:
        _extract(p)
    tr = Tracer()
    plain_s: list[float] = []
    traced_s: list[float] = []
    problems: list[str] = []

    def plain_loop():
        t0 = time.perf_counter()
        out = [_extract(p) for p in payloads]
        plain_s.append(time.perf_counter() - t0)
        return out

    def traced_loop():
        with traced(tr):
            t0 = time.perf_counter()
            out = [_traced_extract(tr, p) for p in payloads]
            traced_s.append(time.perf_counter() - t0)
        return out

    for r in range(rounds):
        if r % 2:
            got, want = traced_loop(), plain_loop()
        else:
            want, got = plain_loop(), traced_loop()
        problems += [
            f"doc {i}: traced {g[:2]}, untraced {w[:2]}, expected {e[:2]} or text differs"
            for i, (g, w, e) in enumerate(zip(got, want, expected))
            if not g == w == e
        ]
    n = len(payloads) * rounds
    per_doc_us = {SPANS[k]: v / 1e3 / n for k, v in tr.self_ns.items()}
    out = {metric: per_doc_us.get(metric, 0.0) for metric in SPANS.values()}
    out["core.filters.decoded_bytes_per_doc"] = tr.counts["decoded_bytes"] / n
    out["core.content.ops_per_doc"] = tr.counts["ops"] / n
    out["core.interp.spans_per_doc"] = tr.counts["spans"] / n
    out["core.fonts.uncached_frac"] = (
        tr.counts["load_font_uncached"] / tr.counts["load_font"]
        if tr.counts["load_font"] else 0.0
    )
    out["core.ceiling_docs_per_s"] = len(payloads) / statistics.median(plain_s)
    out["core.trace_overhead_frac"] = sum(traced_s) / sum(plain_s) - 1.0
    # Both workloads' samples hold Flate PDFs with embedded fonts and HTML.
    problems += [f"span {k} never fired" for k in SPANS if not tr.calls[k]]
    problems += [
        f"counter {k} stayed 0"
        for k in ("decoded_bytes", "ops", "spans", "load_font", "load_font_uncached")
        if not tr.counts[k]
    ]
    return out, problems
