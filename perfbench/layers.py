"""Per-layer timing: the per-document path of the extraction job,
replayed in this process over the generated pages with a span around
each call into a layer's public functions.

The replay follows `jobs.extract.extract_one` and the fused batch loop
(charset sniff + decode → boilerplate strip for HTML; text, metadata
and tables for PDF; then clean and chunk), plus the CSV rendering that
`jobs.export_csv.write_table_csvs` does for documents with tables.
Its cleaned text must equal the generator's expectation, like the
pipeline's.
"""

from __future__ import annotations

import json
import time
from typing import Dict, List, Optional, Tuple

from pdf_parser_spark.functions.charset import decode_bytes, sniff_bytes
from pdf_parser_spark.functions.chunk import chunk_text
from pdf_parser_spark.functions.clean import clean_text
from pdf_parser_spark.html.boilerplate import extract_main_text
from pdf_parser_spark.operators.exports import export_tables_to_csv
from pdf_parser_spark.operators.tables import extract_tables, extract_tables_json
from pdf_parser_spark.pdf.metadata import extract_metadata
from pdf_parser_spark.pdf.text import extract_document_text

from gen import Doc
from probes import Spans

#: layers whose work runs inside the extraction stage (the CSV export
#: runs in a job of its own)
EXTRACT_LAYERS = ("pdf.text", "pdf.metadata", "operators.tables",
                  "functions.charset", "html.boilerplate",
                  "functions.clean", "functions.chunk")


class _NoSpans:
    """Stand-in for `Spans` that records nothing (the untraced replay)."""

    def open(self, name, trace_id, parent=None):
        return 0

    def close(self, idx):
        pass


def _sniff_and_decode(payload: bytes) -> str:
    return decode_bytes(payload, charset=sniff_bytes(payload))


def replay(docs: List[Doc], spans, problems: Optional[list] = None) -> Dict[str, int]:
    """Run every document through the layers; returns table counts."""
    kept = tabled = 0

    def call(name, doc_span, fn, *args):
        s = spans.open(name, url, doc_span)
        out = fn(*args)
        spans.close(s)
        return out

    for d in docs:
        url = d.url
        root = spans.open("document", url)
        tables_json = None
        if d.payload[:5] == b"%PDF-" or b"%PDF-" in d.payload[:1024]:
            raw = call("pdf.text", root, extract_document_text, d.payload)
            call("pdf.metadata", root, extract_metadata, d.payload)
            tables_json, _ = call("operators.tables", root,
                                  extract_tables_json, d.payload)
        else:
            html = call("functions.charset", root, _sniff_and_decode, d.payload)
            raw = call("html.boilerplate", root, extract_main_text, html)
        text = call("functions.clean", root, clean_text, raw)
        call("functions.chunk", root, chunk_text, text, 1000, 200)
        if tables_json:
            tables = json.loads(tables_json)
            call("operators.exports", root, export_tables_to_csv, tables, "doc")
            kept += len(tables)
            tabled += 1
        spans.close(root)
        if problems is not None and text != d.expected_text:
            problems.append(f"layer replay of {url}: cleaned text differs")
    return {"tables_kept": kept, "docs_with_tables": tabled}


def layer_metrics(docs: List[Doc], problems: list
                  ) -> Tuple[Dict[str, float], float, Spans]:
    """Per-document mean self time of each layer (ms), the share of
    detected tables kept, and the cost of recording spans (traced vs
    untraced replay); also the summed self time (s) of the layers that
    run inside the extraction stage, and the spans."""
    def timed(spans, check=None):
        t0 = time.perf_counter()
        counts = replay(docs, spans, check)
        return counts, time.perf_counter() - t0

    replay(docs[:50], _NoSpans())  # warm the imports and caches
    spans = Spans()
    # untraced replays on both sides of the traced one, so drift in
    # machine speed does not read as tracing cost
    _, bare_a = timed(_NoSpans())
    counts, traced_s = timed(spans, problems)
    _, bare_b = timed(_NoSpans())
    bare_s = (bare_a + bare_b) / 2
    self_ms = spans.self_ms()
    n_pdf = sum(1 for d in docs if d.kind == "pdf")
    n_html = len(docs) - n_pdf
    found = sum(len(extract_tables(d.payload, apply_filter=False))
                for d in docs if d.kind == "pdf")

    def per(name, n):
        return self_ms.get(name, 0.0) / n if n else 0.0

    out = {
        "pdf.text_ms": per("pdf.text", n_pdf),
        "pdf.metadata_ms": per("pdf.metadata", n_pdf),
        "operators.tables_ms": per("operators.tables", n_pdf),
        "operators.tables_kept_frac": counts["tables_kept"] / found if found else 0.0,
        "functions.charset_ms": per("functions.charset", n_html),
        "html.boilerplate_ms": per("html.boilerplate", n_html),
        "functions.clean_ms": per("functions.clean", len(docs)),
        "functions.chunk_ms": per("functions.chunk", len(docs)),
        "operators.exports_ms": per("operators.exports", counts["docs_with_tables"]),
        "trace.overhead_frac": traced_s / bare_s - 1.0,
    }
    extract_s = sum(self_ms.get(n, 0.0) for n in EXTRACT_LAYERS) / 1e3
    return out, extract_s, spans
