"""Seeded page corpora for the three benchmark workloads.

Every generator returns a list of `Doc` records: the url and payload
bytes the pipeline sees, plus what a correct pipeline must produce for
them (cleaned text, kind, number of tables kept by the X5 quality
filter).  The same (workload, seed, n) always yields the same bytes.

HTML pages come from `datagen.htmlgen.make_html_page`; PDFs are drawn
with `datagen.pdfgen.build_pdf`.  The stock `datagen.pages.make_pdf_doc`
corpus keeps no tables at all: its 8-25 body lines sit above each
ruled grid, the camelot-style bbox extension absorbs them into a sparse
grid, and the X5 whitespace filter drops it.  Here a table page carries
at most 3 body lines (the table survives X5) and a "sparse" table page
10-16 lines (detected, then dropped), so both outcomes are known by
construction and `operators.exports` gets real tables to render.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import List, Tuple

from pdf_parser_spark.datagen.htmlgen import make_html_page
from pdf_parser_spark.datagen.pdfgen import build_pdf
from pdf_parser_spark.functions.clean import clean_text

_PDF_WORDS = (
    "report total revenue units price margin region quarter item "
    "category stock shelf vendor batch order invoice summary"
).split()

_HTML_WORDS = (
    "data spark table query join filter scan shuffle partition batch "
    "document text page content extract chunk token stream byte vector"
).split()

# non-ASCII characters (all in cp1252) swapped into the article of a
# page served in another encoding; clean_text strips non-ASCII, so the
# expectation keeps only the ASCII remainder
_NON_ASCII_SWAPS = (("data", "daté"), ("stream", "strëam"), ("token", "tokén"))
#: serving charsets of crawl pages and their cumulative shares: 8% are
#: cp1252 or utf-16 (inside the ~5-10% jobs/extract.py states for crawl
#: pages), utf-16 behind its BOM; 2% utf-8 behind a BOM; the rest
#: plain utf-8
CHARSETS = (("cp1252", 0.06), ("utf-16le", 0.07), ("utf-16be", 0.08),
            ("utf-8-sig", 0.10))
#: share of crawl articles extended by 10-40 paragraphs (a long tail of
#: article lengths beyond htmlgen's 3-9 paragraphs)
LONG_ARTICLE_SHARE = 1 / 6
#: share of PDF pages carrying a table X5 keeps, and one X5 drops
TABLE_SHARE, SPARSE_TABLE_SHARE = 0.35, 0.15
#: resume_job: every LONG_PDF_EVERY-th document is a 20-40 page report
#: (a straggler; 1 in 12 of the PDFs), placed by index, not drawn, so
#: every seed carries the same number of them
LONG_PDF_EVERY = 40


@dataclass(frozen=True)
class Doc:
    url: str
    payload: bytes
    kind: str            # "html" | "pdf"
    expected_text: str   # cleaned text, byte-identical target
    tables_kept: int     # expected num_tables (after X5)


def html_doc(seed: int, i: int) -> Doc:
    """One crawl page: htmlgen markup, for a share of pages a long-tail
    article extension, served in one of CHARSETS."""
    rng = random.Random((seed << 24) ^ (i * 0x9E3779B1))
    html_b, expected = make_html_page(seed, i)
    html = html_b.decode("utf-8")
    if rng.random() < LONG_ARTICLE_SHARE:
        extra = [
            " ".join(
                " ".join(rng.choice(_HTML_WORDS) for _ in range(rng.randint(8, 18)))
                .capitalize() + "."
                for _ in range(rng.randint(3, 6))
            )
            for _ in range(rng.randint(10, 40))
        ]
        html = html.replace(
            "</article>", "".join(f"<p>{p}</p>\n" for p in extra) + "</article>"
        )
        expected = "\n".join([expected] + extra)
    r = rng.random()
    charset = next((cs for cs, upto in CHARSETS if r < upto), "utf-8")
    if charset != "utf-8":
        for a, b in _NON_ASCII_SWAPS:
            html = html.replace(a, b)
            expected = expected.replace(a, b)
    if charset == "cp1252":
        html = html.replace("<head>", '<head><meta charset="windows-1252">', 1)
        payload = html.encode("cp1252")
    elif charset == "utf-16le":
        payload = b"\xff\xfe" + html.encode("utf-16-le")
    elif charset == "utf-16be":
        payload = b"\xfe\xff" + html.encode("utf-16-be")
    else:  # utf-8 and utf-8-sig (BOM first)
        payload = html.encode(charset)
    return Doc(f"https://crawl.example/{seed}/page/{i:07d}", payload, "html",
               clean_text(expected), 0)


def _lines(rng: random.Random, n: int) -> List[str]:
    return [" ".join(rng.choice(_PDF_WORDS) for _ in range(rng.randint(4, 10)))
            for _ in range(n)]


def _table(rng: random.Random) -> Tuple[List[str], List[List[str]]]:
    ncols, nrows = rng.randint(3, 5), rng.randint(4, 8)
    headers = [rng.choice(_PDF_WORDS).title() + str(c) for c in range(ncols)]
    rows = [[str(rng.randint(0, 99999)) for _ in range(ncols)]
            for _ in range(nrows)]
    return headers, rows


def pdf_doc(seed: int, i: int, n_pages: Tuple[int, int] = (2, 5)) -> Doc:
    """A multi-page report: text-heavy pages, ruled-table pages that
    survive X5 and sparse table pages that X5 drops."""
    rng = random.Random((seed << 25) ^ (i * 0x85EBCA6B) ^ 0x5BD1E995)
    pages, tables, parts = [], {}, []
    kept = 0
    for p in range(rng.randint(*n_pages)):
        r = rng.random()
        if r < TABLE_SHARE:
            lines, table = _lines(rng, rng.randint(1, 3)), _table(rng)
            kept += 1
        elif r < TABLE_SHARE + SPARSE_TABLE_SHARE:
            lines, table = _lines(rng, rng.randint(10, 16)), _table(rng)
        else:
            lines, table = _lines(rng, rng.randint(20, 40)), None
        pages.append(lines)
        part = "\n".join(lines)
        if table is not None:
            tables[p] = table
            headers, rows = table
            part += "\n" + "\n".join(" ".join(row) for row in [headers] + rows)
        parts.append(part)
    info = {"Title": f"report-{seed}-{i}", "Producer": "perfbench"}
    return Doc(f"https://reports.example/{seed}/doc/{i:07d}.pdf",
               build_pdf(pages, tables, info), "pdf",
               clean_text("\n".join(parts)), kept)


def corpus(workload: str, seed: int, n: int) -> List[Doc]:
    """The `n`-document corpus of one workload."""
    if workload == "crawl_html":
        return [html_doc(seed, i) for i in range(n)]
    if workload == "pdf_tables":
        return [pdf_doc(seed, i) for i in range(n)]
    if workload == "resume_job":
        docs = []
        for i in range(n):
            if i % 10 < 7:
                docs.append(html_doc(seed, i))
            elif i % LONG_PDF_EVERY == 9:
                docs.append(pdf_doc(seed, i, n_pages=(20, 40)))
            else:
                docs.append(pdf_doc(seed, i))
        return docs
    raise ValueError(f"unknown workload {workload!r}")
