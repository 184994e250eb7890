"""One timed pass per workload through the pipeline's public entry
points, and the correctness checks on its output.

A pass returns its wall time, the rows the checks join to the
generator's expectations, workload-specific figures and the mismatches
it found itself (CSV manifest, lineage totals, resume coverage).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List

from pyspark import StorageLevel
from pyspark.sql import functions as F

from pdf_parser_spark.jobs.export_csv import write_table_csvs
from pdf_parser_spark.jobs.extract import extract_documents, run_extract_job
from pdf_parser_spark.sources import read_table

from gen import Doc

#: resume_job: buckets of the url hash, and how many the crashed run
#: completes before it stops
N_BUCKETS = 64
CRASH_BUCKETS = 32


@dataclass
class PassResult:
    n_docs: int
    wall_s: float
    rows: list                      # (url, kind, text md5, num_tables, error)
    extra: Dict[str, float] = field(default_factory=dict)
    problems: List[str] = field(default_factory=list)


def _check_cols(df):
    return df.select("url", "kind",
                     F.md5(F.col("text").cast("binary")).alias("text_md5"),
                     "num_tables", "error")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _part_files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.startswith("part-"))


def extract_pass(spark, pages: str, out: str) -> PassResult:
    t0 = time.perf_counter()
    rows = _check_cols(extract_documents(read_table(spark, pages))).collect()
    return PassResult(len(rows), time.perf_counter() - t0, rows)


def pdf_tables_pass(spark, pages: str, out: str) -> PassResult:
    csv_dir = os.path.join(out, "csv")
    t0 = time.perf_counter()
    docs = extract_documents(read_table(spark, pages)).persist(
        StorageLevel.MEMORY_AND_DISK)
    rows = _check_cols(docs).collect()
    t1 = time.perf_counter()
    manifest = write_table_csvs(docs, csv_dir).collect()
    t2 = time.perf_counter()
    docs.unpersist()
    res = PassResult(len(rows), t2 - t0, rows, {"export_csv_s": t2 - t1})
    n_files = len(os.listdir(csv_dir)) if os.path.isdir(csv_dir) else 0
    n_tables = sum(r.num_tables for r in rows)
    if len(manifest) != n_tables or n_files != n_tables:
        res.problems.append(f"csv manifest rows {len(manifest)}, files "
                            f"{n_files}, sum(num_tables) {n_tables}")
    return res


def bucket_split(spark, pages: str) -> tuple:
    """Generated pages in the url buckets the crashed run completes and
    in the rest, counted on the input (untimed), as the resume checks'
    ground truth."""
    bucket = F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS))
    row = read_table(spark, pages).agg(
        F.sum(F.when(bucket < CRASH_BUCKETS, 1).otherwise(0)).alias("first"),
        F.sum(F.when(bucket >= CRASH_BUCKETS, 1).otherwise(0)).alias("rest"),
    ).first()
    return int(row["first"]), int(row["rest"])


def resume_pass(spark, pages: str, out: str, split: tuple) -> PassResult:
    """`run_extract_job` stopped after CRASH_BUCKETS buckets, then
    resumed; `split` is `bucket_split` of the pages."""
    n_first, n_rest = split
    t0 = time.perf_counter()
    crashed = run_extract_job(spark, pages, out, run_id="crashed",
                              n_buckets=N_BUCKETS, limit_buckets=CRASH_BUCKETS)
    t1 = time.perf_counter()
    resumed = run_extract_job(spark, pages, out, run_id="resume",
                              n_buckets=N_BUCKETS)
    t2 = time.perf_counter()
    docs_dir = os.path.join(out, "documents.parquet")
    lineage_dir = os.path.join(out, "lineage.parquet")
    rows = _check_cols(read_table(spark, docs_dir)).collect()
    n_total = resumed["n_docs"]  # lineage n_docs summed over both runs
    res = PassResult(crashed["n_docs_run"] + resumed["n_docs_run"], t2 - t0,
                     rows, {
                         "resume_s": t2 - t1,
                         "written_mb": _dir_bytes(docs_dir) / 1e6,
                         "files_written": float(_part_files(docs_dir)
                                                + _part_files(lineage_dir)),
                         "redo_frac": resumed["n_docs_run"] / n_rest,
                     })
    if crashed["n_docs_run"] != n_first:
        res.problems.append(f"crashed run extracted {crashed['n_docs_run']} "
                            f"of the {n_first} docs in its buckets")
    if resumed["n_docs_run"] != n_rest:
        res.problems.append(f"resume extracted {resumed['n_docs_run']} of "
                            f"the {n_rest} docs outside completed buckets")
    if n_total != n_first + n_rest or len(rows) != n_first + n_rest:
        res.problems.append(f"lineage n_docs {n_total}, documents rows "
                            f"{len(rows)}, corpus {n_first + n_rest}")
    return res


PASSES = {
    "crawl_html": extract_pass,
    "pdf_tables": pdf_tables_pass,
    "resume_job": resume_pass,
}


def run_pass(workload: str, spark, pages: str, out: str, *args) -> PassResult:
    """One pass into a fresh `out` directory, removed afterwards; `args`
    go to the workload's pass (resume_job takes its `bucket_split`)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        return PASSES[workload](spark, pages, out, *args)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def check_rows(res: PassResult, docs: List[Doc], expected_md5: Dict[str, str],
               min_table_share: float = 0.0) -> int:
    """Join the pass output to the generator's expectations by url and
    require at least `min_table_share` of documents to carry a table.
    Appends mismatches to `res.problems`; returns documents whose
    `error` column is set."""
    by_url = {d.url: d for d in docs}
    seen = set()
    errors = 0
    for url, kind, text_md5, num_tables, error in res.rows:
        d = by_url.get(url)
        if error is not None:
            errors += 1
        if d is None or url in seen:
            res.problems.append(f"unexpected or duplicate url {url}")
            continue
        seen.add(url)
        if kind != d.kind or text_md5 != expected_md5[url]:
            res.problems.append(f"{url}: kind {kind} text md5 {text_md5}")
        elif num_tables != d.tables_kept:
            res.problems.append(f"{url}: num_tables {num_tables} != {d.tables_kept}")
    if len(seen) != len(docs):
        res.problems.append(f"{len(docs) - len(seen)} generated urls missing")
    share = sum(1 for r in res.rows if r.num_tables > 0) / max(1, len(res.rows))
    if share < min_table_share:
        res.problems.append(f"only {share:.2f} of docs carry tables")
    return errors
