"""Extraction benchmark for pdf_parser_spark.

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Generates the workload's pages from
the seed (outside every timed region), starts a local Spark session
SETUPS times through `session.get_spark` (each start launches a fresh
JVM and starts the Python workers, which import the extraction layers),
runs one untimed pass, then repeats timed passes through the pipeline's
public entry points for `--seconds`, checking every pass's output
against the generator.

Workloads (sizes at --scale 1):
  crawl_html  6000 HTML crawl pages, 8% served as cp1252 or utf-16;
              each pass is `extract_documents` → collect
  pdf_tables  500 multi-page PDF reports with ruled tables; each pass is
              `extract_documents` (persisted) → collect → `write_table_csvs`
  resume_job  1200 pages, 70% HTML / 30% PDF with a tail of 20-40 page
              reports; each pass is `run_extract_job` stopped after half
              the url buckets, then resumed under a second run id

--trace 0 reports the end-to-end metrics (median over passes).  --trace 1
runs the passes with Spark's UI on, reads stage metrics from Spark's
REST status API, replays the per-document path through each layer with
spans (written to .perfbench_work/spans/) and reports the per-layer
metrics; trace.docs_per_s against an untraced run's docs_per_s is the
cost of the UI, trace.overhead_frac the cost of recording spans.  Human-readable lines come first; the
last line of stdout is one JSON object.  Exits non-zero on any
correctness mismatch, and without a result when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: documents per workload at --scale 1, and the least share of
#: documents that must come out with a table
WORKLOADS = {
    "crawl_html": (6000, 0.0),
    "pdf_tables": (500, 0.5),
    "resume_job": (1200, 0.0),
}
MIN_PASSES = 3
#: session start-ups per end-to-end run; setup_s is their median
SETUPS = 3
#: the driver JVM's heap (local mode runs every task in it) and its
#: young generation
JVM_HEAP = "768m"
JVM_YOUNG = "256m"


def log(msg: str) -> None:
    print(msg, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_k() -> int:
    # half the CPUs run tasks; the rest serve the driver, the JVM's own
    # threads (scheduler, shuffle, GC) and the memory sampler
    return max(1, min(4, nproc() // 2))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside `work`, and
    put the package on the Python workers' path."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def start_spark(work: str, traced: bool):
    from pdf_parser_spark.session import get_spark

    conf = {
        # a fixed heap and young generation, so the JVM's RSS follows
        # the work rather than how far the collector's ergonomics let a
        # large default heap grow
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xms{JVM_HEAP} -Xmn{JVM_YOUNG} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = get_spark("perfbench", master=f"local[{spark_k()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and every
    Python worker it started has exited."""
    from pyspark import SparkContext

    from probes import process_tree

    started = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # the JVM exits when its stdin closes
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 60
        time.sleep(0.05)


def _import_layers(batches):
    """Worker side of the set-up warm-up (defined here, in the script,
    so it is shipped by value: the workers cannot import perfbench)."""
    import pdf_parser_spark.functions.charset  # noqa: F401
    import pdf_parser_spark.functions.chunk  # noqa: F401
    import pdf_parser_spark.functions.clean  # noqa: F401
    import pdf_parser_spark.html.boilerplate  # noqa: F401
    import pdf_parser_spark.jobs.extract  # noqa: F401
    import pdf_parser_spark.operators.exports  # noqa: F401
    import pdf_parser_spark.operators.tables  # noqa: F401
    import pdf_parser_spark.pdf.metadata  # noqa: F401
    import pdf_parser_spark.pdf.text  # noqa: F401

    yield from batches


def write_pages(docs, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"url": [d.url for d in docs],
                             "html": [d.payload for d in docs]}), path)


class Bench:
    """One benchmark process: a generated corpus written as a pages
    table, and the tallies of the passes run over it."""

    def __init__(self, workload: str, seed: int, docs, run_dir: str,
                 units: dict) -> None:
        from passes import md5_hex

        self.workload = workload
        self.seed = seed
        self.units = units
        self.docs = docs
        self.min_table_share = WORKLOADS[workload][1]
        self.expected_md5 = {d.url: md5_hex(d.expected_text) for d in docs}
        self.run_dir = run_dir
        self.pages = os.path.join(run_dir, "pages.parquet")
        write_pages(docs, self.pages)
        self.attempted = 0
        self.errors = 0
        self.problems = []
        self.pass_args = ()

    def setup(self, traced: bool):
        """Session start plus Python-worker warm-up: one task per slot,
        each importing the extraction layers.  Returns (spark, seconds)."""
        t0 = time.perf_counter()
        spark = start_spark(WORK, traced)
        try:
            k = spark_k()
            spark.range(0, k, 1, k).mapInPandas(_import_layers, "id long").collect()
        except BaseException:
            stop_spark(spark)
            raise
        return spark, time.perf_counter() - t0

    def one_pass(self, spark, label: str):
        """A pass over the corpus, checked against the generator."""
        from passes import check_rows, run_pass

        res = run_pass(self.workload, spark, self.pages,
                       os.path.join(self.run_dir, "out"), *self.pass_args)
        self.errors += check_rows(res, self.docs, self.expected_md5,
                                  self.min_table_share)
        self.attempted += res.n_docs
        self.problems.extend(res.problems)
        log(f"pass {label} docs={res.n_docs} wall_s={res.wall_s:.4f} "
            f"docs_per_s={res.n_docs / res.wall_s:.2f} k={spark_k()} "
            f"nproc={nproc()} load1={load1():.2f} "
            + " ".join(f"{k}={v:.4f}" for k, v in res.extra.items()))
        return res

    def passes(self, spark, seconds: float, on_pass=None) -> list:
        """One untimed pass that lets the JVM's JIT and the workers'
        caches settle, then timed passes for `seconds` (at least
        MIN_PASSES)."""
        if self.workload == "resume_job":
            from passes import bucket_split

            split = bucket_split(spark, self.pages)
            if sum(split) != len(self.docs):
                self.problems.append(f"bucket split {split} of {len(self.docs)} pages")
            self.pass_args = (split,)
        self.one_pass(spark, "warm")
        results = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(results) < MIN_PASSES:
            if on_pass is not None:
                on_pass(len(results))
            results.append(self.one_pass(spark, str(len(results))))
        return results


def median(values) -> float:
    return float(statistics.median(values))


def end_to_end(bench: Bench, seconds: float) -> dict:
    from probes import PeakRss

    setups = []
    for i in range(SETUPS):
        spark, s = bench.setup(traced=False)
        setups.append(s)
        log(f"setup {i} setup_s={s:.4f}")
        if i < SETUPS - 1:
            stop_spark(spark)
    try:
        with PeakRss() as mem:
            results = bench.passes(spark, seconds)
    finally:
        stop_spark(spark)
    metrics = {
        "docs_per_s": (median(r.n_docs / r.wall_s for r in results), "1/s"),
        "setup_s": (median(setups), "s"),
        "peak_rss_mb": (mem.peak_mb, "MB"),
    }
    report = dict(metrics)
    report["error_frac"] = (bench.errors / max(1, bench.attempted), "fraction")
    report["jvm_peak_rss_mb"] = (mem.jvm_peak_mb, "MB")
    if bench.workload == "resume_job":
        report["resume_s"] = (median(r.extra["resume_s"] for r in results), "s")
        report["written_mb"] = (median(r.extra["written_mb"] for r in results), "MB")
    for name, (value, unit) in report.items():
        log(f"metric {bench.workload} {name} {value:.6g} {unit}")
    return metrics


def stage_metrics(api, groups) -> tuple:
    """Extraction-stage metrics of one pass, whose extraction runs in
    the jobs of `groups`: summed task time (s), shuffle MB written, and
    the slowest task's run time over the median task's (tasks that read
    no rows, such as the empty heavy-tier partitions, excluded).

    In each group the extraction stage is the shuffle-reading stage with
    the most task time: it reads the url-hash repartition."""
    task_s = shuffle_mb = skew = 0.0
    for group in groups:
        stages = api.group_stages(group)
        stage = max((s for s in stages if s["shuffleReadBytes"] > 0),
                    key=lambda s: s["executorRunTime"])
        tasks = api.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                        "/taskList?length=100000")
        runs = [t["taskMetrics"]["executorRunTime"] for t in tasks
                if t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"] > 0]
        task_s += stage["executorRunTime"] / 1e3
        shuffle_mb += sum(s["shuffleWriteBytes"] for s in stages) / 1e6
        skew = max(skew, max(runs) / max(1.0, statistics.median(runs)))
    return task_s, shuffle_mb, skew


class PassTracer:
    """Tags each traced pass's Spark jobs with a job group and times the
    `append_table` calls `run_extract_job` makes.  Each documents append
    (the job running the extraction and write stages) gets a group of
    its own, so its stages are found apart from the lineage jobs."""

    def __init__(self, sc) -> None:
        import pdf_parser_spark.jobs.extract as jx

        self.sc = sc
        self.jx = jx
        self.plain_append = jx.append_table
        self.pass_group = None    # None until the first timed pass
        self.groups = []          # per pass: job groups of its extraction
        self.docs_append_s = []   # per pass: seconds in documents appends

    def on_pass(self, i: int) -> None:
        self.pass_group = f"pass{i}"
        self.groups.append([])
        self.docs_append_s.append(0.0)
        self.sc.setJobGroup(self.pass_group, f"perfbench pass {i}")

    def _append(self, df, ref, *args, **kwargs):
        if self.pass_group is None or not ref.endswith("documents.parquet"):
            return self.plain_append(df, ref, *args, **kwargs)
        group = f"{self.pass_group}-docs{len(self.groups[-1])}"
        self.groups[-1].append(group)
        self.sc.setJobGroup(group, "perfbench documents append")
        t0 = time.perf_counter()
        try:
            return self.plain_append(df, ref, *args, **kwargs)
        finally:
            self.docs_append_s[-1] += time.perf_counter() - t0
            self.sc.setJobGroup(self.pass_group, "perfbench pass")

    def __enter__(self) -> "PassTracer":
        self.jx.append_table = self._append
        return self

    def __exit__(self, *exc) -> None:
        self.jx.append_table = self.plain_append

    def extraction_groups(self):
        return [g or [f"pass{i}"] for i, g in enumerate(self.groups)]


def rewrite_s(spark, bench: Bench) -> float:
    """Median wall of `sources.append_table` re-writing a cached copy of
    a resumed job's documents table (the write alone, no extraction)."""
    from pdf_parser_spark.sources import append_table, read_table

    from passes import resume_pass

    out = os.path.join(bench.run_dir, "rewrite")
    shutil.rmtree(out, ignore_errors=True)
    try:
        resume_pass(spark, bench.pages, out, *bench.pass_args)
        docs = read_table(spark, os.path.join(out, "documents.parquet")).persist()
        docs.count()
        times = []
        for i in range(3):
            t0 = time.perf_counter()
            append_table(docs, os.path.join(out, f"rewrite{i}.parquet"))
            times.append(time.perf_counter() - t0)
        docs.unpersist()
        return median(times)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def traced(bench: Bench, seconds: float) -> dict:
    from layers import layer_metrics
    from probes import StatusApi

    resume = bench.workload == "resume_job"
    spark, _ = bench.setup(traced=True)
    try:
        with PassTracer(spark.sparkContext) as tracer:
            results = bench.passes(spark, seconds, tracer.on_pass)
        api = StatusApi(spark)
        stage = [stage_metrics(api, g) for g in tracer.extraction_groups()]
        write_s = rewrite_s(spark, bench) if resume else 0.0
    finally:
        stop_spark(spark)

    layers, extract_layers_s, spans = layer_metrics(bench.docs, bench.problems)
    spans.write(os.path.join(WORK, "spans",
                             f"{bench.workload}-seed{bench.seed}.jsonl"))
    stage_task_s = median(s[0] for s in stage)

    def extra(key):
        return median(r.extra[key] for r in results) if resume else 0.0

    metrics = dict(layers)
    metrics.update({
        "jobs.export_csv_s": (median(r.extra["export_csv_s"] for r in results)
                              if bench.workload == "pdf_tables" else 0.0),
        "jobs.extract.stage_task_s": stage_task_s,
        "jobs.extract.overhead_frac": 1.0 - extract_layers_s / stage_task_s,
        "jobs.extract.shuffle_mb": median(s[1] for s in stage),
        "jobs.extract.task_skew": median(s[2] for s in stage),
        "jobs.extract.lineage_s": (
            median(r.wall_s - a for r, a in zip(results, tracer.docs_append_s))
            if resume else 0.0),
        "jobs.extract.resume_s": extra("resume_s"),
        "jobs.extract.resume_redo_frac": extra("redo_frac"),
        "sources.write_s": write_s,
        "sources.files_written": extra("files_written"),
        "sources.written_mb": extra("written_mb"),
        "trace.docs_per_s": median(r.n_docs / r.wall_s for r in results),
    })
    units = bench.units
    for name, value in metrics.items():
        log(f"metric {bench.workload} {name} {value:.6g} {units[name]}")
    return {name: (value, units[name]) for name, value in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the smoke test runs 0.02)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_parser_spark", "__init__.py")):
        print(f"pdf_parser_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}

    from gen import corpus

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    prepare_env(WORK)
    try:
        n = max(16, int(WORKLOADS[args.workload][0] * args.scale))
        bench = Bench(args.workload, args.seed,
                      corpus(args.workload, args.seed, n), run_dir, units)
        log(f"workload {args.workload} seed={args.seed} docs={n} "
            f"k={spark_k()} nproc={nproc()} load1={load1():.2f}")
        if args.trace:
            metrics = traced(bench, args.seconds)
        else:
            metrics = end_to_end(bench, args.seconds)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in bench.problems[:20]:
        print(f"MISMATCH {p}", file=sys.stderr)
    correct = not bench.problems and bench.errors == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.errors,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
