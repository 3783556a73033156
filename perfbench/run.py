"""zpdfspark benchmark driver.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload at local[nproc] in this process and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Every run first feeds the
correctness gate an altered and a dropped row and counts it as a failed
operation unless both are caught.

Workloads (BENCHMARK.json has the one-line reasons):

- pdf_heavy: ``extract_dataframe(df, "accuracy")`` into the noop sink
  over the heavy-profile corpus. The kernel dominates.
- crawl_pipeline: ``run_extraction_job(single_pass=True)`` over the
  mixed-profile corpus (every generator: HTML, office, text, media, PDF
  features, encrypted, malformed), then the resume call. The pipeline
  layer dominates.
- curation_queries: a fixed list of ``queries()`` entries, each a
  ``collect`` of a freshly built DataFrame. The relational shell, the
  ordering exchange and the payload queries dominate.

Inputs come from ``--seed`` and are generated before any timing into
``.perfbench/cache`` (keyed by generator version, profile, size, seed);
the registry's corpus path is pointed at that cache. Set-up is session
creation plus worker warm-up: the first session launches the gateway
JVM, then the session is stopped and set up again SETUP_REPS times on
that JVM (the median is reported; the last session runs the workload).
Each workload operation runs WARMUP_REPS times while the JVM compiles,
then is repeated until ``--seconds`` have passed and at least MIN_REPS
measured runs are done; times are medians over the measured runs (for
curation_queries, the sum of each query's median collect). Sessions
allow four attempts per task, so a failed task shows in task_ok_share
instead of aborting the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("pdf_heavy", "crawl_pipeline", "curation_queries")
# Set-ups within one run differ by about 5%, far less than runs differ
# from each other, so a median of 3 is as steady as one of more; each
# set-up also costs a ~1 s context stop.
SETUP_REPS = 3
# Repetitions run before the measured ones and left out of wall_s: the
# first operations on a new JVM run 1.5-3x slower while it compiles its
# hot paths (for curation_queries one repetition is a pass over every
# query). The pipeline's many small jobs take longest to settle.
WARMUP_REPS = {"pdf_heavy": 2, "crawl_pipeline": 3, "curation_queries": 1}
# Measured repetitions per run, at least. The curation_queries wall is a
# sum of twelve per-query medians and is steady with fewer passes.
MIN_REPS = {"pdf_heavy": 6, "crawl_pipeline": 5, "curation_queries": 3}
# Not 256: one cold 256-bucket job alone takes 15-25 s on a 4-core host,
# so a run could not repeat it; at 32 buckets about a third of the job is
# still per-bucket work (see pipeline.bucket_cost_s).
CRAWL_BUCKETS = 32
QUERIES = (
    # the nine queries bench.py times
    "extract_fast", "extract_spans", "dedup_exact", "minhash_signatures",
    "token_counts", "ann_topk", "substring_dedup", "hll_host_distinct",
    "cms_token_freq",
    # payload queries that ship every corpus blob across the boundary
    "exif_meta", "flac_meta", "docx_meta",
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Run:
    """State of one benchmark run: its spark session, tracer, inputs
    and the counters the gate and the metrics are built from."""

    def __init__(self, args, work_dir: str, cache_dir: str):
        from perfbench import harness

        self.args = args
        self.work = work_dir
        self.cache = cache_dir
        self.cpu_ids = harness.cpus()
        self.cores = len(self.cpu_ids)
        self.run_id = (f"{args.workload}-s{args.seed}-t{args.trace}"
                       f"-{os.getpid()}")
        self.tracer = harness.Tracer(self.run_id, enabled=bool(args.trace))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.violations: list[str] = []
        self.walls: list[float] = []
        self.warmup_walls: list[float] = []
        self.wall: float | None = None
        self.tasks = 0
        self.failed_tasks = 0
        self.shares: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.checked = {"inputs": 0, "one_row": 0, "truth": 0,
                        "parity_ok": 0, "rows": 0, "error_docs": 0}

    # -- inputs --------------------------------------------------------

    def prepare_inputs(self) -> float:
        from perfbench import gate, inputs

        t0 = time.perf_counter()
        made = False
        wl = self.args.workload
        self.registry = None
        if wl == "pdf_heavy":
            self.corpus, made = inputs.corpus(
                self.cache, "heavy", inputs.HEAVY_DOCS, self.args.seed)
        elif wl == "crawl_pipeline":
            self.corpus, made = inputs.corpus(
                self.cache, "mixed", inputs.CRAWL_DOCS, self.args.seed)
        if wl == "curation_queries" or self.args.trace:
            sf_dir, reg_corpus, m = inputs.registry_inputs(
                self.cache, self.args.seed)
            made |= m
            self.registry = (sf_dir, reg_corpus)
            if wl == "curation_queries":
                self.corpus = reg_corpus
        self.expected = gate.Expected(*inputs.read_truth(self.corpus))
        gen_s = time.perf_counter() - t0
        log(json.dumps({"inputs": self.corpus, "docs": len(self.expected),
                        "generated": made, "gen_s": gen_s}))
        return gen_s

    def bind_registry(self) -> None:
        """Point the queries() registry at this run's generated inputs;
        the WARC/BPE fixtures oracle_sql() also builds are not used by
        the queries measured here, so they are not generated."""
        import __spark_entry__ as entry

        sf_dir, corpus = self.registry
        entry._corpus_path = lambda _sf: corpus
        entry._warc_paths = lambda _sf: (
            os.path.join(self.work, "unused", "*.warc.gz"),
            os.path.join(self.work, "unused", "expected_records.parquet"))
        entry._bpe_expected = lambda _sf: (
            os.path.join(self.work, "unused", "bpe.parquet"),
            os.path.join(self.work, "unused", "bpe_merges.parquet"))
        self.sf_dir = sf_dir
        self.qs = entry.queries()

    # -- session -------------------------------------------------------

    def setup(self) -> float:
        """Open the first session (which also launches the gateway JVM),
        then SETUP_REPS times stop it and set up again on the running
        JVM: get_spark plus the worker warm-up. Stopping the context
        stops its Python workers, so every set-up starts new ones.
        Returns the median of the repeated set-ups; the last session
        stays up and runs the workload."""
        import bench

        from perfbench import harness

        times = []
        for i in range(SETUP_REPS + 1):
            if self.spark is not None:
                self.spark.stop()
                self.tracer.spark = None
            with self.tracer.span("session.get_spark"):
                t0 = time.perf_counter()
                self.spark = harness.open_session(
                    self.cores, f"perfbench-{self.args.workload}", self.work)
                get_s = time.perf_counter() - t0
            self.tracer.spark = self.spark
            with self.tracer.span("session.worker_warm"):
                t0 = time.perf_counter()
                bench._warm_workers(self.spark, self.cores)
                times.append((get_s, time.perf_counter() - t0))
        first, again = times[0], times[1:]
        self.layer["session.jvm_setup_s"] = sum(first)
        self.layer["session.get_spark_s"] = harness.median(
            g for g, _ in again)
        self.layer["session.worker_warm_s"] = harness.median(
            w for _, w in again)
        bench._pin_tree(set(self.cpu_ids))
        return harness.median(g + w for g, w in again)

    def stop(self) -> None:
        from perfbench import harness

        if self.spark is not None:
            harness.stop_session(self.spark)
            self.spark = self.tracer.spark = None

    # -- measured repetitions -------------------------------------------

    def repeat(self, op, after=None) -> None:
        """Run ``op`` WARMUP_REPS times, then until --seconds have passed
        and the workload's MIN_REPS measured runs are done. Every run is
        gated and counted in the task share; only the measured ones are
        in ``walls``. ``after(result)`` runs untimed after each one."""
        wl = self.args.workload
        warmup, min_reps = WARMUP_REPS[wl], MIN_REPS[wl]
        k = 0
        start = time.perf_counter()
        while (k < warmup + min_reps
               or time.perf_counter() - start < self.args.seconds):
            if k == warmup:
                start = time.perf_counter()     # the measured window opens
            with self.tracer.span("workload.op", always=True) as rec:
                t0 = time.perf_counter()
                result = op(k)
                dt = time.perf_counter() - t0
            (self.walls if k >= warmup else self.warmup_walls).append(dt)
            self.tasks += rec["tasks"]
            self.failed_tasks += rec["failed_tasks"]
            if after is not None:
                after(result)
            k += 1

    def record_extraction(self, rows, what: str) -> None:
        """Gate one extraction output; the shares cover every output
        checked in the run."""
        from perfbench import gate

        res = gate.check_extraction(self.expected, rows)
        self.attempted += res["inputs"]
        self.failed += len(res["bad"])
        if res["bad"]:
            self.violations.append(
                f"{what}: {len(res['bad'])} urls fail the gate, "
                f"e.g. {res['bad'][:3]}")
        c = self.checked
        for k in c:
            c[k] += res[k]
        self.shares = {
            "parity_ok_share": c["parity_ok"] / max(c["truth"], 1),
            "row_ok_share": c["one_row"] / c["inputs"],
        }
        self.layer["gate.error_doc_share"] = (c["error_docs"]
                                              / max(c["rows"], 1))

    def wall_s(self) -> float:
        """The workload's wall time: the median repetition, unless the
        runner set a more specific definition."""
        from perfbench import harness

        return self.wall if self.wall is not None else harness.median(
            self.walls)

    def invariant(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.violations.append(what)


# -- workloads ------------------------------------------------------------


def pdf_heavy(run: Run) -> None:
    import pyspark.sql.functions as F

    from zpdfspark.spark.udfs import extract_dataframe

    spark, tracer = run.spark, run.tracer

    def op(_k):
        with tracer.span("read.parquet"):
            df = spark.read.parquet(run.corpus)
        with tracer.span("udfs.extract_dataframe.noop"):
            extract_dataframe(df, "accuracy").write.format("noop") \
                .mode("overwrite").save()

    run.repeat(op)
    # the noop sink keeps nothing: one more (untimed) pass feeds the gate
    with tracer.span("gate.collect"):
        rows = (extract_dataframe(spark.read.parquet(run.corpus), "accuracy")
                .select("url", F.sha2("extracted_text", 256),
                        "error_count").collect())
    run.record_extraction(rows, "pdf_heavy")


def _read_output(out_dir: str):
    import pyarrow.parquet as pq

    from perfbench import gate

    t = pq.read_table(os.path.join(out_dir, "data"),
                      columns=["url", "extracted_text", "error_count"])
    return [(u, gate.digest(x), e) for u, x, e in zip(
        t.column("url").to_pylist(), t.column("extracted_text").to_pylist(),
        t.column("error_count").to_pylist())]


def crawl_pipeline(run: Run) -> None:
    from perfbench.ladder import read_lineage
    from zpdfspark.spark.pipeline import run_extraction_job

    spark, tracer = run.spark, run.tracer

    def op(k):
        out = os.path.join(run.work, f"job{k}")
        with tracer.span("pipeline.run_extraction_job"):
            first = run_extraction_job(spark, run.corpus, out,
                                       single_pass=True,
                                       n_buckets=CRAWL_BUCKETS)
        with tracer.span("pipeline.resume"):
            again = run_extraction_job(spark, run.corpus, out,
                                       single_pass=True,
                                       n_buckets=CRAWL_BUCKETS)
        return out, first, again

    def check(result):
        out, first, again = result
        run.record_extraction(_read_output(out), "crawl_pipeline output")
        n = len(run.expected)
        lineage = sum(r["n_docs"] for r in read_lineage(out))
        run.invariant(lineage == n,
                      f"lineage n_docs sum {lineage} != {n} input docs")
        run.invariant(first["docs"] == n,
                      f"job summary docs {first['docs']} != {n}")
        run.invariant(again["buckets_run"] == 0,
                      f"resume ran {again['buckets_run']} buckets")
        shutil.rmtree(out, ignore_errors=True)

    run.repeat(op, after=check)


def curation_queries(run: Run) -> None:
    import duckdb

    import __spark_entry__ as entry
    from perfbench import gate, harness

    spark, tracer = run.spark, run.tracer
    oracle_sql = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(run.sf_dir, t + '.parquet')}'")
    want = {}
    for q in QUERIES:
        cur = con.execute(oracle_sql[q])
        want[q] = gate.normalize(cur.fetchall(),
                                 [d[0] for d in cur.description])
    con.close()
    got: list[tuple[str, list, list]] = []
    times: dict[str, list[float]] = {q: [] for q in QUERIES}

    def op(k):
        for q in QUERIES:
            df = run.qs[q](spark, run.sf_dir)
            with tracer.span(f"queries.{q}.collect"):
                t0 = time.perf_counter()
                rows = df.collect()
                if k >= WARMUP_REPS["curation_queries"]:
                    times[q].append(time.perf_counter() - t0)
            got.append((q, df.columns, rows))

    checks = {"match": 0, "runs": 0, "rows_ok": 0, "rows_max": 0,
              "err": 0, "n": 0}

    def check(_result):
        for q, cols, rows in got:
            res = gate.check_query(gate.normalize(rows, cols), want[q])
            checks["runs"] += 1
            checks["match"] += res["match"]
            checks["rows_ok"] += res["rows_ok"]
            checks["rows_max"] += res["rows_max"]
            run.attempted += 1
            if not res["match"]:
                run.failed += 1
                run.violations.append(
                    f"{q}: {res['rows']} rows vs oracle "
                    f"{res['oracle_rows']}, {res['rows_ok']} equal")
            if q == "extract_fast":
                i = cols.index("error_count")
                checks["err"] += sum(1 for r in rows if r[i])
                checks["n"] += len(rows)
        got.clear()

    run.repeat(op, after=check)
    # each query's median cold collect, summed: a burst of host load
    # that hits one query in one pass does not move the sum
    run.wall = sum(harness.median(t) for t in times.values())
    run.shares = {
        "parity_ok_share": checks["match"] / checks["runs"],
        "row_ok_share": checks["rows_ok"] / max(checks["rows_max"], 1),
    }
    run.layer["gate.error_doc_share"] = checks["err"] / max(checks["n"], 1)


RUNNERS = {"pdf_heavy": pdf_heavy, "crawl_pipeline": crawl_pipeline,
           "curation_queries": curation_queries}


# -- per-layer (traced) -------------------------------------------------


def layer_metrics(run: Run) -> dict:
    """Every per-layer metric, measured on this workload's corpus."""
    import pyarrow.parquet as pq

    from perfbench import harness, ladder

    m = dict(run.layer)
    blobs = [bytes(b) for b in
             pq.read_table(run.corpus, columns=["html"]).column("html")
             .to_pylist()]
    sample = blobs[:ladder.KERNEL_SAMPLE]
    with run.tracer.span("kernel.probe"):
        m.update(ladder.kernel_probe(sample))
    kernel_s = m["kernel.parse_s"] + m["kernel.extract_s"] + m[
        "kernel.dispatch_s"]
    with run.tracer.span("udfs.extract_arrow_batches.inprocess"):
        m["udfs.overhead_s"] = ladder.udfs_fn_seconds(
            run.corpus, len(sample),
            int(run.spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"))) - kernel_s
    with run.tracer.span("kernel.multiprocessing"):
        m["kernel.mp_docs_per_s"] = ladder.mp_docs_per_s(blobs, run.cores)
    m.update(ladder.spark_rungs(run.spark, run.tracer, run.corpus,
                                run.cores))
    m["udfs.spark_vs_bare"] = (len(blobs) / m["udfs.extract_noop_s"]
                               / m["kernel.mp_docs_per_s"])
    pipe = ladder.pipeline_layer(run.spark, run.tracer, run.corpus,
                                 run.work, CRAWL_BUCKETS)
    run.invariant(pipe.pop("_resume_buckets_run") == 0,
                  "ladder resume ran buckets")
    m.update(pipe)
    m["pipeline.write_tail_s"] = (m["pipeline.job_s_b8"]
                                  - m["udfs.extract_noop_s"])
    m.update(ladder.query_layer(run.spark, run.tracer, run.qs, QUERIES,
                                run.sf_dir))
    # Blocking path of the workload's measured operation, summed from
    # rungs that are each timed on their own (none is the operation
    # itself or a difference taken from it); the residual is what they
    # do not account for.
    wl = run.args.workload
    if wl == "pdf_heavy":
        # scan -> Arrow boundary, then the kernel at its bare ceiling
        path = (m["scan.read_s"] + m["udfs.boundary_s"]
                + len(blobs) / m["kernel.mp_docs_per_s"])
    elif wl == "crawl_pipeline":
        # extraction into noop, the partitioned write, the resume call
        path = (m["udfs.extract_noop_s"] + m["pipeline.write_s"]
                + m["pipeline.resume_s"])
    else:
        # each query run into noop; the residual is what collect adds
        path = sum(m[f"queries.{q}.noop_s"] for q in QUERIES)
    m["trace.wall_s"] = run.wall_s()
    m["trace.path_s"] = path
    m["trace.residual_s"] = m["trace.wall_s"] - path
    return m


_T, _C = ("s", "lower"), ("count", "lower")
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.jvm_setup_s": _T,
    "session.get_spark_s": _T,
    "session.worker_warm_s": _T,
    "kernel.docs_per_s_1core": ("1/s", "higher"),
    "kernel.parse_s": _T,
    "kernel.extract_s": _T,
    "kernel.dispatch_s": _T,
    "kernel.doc_p50_ms": ("ms", "lower"),
    "kernel.doc_p99_ms": ("ms", "lower"),
    "kernel.doc_max_ms": ("ms", "lower"),
    "kernel.mp_docs_per_s": ("1/s", "higher"),
    "udfs.overhead_s": _T,
    "udfs.boundary_s": _T,
    "udfs.extract_noop_s": _T,
    "udfs.spark_vs_bare": ("ratio", "higher"),
    "scan.read_s": _T,
    "scan.tasks": _C,
    "scan.waves": _C,
    "scan.last_wave_tasks": ("count", "higher"),
    "scan.task_p50_s": _T,
    "scan.task_max_s": _T,
    "pipeline.job_s": _T,
    "pipeline.job_s_b8": _T,
    "pipeline.write_s": _T,
    "pipeline.bucket_cost_s": _T,
    "pipeline.write_tail_s": _T,
    "pipeline.files_written": _C,
    "pipeline.bytes_written": ("bytes", "lower"),
    "pipeline.resume_s": _T,
    "pipeline.lineage_docs": ("count", "higher"),
    "gate.error_doc_share": ("share", "lower"),
    **{f"queries.{q}.{k}": u for q in QUERIES for k, u in (
        ("cold_s", _T), ("noop_s", _T), ("jobs", _C), ("tasks", _C))},
    "trace.wall_s": _T,
    "trace.path_s": _T,
    "trace.residual_s": _T,
}


# -- main -----------------------------------------------------------------


def _env(work_dir: str) -> None:
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench import gate, harness

    try:
        import zpdfspark.kernel  # noqa: F401
        import zpdfspark.spark.pipeline  # noqa: F401
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2

    state = os.path.join(ROOT, ".perfbench")
    cache_dir = os.path.join(state, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    work_dir = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    _env(work_dir)
    run = Run(args, work_dir, cache_dir)
    gate_ok = gate.self_test()
    log(f"gate self-test (altered row, dropped row, duplicated row): "
        f"{'caught' if gate_ok else 'NOT caught'}")
    run.invariant(gate_ok, "gate self-test did not catch the damaged rows")
    try:
        gen_s = run.prepare_inputs()
        if run.registry is not None:
            run.bind_registry()
        setup_s = run.setup()
        sampler = harness.RssSampler().start()
        try:
            RUNNERS[args.workload](run)
        finally:
            peak_mb = sampler.stop()
        if args.trace:
            layers = layer_metrics(run)
    finally:
        run.stop()
        shutil.rmtree(work_dir, ignore_errors=True)

    wall = run.wall_s()
    if args.trace:
        run.tracer.dump(os.path.join(state, "traces", f"{run.run_id}.json"),
                        {"workload": args.workload, "seed": args.seed,
                         "gen_s": gen_s, "setup_s": setup_s,
                         "warmup_walls": run.warmup_walls, "walls": run.walls,
                         "layers": layers})
        if set(layers) != set(PER_LAYER):
            raise RuntimeError(f"per-layer metrics differ from PER_LAYER: "
                               f"{sorted(set(layers) ^ set(PER_LAYER))}")
        metrics = {k: _metric(layers[k], PER_LAYER[k][0]) for k in PER_LAYER}
    else:
        metrics = {
            "wall_s": _metric(wall, "s"),
            "docs_per_s": _metric(len(run.expected) / wall, "1/s"),
            "setup_s": _metric(setup_s, "s"),
            "peak_rss_mb": _metric(peak_mb, "MB"),
            "parity_ok_share": _metric(run.shares["parity_ok_share"],
                                       "share"),
            "row_ok_share": _metric(run.shares["row_ok_share"], "share"),
            "task_ok_share": _metric(
                1.0 - run.failed_tasks / max(run.tasks, 1), "share"),
        }
    for v in run.violations:
        log(f"gate violation: {v}")
    log(json.dumps({"workload": args.workload, "seed": args.seed,
                    "gen_s": gen_s, "setup_s": setup_s,
                    "warmup_walls": run.warmup_walls, "walls": run.walls,
                    "tasks": run.tasks, "failed_tasks": run.failed_tasks}))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
