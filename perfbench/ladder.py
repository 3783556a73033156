"""Per-layer measurements for the traced run.

Each layer is timed from outside, around calls into its public
functions, on the workload's own corpus:

- kernel: ``Document(raw)`` / ``extract_all`` and the ``extract_any``
  dispatcher, in-process on one core, plus bench.py's bare
  ``multiprocessing`` baseline at the run's core count;
- udfs: the ``extract_arrow_batches`` fn over pyarrow batches in-process,
  and the Spark ladder rungs scan -> identity ``mapInArrow`` ->
  ``extract_dataframe`` into the ``noop`` sink;
- scan: the parquet scan and the extraction stage's task waves;
- pipeline: ``run_extraction_job`` at two bucket counts, its output
  listing, its lineage, the resume call and a partitioned write of the
  job's own output;
- queries: each ``queries()`` entry as a cold ``collect`` and as a
  ``noop`` write.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

from perfbench import harness

KERNEL_SAMPLE = 400     # docs in the single-core kernel probe
RUNG_REPS = 3           # repetitions of each Spark ladder rung (median)
PIPE_BUCKETS_LOW = 8


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(math.ceil(q * len(xs))) - 1)]


def kernel_probe(blobs: list[bytes]) -> dict:
    """Single-core kernel time over ``blobs``: ``Document(raw)`` parse
    and ``extract_all`` for PDFs, ``extract_any`` for every other kind."""
    from zpdfspark.kernel import Document
    from zpdfspark.kernel.htmltext import extract_any

    for raw in blobs[:20]:          # imports and first-call set-up
        extract_any(raw, "accuracy")
    parse = extract = dispatch = 0.0
    lat = []
    for raw in blobs:
        t0 = time.perf_counter()
        if raw.startswith(b"%PDF-"):
            doc = Document(raw)
            t1 = time.perf_counter()
            doc.extract_all("accuracy")
            t2 = time.perf_counter()
            parse += t1 - t0
            extract += t2 - t1
        else:
            extract_any(raw, "accuracy")
            t2 = time.perf_counter()
            dispatch += t2 - t0
        lat.append((t2 - t0) * 1000.0)
    total = parse + extract + dispatch
    return {
        "kernel.docs_per_s_1core": len(blobs) / total,
        "kernel.parse_s": parse,
        "kernel.extract_s": extract,
        "kernel.dispatch_s": dispatch,
        "kernel.doc_p50_ms": statistics.median(lat),
        "kernel.doc_p99_ms": _pct(lat, 0.99),
        "kernel.doc_max_ms": max(lat),
    }


def udfs_fn_seconds(path: str, n_docs: int, batch_rows: int) -> float:
    """In-process time of the ``extract_arrow_batches`` fn over the
    first ``n_docs`` rows, in Arrow batches of ``batch_rows``."""
    import pyarrow.parquet as pq

    from zpdfspark.spark.udfs import extract_arrow_batches

    table = pq.read_table(path, columns=["url", "html"]).slice(0, n_docs)
    batches = table.to_batches(max_chunksize=batch_rows)
    fn = extract_arrow_batches("accuracy")
    t0 = time.perf_counter()
    for _ in fn(iter(batches)):
        pass
    return time.perf_counter() - t0


# bare multiprocessing -------------------------------------------------


def mp_docs_per_s(blobs: list[bytes], cores: int) -> float:
    """bench.py's bare-``multiprocessing`` baseline (``_mp_run``:
    ``Document(raw).extract_all`` in one pinned worker per core) over
    the PDF docs of ``blobs``: the kernel's throughput ceiling without
    Spark. The pool forks this process, which has imported the kernel
    already, so no worker pays the import inside the timed region."""
    import bench
    import zpdfspark.kernel  # noqa: F401

    pdfs = [raw for raw in blobs if raw.startswith(b"%PDF-")]
    return len(pdfs) / bench._mp_run(cores, pdfs)


# Spark rungs ----------------------------------------------------------


def _identity(batches):
    yield from batches


def spark_rungs(spark, tracer, path: str, cores: int) -> dict:
    """Median of RUNG_REPS runs of each rung over the same input:
    scan + sum(length(html)); scan + identity mapInArrow -> noop;
    scan + extract_dataframe -> noop. Scan-stage wave figures come
    from the last extraction rung."""
    import pyspark.sql.functions as F

    from zpdfspark.spark.udfs import extract_dataframe

    def read():
        with tracer.span("read.parquet"):
            return spark.read.parquet(path)

    def scan():
        read().select(F.sum(F.length("html"))).collect()

    def boundary():
        df = read().select("url", "html")
        df.mapInArrow(_identity, df.schema).write.format("noop") \
            .mode("overwrite").save()

    def extract():
        extract_dataframe(read(), "accuracy").write.format("noop") \
            .mode("overwrite").save()

    times: dict[str, list[float]] = {}
    last = None
    for _ in range(RUNG_REPS):
        for name, fn in (("scan", scan), ("boundary", boundary),
                         ("extract_noop", extract)):
            with tracer.span(f"ladder.{name}") as rec:
                t0 = time.perf_counter()
                fn()
                times.setdefault(name, []).append(time.perf_counter() - t0)
            last = rec
    read_s = harness.median(times["scan"])
    boundary_s = harness.median(times["boundary"]) - read_s
    # the extraction rung is one map-only stage: the scan's task waves
    stage, attempt, tasks = max(last["stage_ids"], key=lambda s: s[2])
    p50, pmax = harness.task_run_times(spark, stage, attempt, (0.5, 1.0))
    waves = math.ceil(tasks / cores)
    return {
        "scan.read_s": read_s,
        "udfs.boundary_s": boundary_s,
        "udfs.extract_noop_s": harness.median(times["extract_noop"]),
        "scan.tasks": tasks,
        "scan.waves": waves,
        "scan.last_wave_tasks": tasks - (waves - 1) * cores,
        "scan.task_p50_s": p50,
        "scan.task_max_s": pmax,
    }


# pipeline --------------------------------------------------------------


def read_lineage(out_dir: str) -> list[dict]:
    rows = []
    lineage = os.path.join(out_dir, "_lineage")
    for name in sorted(os.listdir(lineage)):
        if name.endswith(".json"):
            with open(os.path.join(lineage, name)) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def _listing(data_dir: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def pipeline_layer(spark, tracer, path: str, work_dir: str,
                   buckets: int) -> dict:
    """run_extraction_job on the same input at PIPE_BUCKETS_LOW and at
    ``buckets``, then the resume call, then the write rung: the job's
    extracted rows, read back from its output, shuffled to the job's
    default writer-task count and written partitioned by bucket, which
    times the writer exchange and the partitioned write without the
    extraction before them."""
    from zpdfspark.spark.pipeline import run_extraction_job

    def job(n_buckets: int, out: str) -> float:
        with tracer.span(f"pipeline.run_extraction_job.b{n_buckets}"):
            t0 = time.perf_counter()
            run_extraction_job(spark, path, out, single_pass=True,
                               n_buckets=n_buckets)
            return time.perf_counter() - t0

    d = os.path.join(work_dir, f"ladder_b{PIPE_BUCKETS_LOW}")
    low_s = job(PIPE_BUCKETS_LOW, d)
    shutil.rmtree(d, ignore_errors=True)
    d = os.path.join(work_dir, f"ladder_b{buckets}")
    job_s = job(buckets, d)
    with tracer.span("pipeline.resume"):
        t0 = time.perf_counter()
        resume = run_extraction_job(spark, path, d, single_pass=True,
                                    n_buckets=buckets)
        resume_s = time.perf_counter() - t0
    files, size = _listing(os.path.join(d, "data"))
    lineage_docs = sum(r["n_docs"] for r in read_lineage(d))
    with tracer.span("pipeline.write"):
        t0 = time.perf_counter()
        (spark.read.parquet(os.path.join(d, "data"))
         .repartition(2 * spark.sparkContext.defaultParallelism, "bucket")
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(work_dir, "ladder_write")))
        write_s = time.perf_counter() - t0
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(os.path.join(work_dir, "ladder_write"), ignore_errors=True)
    return {
        "pipeline.job_s": job_s,
        "pipeline.write_s": write_s,
        "pipeline.job_s_b8": low_s,
        "pipeline.bucket_cost_s": job_s - low_s,
        "pipeline.resume_s": resume_s,
        "pipeline.files_written": files,
        "pipeline.bytes_written": size,
        "pipeline.lineage_docs": lineage_docs,
        "_resume_buckets_run": resume["buckets_run"],
    }


# queries ---------------------------------------------------------------


def query_layer(spark, tracer, qs, names, sf_dir) -> dict:
    """Per query: a cold collect of a freshly built DataFrame, then a
    noop write of another freshly built one, with the Spark jobs and
    tasks the collect launched."""
    out = {}
    for q in names:
        df = qs[q](spark, sf_dir)
        with tracer.span(f"queries.{q}.collect") as rec:
            t0 = time.perf_counter()
            df.collect()
            out[f"queries.{q}.cold_s"] = time.perf_counter() - t0
        out[f"queries.{q}.jobs"] = rec["jobs"]
        out[f"queries.{q}.tasks"] = rec["tasks"]
        df = qs[q](spark, sf_dir)
        with tracer.span(f"queries.{q}.noop"):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out[f"queries.{q}.noop_s"] = time.perf_counter() - t0
    return out
