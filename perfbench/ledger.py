"""Traced run: the per-layer ledger, measured from outside the engine.

Every number here comes from calls into the engine's public functions
made from this file, each inside a span of the ``Tracer``:

* a noop-sink ladder in the job's batch shape — scan, + salted
  repartition, + identity ``mapInPandas``, + the full extraction kernel —
  whose top rung plus a commit-only job is compared with the untraced job
  wall (``ledger.unattributed_share``);
* single-process calls of the kernel's functions on a page sample;
* lineage probes: commit-only job, crash leg, resume, no-op rerun, audit;
* the training-data rehearsal's JVM-side stages (Gopher gate, exact dedup,
  near-dup clusters, stratified sample) chained over staged tables of
  seeded webify pages, each operator timed on its staged input;
* a second Spark application at ``local[1]`` for ``scaling.eff``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

import corpus
from probes import calib_ms, spark_jobs, spark_tasks

KERNEL_SAMPLE = 400
FRAME_ROWS = 256
STAGE_DOCS = 400
LADDER_REPS = 2        # ladder rungs and the commit-only job: median of 2
WIDTH_WORKER_MEM = "3g"


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer: Tracer, name: str, fn, reps: int = 1) -> float:
    """Median wall of ``reps`` spans of ``fn``."""
    walls = []
    for _ in range(reps):
        with tracer.span(name) as s:
            fn()
        walls.append(tracer.seconds(s))
    return statistics.median(walls)


class WidthWorker:
    """The ``local[1]`` application of the scaling probe (see width_worker.py)."""

    def __init__(self, workload: str, seed: int, width: int, work: str):
        os.makedirs(work, exist_ok=True)
        # its JVM runs beside the main one for the whole traced run, so it
        # gets a 3g heap instead of the engine's 8g default; a local[1] job
        # over the workload's pages needs far less
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "width_worker.py"),
             workload, str(seed), str(width), work],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM=WIDTH_WORKER_MEM))

    def _line(self) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("width worker exited early")
            line = line.strip()
            if line == "ready" or line.startswith("{"):
                return line

    def ready(self) -> None:
        self._line()

    def run_pass(self) -> dict:
        self.proc.stdin.write("pass\n")
        self.proc.stdin.flush()
        return json.loads(self._line())

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
            except OSError:
                pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def kernel_layers(pages_path: str) -> dict:
    """Single-process kernel calls on the first KERNEL_SAMPLE pages."""
    import pyarrow.parquet as pq

    from ocr_award_extractor_spark.functions.batching import records_to_frame
    from ocr_award_extractor_spark.functions.extract import extract_fields
    from ocr_award_extractor_spark.functions.htmltext import extract_page, segment_html
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        OUT_SCHEMA, extract_batch, extract_record,
    )

    sample = pq.read_table(pages_path).slice(0, KERNEL_SAMPLE).to_pandas()
    htmls = list(sample["html"])
    n = len(htmls)
    decoded = []
    for h in htmls:
        try:
            decoded.append(h.decode("utf-8"))
        except UnicodeDecodeError:
            pass

    def rate(fn, items, reps=3) -> float:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            walls.append(time.perf_counter() - t0)
        return len(items) / statistics.median(walls)

    pages = [extract_page(h) for h in htmls]
    lines = [p["lines"] for p in pages if p["status"] == "success"]
    records = [extract_record(u, t, lg, h) for u, t, lg, h in
               zip(sample["url"], sample["warc_ts"], sample["lang"], htmls)]
    cols = [f.name for f in OUT_SCHEMA.fields]
    frame_walls = []
    for _ in range(20):
        t0 = time.perf_counter()
        records_to_frame(records[:FRAME_ROWS], cols)
        frame_walls.append(time.perf_counter() - t0)
    batches = [sample.iloc[i:i + FRAME_ROWS][["url", "warc_ts", "lang", "html"]]
               for i in range(0, n, FRAME_ROWS)]
    batch_walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        out = list(extract_batch(iter(batches)))
        batch_walls.append(time.perf_counter() - t0)
    if sum(len(o) for o in out) != n:
        raise RuntimeError("extract_batch lost rows on the kernel sample")
    return {
        "htmltext.segment_docs_per_s": rate(segment_html, decoded),
        "htmltext.page_docs_per_s": rate(extract_page, htmls),
        "htmltext.repair_share": sum(p.get("strategy") == "repair" for p in pages) / n,
        "extract.fields_docs_per_s": rate(extract_fields, lines),
        "batching.frame_ms": statistics.median(frame_walls) * 1000.0,
        "kernel.docs_per_s_core": n / statistics.median(batch_walls),
    }


def ladder(tracer: Tracer, wl, width: int) -> dict:
    """Noop-sink ladder in the job's batch shape: each rung runs over the
    split slices the job commits (``wl.job_batches()``), overlapped as deep
    as ``run_resumable_extraction`` overlaps them. Returns the cumulative
    wall of each rung."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import StructType

    from ocr_award_extractor_spark.config import SALT_SEED
    from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
    from ocr_award_extractor_spark.plans.lineage import with_split_id

    keyed = with_split_id(wl.pages, wl.n_splits)
    slices = [keyed.where(F.col("split_id").isin(b)).drop("split_id")
              for b in wl.job_batches()]
    schema = StructType(wl.pages.select("url", "warc_ts", "lang", "html").schema.fields)

    # local, so cloudpickle ships it by value: Python workers cannot import
    # this module
    def identity(batches):
        yield from batches

    def cols(df):
        return df.select("url", "warc_ts", "lang", "html")

    def salted(df):
        return cols(df).repartition(width, F.xxhash64("url", F.lit(SALT_SEED)))

    def rung(build):
        with ThreadPoolExecutor(max_workers=min(4, len(slices))) as pool:
            list(pool.map(lambda df: _noop(build(df)), slices))

    return {
        "scan": _timed(tracer, "sources.scan", lambda: rung(cols), LADDER_REPS),
        "salt": _timed(tracer, "exchange.repartition", lambda: rung(salted), LADDER_REPS),
        "identity": _timed(tracer, "boundary.mapInPandas", lambda: rung(
            lambda df: salted(df).mapInPandas(identity, schema)), LADDER_REPS),
        "kernel": _timed(tracer, "operators.extract_documents", lambda: rung(
            lambda df: extract_documents(df, salt_partitions=width)), LADDER_REPS),
    }


def boundary_probe(spark, width: int) -> float:
    """Fixed cost per task wave of an empty Python task, in ms: 4 waves of
    empty ``mapInPandas`` tasks minus the same JVM-only job."""
    tasks = 4 * width
    rng = spark.range(0, tasks, numPartitions=tasks)

    def identity(batches):  # local: shipped by value, like the ladder's
        yield from batches

    def wall(fn) -> float:
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    py = wall(lambda: _noop(rng.mapInPandas(identity, "id long")))
    jvm = wall(lambda: _noop(rng))
    return (py - jvm) / 4 * 1000.0


def stage_layers(spark, tracer: Tracer, seed: int, procs: int, work: str):
    """The training-data rehearsal's JVM-side stages, chained as
    ``run_training_data_pipeline`` chains them (each stage reads the table
    the one before it staged), on seeded webify pages. The first staged
    table is the rehearsal's ``docs`` table built straight from the pages'
    expected text, so no extraction job runs here. Each operator is timed
    on its staged input; returns (metrics, rows lost or invented)."""
    from ocr_award_extractor_spark.operators.dedup import dedup_clusters_df, dedup_exact_df
    from ocr_award_extractor_spark.operators.textstats import (
        fill_missing_lang_df, gopher_gate_df, stratified_sample_df,
    )
    from ocr_award_extractor_spark.plans.full_pipeline import doc_id_expr

    pages = spark.read.parquet(corpus.ensure_corpus("webify", seed, STAGE_DOCS, procs))
    out = os.path.join(work, "stages")

    def stage(name: str, df) -> tuple:
        path = os.path.join(out, name)
        df.write.mode("overwrite").parquet(path)
        staged = spark.read.parquet(path)
        return staged, staged.count()

    docs, n_docs = stage("docs", fill_missing_lang_df(
        pages.select(doc_id_expr(), "url", "text", "lang")))
    rows, res = [n_docs], {}
    t0 = time.perf_counter()
    res["textstats.gopher_s"] = _timed(
        tracer, "textstats.gopher_gate_df", lambda: _noop(gopher_gate_df(docs)))
    gated, n = stage("gated", gopher_gate_df(docs))
    rows.append(n)
    res["dedup.exact_s"] = _timed(
        tracer, "dedup.dedup_exact_df", lambda: _noop(dedup_exact_df(gated)))
    keepers = dedup_exact_df(gated).select(F.col("keeper").alias("doc_id"))
    uniq, n = stage("exact_dedup", gated.join(keepers, "doc_id", "left_semi"))
    rows.append(n)
    before = spark_jobs(spark.sparkContext)
    res["dedup.neardup_s"] = _timed(
        tracer, "dedup.dedup_clusters_df", lambda: _noop(dedup_clusters_df(uniq)))
    res["dedup.neardup_jobs"] = len(spark_jobs(spark.sparkContext) - before)
    comp = dedup_clusters_df(uniq)
    keep = comp.where(F.col("comp") == F.col("doc_id")).select("doc_id")
    kept, n = stage("neardup_dedup", uniq.join(keep, "doc_id", "left_semi"))
    rows.append(n)
    res["textstats.sample_s"] = _timed(
        tracer, "textstats.stratified_sample_df",
        lambda: _noop(stratified_sample_df(kept)))
    picks = stratified_sample_df(kept).select("doc_id")
    _, n = stage("sample", kept.join(picks, "doc_id", "left_semi"))
    rows.append(n)
    res["pipeline.stages_s"] = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    # every stage keeps a subset of its input, the sample is not empty, and
    # the docs table holds every page
    bad = abs(rows[0] - pages.count()) + (rows[-1] == 0)
    bad += sum(max(0, b - a) for a, b in zip(rows, rows[1:]))
    return res, bad


def traced_run(spark, wl, tracer: Tracer, seed: int, procs: int, work: str,
               helper: WidthWorker, calib: list) -> tuple[dict, int, int]:
    """All per-layer metrics for one workload; returns (metrics, docs
    attempted, docs failed)."""
    import pyarrow.parquet as pq

    from ocr_award_extractor_spark.config import SALT_SEED
    from ocr_award_extractor_spark.plans.lineage import verify_lineage

    sc = spark.sparkContext
    width = sc.defaultParallelism
    attempted = failed = 0

    def projection(pending_docs):
        return pending_docs.select("url", "warc_ts", "lang",
                                   F.col("text").alias("ocr_text"), "split_id")

    def commit_only():
        commit_dir = wl.fresh_dir("commit")
        wl.start_job(commit_dir)
        try:
            wl.extract(commit_dir, extract=projection)
        finally:
            shutil.rmtree(commit_dir, ignore_errors=True)

    # untraced pass, the local[1] pass right after it (the scaling pair), a
    # traced pass, the commit-only job and the ladder, then a second
    # untraced pass, so the two untraced passes bracket the ledger's parts
    calib.append(calib_ms())
    untraced = [wl.run_pass()]
    one = helper.run_pass()
    scaling = untraced[0]["docs_per_s"] / (procs * one["docs"] / one["wall_s"])
    calib.append(calib_ms())
    before = spark_jobs(sc)
    with tracer.span(f"lineage.run_resumable_extraction.{wl.name}"):
        traced = wl.run_pass()
    tasks = spark_tasks(sc, spark_jobs(sc) - before)
    commit_only_s = _timed(
        tracer, "lineage.run_resumable_extraction.projection", commit_only, LADDER_REPS)
    lad = ladder(tracer, wl, width)
    calib.append(calib_ms())
    untraced.append(wl.run_pass())
    attempted += one["docs"] + traced["docs"]
    failed += traced["failed"]
    for q in untraced:
        attempted += q["docs"]
        failed += q["failed"]
    job_s = statistics.median(q["wall_s"] for q in untraced)
    m = {"scaling.eff": scaling,
         "boundary.tasks": tasks,
         "trace.overhead_share": (traced["wall_s"] - job_s) / job_s,
         "lineage.commit_only_s": commit_only_s,
         "sources.scan_s": lad["scan"],
         "exchange.salt_s": lad["salt"] - lad["scan"],
         "boundary.identity_s": lad["identity"] - lad["salt"],
         "kernel.spark_s": lad["kernel"] - lad["identity"],
         "lineage.commit_s": job_s - lad["kernel"],
         # the commit-only job scans the pages again, and the kernel rung
         # already holds that scan: count it once
         "ledger.unattributed_share":
             (job_s - lad["kernel"] - (commit_only_s - lad["scan"])) / job_s}

    out = wl.last_out
    n_files = sum(f.endswith(".parquet")
                  for _b, _d, fs in os.walk(os.path.join(out, "data")) for f in fs)
    m["lineage.files_per_split"] = n_files / wl.n_splits
    m["lineage.noop_rerun_s"], rewritten = wl.noop_resume_s(out)
    with tracer.span("lineage.verify_lineage") as s:
        anomalies = verify_lineage(spark, out).count()
    m["lineage.verify_s"] = tracer.seconds(s)
    failed += rewritten + anomalies

    if getattr(wl, "crash", None) is None:
        # the job has no crash leg of its own: crash half-way, then resume
        crash_dir = wl.fresh_dir("crash")
        with tracer.span("lineage.run_resumable_extraction.crash") as s:
            crash = wl.extract(crash_dir, max_batches=wl.n_batches // 2)
        m["lineage.crash_leg_s"] = tracer.seconds(s)
        resumed = wl.extract(crash_dir)["rows_written"]
        shutil.rmtree(crash_dir, ignore_errors=True)
        attempted += resumed
        failed += abs(crash["rows_written"] + resumed - wl.docs)
    else:
        crash, resumed = wl.crash, traced["docs"]
        m["lineage.crash_leg_s"] = wl.crash_leg_s
    m["lineage.recompute_share"] = resumed / max(wl.docs - crash["rows_written"], 1)

    meta = pq.ParquetFile(wl.corpus_path()).metadata
    pruned = {"url", "warc_ts", "lang", "html"}
    m["sources.bytes_per_doc"] = sum(
        meta.row_group(g).column(c).total_compressed_size
        for g in range(meta.num_row_groups) for c in range(meta.num_columns)
        if meta.row_group(g).column(c).path_in_schema in pruned) / meta.num_rows
    counts = sorted(r[1] for r in (
        wl.pages.select("url").repartition(width, F.xxhash64("url", F.lit(SALT_SEED)))
        .groupBy(F.spark_partition_id()).count().collect()))
    m["exchange.skew_ratio"] = counts[-1] / statistics.median(counts)
    m["boundary.task_overhead_ms"] = boundary_probe(spark, width)

    m.update(kernel_layers(wl.corpus_path()))
    stages, stage_failed = stage_layers(spark, tracer, seed, procs, work)
    m.update(stages)
    failed += stage_failed
    return m, attempted, failed
