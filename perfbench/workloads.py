"""The benchmark's workloads: one production job each, on seeded pages.

* ``crawl_extract`` — ``run_resumable_extraction`` from an empty output
  over seeded ``fixture_gen`` pages: scan → salted ``extract_documents``
  → partitioned write → lineage commit. It holds the most kernel work of
  the two, though at this page count per-batch fixed costs still take most
  of a pass.
* ``crash_resume`` — fewer pages cut into many splits and batches. A
  ``max_batches`` crash leg runs once, untimed; each timed pass copies the
  crashed output and times the resume leg on the copy. Resume time is
  set by the lineage read, the anti-join and the per-batch
  write/checksum/commit, with little kernel work.

A workload object opens its corpus, runs passes and checks its outputs;
the same object runs the ``local[1]`` side of the scaling probe.
A pass returns its timings and the number of docs it found wrong
(rows missing or duplicated, lineage anomalies).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import corpus

CRAWL_PAGES = 3000
CRASH_PAGES = 2000


def dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for base, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def text_failures(pages, out_dir: str) -> int:
    """Docs whose committed text is missing, duplicated or not
    byte-identical to the corpus ``text`` (error rows commit NULL text,
    which must match an empty expected text). One Spark job."""
    from ocr_award_extractor_spark.plans.lineage import read_committed

    got = (read_committed(pages.sparkSession, out_dir)
           .groupBy("url")
           .agg(F.count(F.lit(1)).alias("n"),
                F.first(F.coalesce(F.col("ocr_text"), F.lit(""))).alias("got")))
    return (pages.select("url", F.col("text").alias("want"))
            .join(got, "url", "full")
            .where(~F.col("want").eqNullSafe(F.col("got")) | (F.col("n") != 1))
            .count())


def lineage_anomalies(spark, out_dir: str) -> int:
    from ocr_award_extractor_spark.plans.lineage import verify_lineage

    return verify_lineage(spark, out_dir).count()


class Workload:
    """Common shape: ``open`` (set-up), ``run_pass`` (warm-up or timed) and
    ``final_check`` (after the timed passes)."""

    kind = "fixture"
    n_pages = 0
    warm_passes = 3        # untimed passes after the first touch (run.py)
    n_splits = 16
    n_batches = 4

    def __init__(self, spark, work: str, seed: int, procs: int):
        self.spark, self.work, self.seed, self.procs = spark, work, seed, procs
        self.pages = None
        self.last_out = None
        self._n = 0

    def prepare(self) -> dict | None:
        """The job's first, untimed touch: one full pass. It pays the cold
        costs (Python worker start-up, JVM class loading, code generation)
        and warms the exact plans the timed passes run."""
        return self.run_pass()

    def corpus_path(self) -> str:
        return corpus.ensure_corpus(self.kind, self.seed, self.n_pages, self.procs)

    def open(self) -> None:
        import pyarrow.parquet as pq

        path = self.corpus_path()
        self.pages = self.spark.read.parquet(path)
        self.docs = pq.ParquetFile(path).metadata.num_rows

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def extract(self, out_dir: str, **kw) -> dict:
        from ocr_award_extractor_spark.plans.lineage import run_resumable_extraction

        return run_resumable_extraction(
            self.spark, self.pages, out_dir, "perfbench",
            n_splits=self.n_splits, n_batches=self.n_batches, **kw)

    def start_job(self, out_dir: str) -> None:
        """Lay out ``out_dir`` for the workload's job (empty by default)."""

    def job_batches(self) -> list[list[int]]:
        """The split batches the job commits, in run_resumable_extraction's
        order (pending splits dealt round-robin into n_batches)."""
        pending = sorted(set(range(self.n_splits)) - self.committed_before())
        return [b for b in (pending[i::self.n_batches] for i in range(self.n_batches)) if b]

    def committed_before(self) -> set[int]:
        return set()

    def keep(self, out_dir: str) -> None:
        """Keep the newest pass output for ``final_check``; drop the older."""
        if self.last_out and self.last_out != out_dir:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out_dir

    def final_check(self) -> int:
        """Failed docs in the newest output: wrong or missing text, lineage
        anomalies, and rows a restart on the complete output rewrites."""
        return (text_failures(self.pages, self.last_out)
                + lineage_anomalies(self.spark, self.last_out)
                + self.extract(self.last_out)["rows_written"])

    def noop_resume_s(self, out_dir: str, reps: int = 5) -> tuple[float, int]:
        """Median wall of restarting the job on a complete output; returns
        (seconds, rows wrongly rewritten)."""
        walls, rewritten = [], 0
        for _ in range(reps):
            t0 = time.perf_counter()
            r = self.extract(out_dir)
            walls.append(time.perf_counter() - t0)
            rewritten += r["rows_written"]
        return statistics.median(walls), rewritten


class CrawlExtract(Workload):
    name = "crawl_extract"
    n_pages = CRAWL_PAGES

    def run_pass(self) -> dict:
        out = self.fresh_dir("crawl")
        t0 = time.perf_counter()
        r = self.extract(out)
        job_s = time.perf_counter() - t0
        self.keep(out)
        # the job starts on an empty output: a resume with no split
        # committed yet, so its wall is this workload's resume_s
        return {
            "wall_s": job_s,
            "docs": r["rows_written"],
            "docs_per_s": r["rows_written"] / job_s,
            "resume_s": job_s,
            "out_bytes_per_doc": dir_bytes(os.path.join(out, "data"),
                                           os.path.join(out, "_lineage"))
            / max(r["rows_written"], 1),
            "failed": abs(self.docs - r["rows_written"]),
        }


class CrashResume(Workload):
    name = "crash_resume"
    n_pages = CRASH_PAGES
    n_splits = 32
    n_batches = 4
    crash_batches = 2
    # its passes take ~2.5 s against ~3.5 s, so more of them fit a run
    warm_passes = 4

    def prepare(self) -> dict | None:
        # the crash leg is the job's first touch here
        self.crashed = os.path.join(self.work, "crashed")
        shutil.rmtree(self.crashed, ignore_errors=True)
        t0 = time.perf_counter()
        self.crash = self.extract(self.crashed, max_batches=self.crash_batches)
        self.crash_leg_s = time.perf_counter() - t0
        return None

    def start_job(self, out_dir: str) -> None:
        shutil.copytree(self.crashed, out_dir)

    def committed_before(self) -> set[int]:
        from ocr_award_extractor_spark.plans.lineage import committed_splits

        return {r["split_id"] for r in committed_splits(self.spark, self.crashed).collect()}

    def run_pass(self) -> dict:
        out = self.fresh_dir("resume")
        self.start_job(out)
        t0 = time.perf_counter()
        r = self.extract(out)
        resume_s = time.perf_counter() - t0
        self.keep(out)
        committed = self.crash["rows_written"] + r["rows_written"]
        return {
            "wall_s": resume_s,
            "docs": r["rows_written"],
            "docs_per_s": r["rows_written"] / resume_s,
            "resume_s": resume_s,
            "out_bytes_per_doc": dir_bytes(os.path.join(out, "data"),
                                           os.path.join(out, "_lineage"))
            / max(committed, 1),
            "failed": abs(self.docs - committed),
        }


WORKLOADS = {w.name: w for w in (CrawlExtract, CrashResume)}
