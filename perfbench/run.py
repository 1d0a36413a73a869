"""Benchmark of the extraction engine.

    python3 perfbench/run.py --workload <crawl_extract|crash_resume> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The seed makes the workload's pages
(generated once per seed into ``perfbench/.cache/``, outside the timed
set-up). One run:

1. starts a ``local[nproc]`` session, opens the pages, makes the job's
   first touch and runs a fixed number of untimed warm-up passes (all of
   it is ``setup_s``);
2. with ``--trace 0`` times passes for ``--seconds`` (at least three) and
   reports the medians of the end-to-end metrics; with ``--trace 1`` runs
   the per-layer ledger instead (ledger.py);
3. checks the outputs: committed text per url against the corpus,
   ``verify_lineage``, rows per pass and stage. Any failure exits 1.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. A fuller record — every
pass with the host-speed probe beside it, the spans of a traced run and
the code revision — goes to ``perfbench/.results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "resume_s": "s",
    "worker_rss_mb": "MB",
    "out_bytes_per_doc": "B/doc",
}
PER_LAYER = {
    "sources.scan_s": "s", "sources.bytes_per_doc": "B/doc",
    "exchange.salt_s": "s", "exchange.skew_ratio": "ratio",
    "boundary.identity_s": "s", "boundary.task_overhead_ms": "ms",
    "boundary.tasks": "count",
    "htmltext.segment_docs_per_s": "docs/s", "htmltext.page_docs_per_s": "docs/s",
    "htmltext.repair_share": "ratio", "extract.fields_docs_per_s": "docs/s",
    "batching.frame_ms": "ms", "kernel.docs_per_s_core": "docs/s",
    "kernel.spark_s": "s",
    "lineage.commit_s": "s", "lineage.commit_only_s": "s",
    "lineage.files_per_split": "count", "lineage.recompute_share": "ratio",
    "lineage.noop_rerun_s": "s", "lineage.verify_s": "s", "lineage.crash_leg_s": "s",
    "textstats.gopher_s": "s", "dedup.exact_s": "s", "dedup.neardup_s": "s",
    "dedup.neardup_jobs": "count", "textstats.sample_s": "s",
    "pipeline.stages_s": "s",
    "scaling.eff": "ratio",
    "jvm_rss_mb": "MB",
    "host.calib_ms": "ms", "host.calib_spread": "ratio",
    "trace.overhead_share": "ratio", "ledger.unattributed_share": "ratio",
}

# Untimed passes after the first touch: each workload's ``warm_passes``.
# The job keeps getting faster for several passes: over eight seeded
# crawl_extract runs the passes after the cold one ran at 1.46, 1.20, 1.22,
# 1.11, 1.08, 1.09, 1.01 times the steady wall. A stop rule on the walls
# themselves stops early whenever host noise makes two unwarmed passes look
# alike, so the count is fixed, as high as a run's time budget allows. A traced run reports no set-up time and brackets its ledger with
# untraced passes of its own, so it warms up with fewer passes.
TRACE_WARM_PASSES = 3
MIN_PASSES = 3


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def warm_up(wl, parts: dict, n_passes: int) -> list[dict]:
    """The workload's untimed first touch, then ``n_passes`` untimed
    passes. Returns every pass run (the first touch too, where it is one)."""
    t0 = time.perf_counter()
    first = wl.prepare()
    parts["prepare_s"] = time.perf_counter() - t0
    passes = [first] if first else []
    for i in range(n_passes):
        passes.append(wl.run_pass())
        log(f"  warm-up pass {i + 1}: {passes[-1]['wall_s']:.3f} s")
    return passes


def timed_passes(wl, seconds: float, calib_ms) -> list[dict]:
    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        before = calib_ms()
        p = wl.run_pass()
        p["calib_ms"] = [before, calib_ms()]
        passes.append(p)
        log(f"  pass {len(passes)}: {p['wall_s']:.3f} s, {p['docs_per_s']:.1f} docs/s, "
            f"resume {p['resume_s']:.3f} s, calib {p['calib_ms'][0]:.2f}/{p['calib_ms'][1]:.2f} ms")
    return passes


def run(args, procs: int, work: str, record: dict) -> tuple[dict, int, int]:
    """One benchmark run; returns (metrics, attempted, failed)."""
    import corpus
    from ledger import STAGE_DOCS, Tracer, WidthWorker, traced_run
    from probes import RssSampler, calib_ms, spread
    from session import jvm_pid, start_session, stop_session
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    corpus.ensure_corpus(cls.kind, args.seed, cls.n_pages, procs)
    if args.trace:
        corpus.ensure_corpus("webify", args.seed, STAGE_DOCS, procs)
    record["corpus_s"] = time.perf_counter() - t0

    helper = None
    if args.trace:
        helper = WidthWorker(args.workload, args.seed, 1, os.path.join(work, "width1"))
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(os.path.join(work, "main"), procs)
        parts = record["setup_parts"] = {"session_s": time.perf_counter() - t_setup}
        with RssSampler(jvm_pid(spark)) as rss:
            wl = cls(spark, os.path.join(work, "main", "out"), args.seed, procs)
            wl.open()
            parts["open_s"] = time.perf_counter() - t_setup - parts["session_s"]
            warm = warm_up(wl, parts,
                           TRACE_WARM_PASSES if args.trace else wl.warm_passes)
            setup_s = time.perf_counter() - t_setup
            record["setup_s"] = setup_s
            record["warm_up"] = warm
            attempted = sum(p["docs"] for p in warm)
            failed = sum(p["failed"] for p in warm)
            calib = []
            if args.trace:
                helper.ready()
                tracer = Tracer()
                metrics, n_att, n_bad = traced_run(
                    spark, wl, tracer, args.seed, procs, work, helper, calib)
                record["spans"] = tracer.spans
                attempted += n_att
                failed += n_bad
            else:
                passes = timed_passes(wl, args.seconds, calib_ms)
                record["passes"] = passes
                calib = [c for p in passes for c in p["calib_ms"]]
                attempted += sum(p["docs"] for p in passes)
                failed += sum(p["failed"] for p in passes)
            failed += wl.final_check()
        if args.trace:
            metrics["jvm_rss_mb"] = rss.jvm_peak_kb / 1024.0
            metrics["host.calib_ms"] = statistics.median(calib)
            metrics["host.calib_spread"] = spread(calib)
        else:
            metrics = {
                "setup_s": setup_s,
                "docs_per_s": statistics.median(p["docs_per_s"] for p in passes),
                "resume_s": statistics.median(p["resume_s"] for p in passes),
                "worker_rss_mb": rss.workers_peak_kb / 1024.0,
                "out_bytes_per_doc": statistics.median(
                    p["out_bytes_per_doc"] for p in passes),
            }
            record["calib"] = {"median_ms": statistics.median(calib),
                               "spread": spread(calib)}
        return metrics, attempted, failed
    finally:
        if helper is not None:
            helper.close()
        if spark is not None:
            stop_session(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_extract", "crash_resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocr_award_extractor_spark")):
        log(f"no engine package under {ROOT}: run from the root of a checkout")
        return 2

    from probes import code_rev

    procs = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "procs": procs, "code_rev": code_rev(ROOT),
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    log(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"local[{procs}] code_rev={record['code_rev']}")
    try:
        metrics, attempted, failed = run(args, procs, work, record)
        error = None
    except Exception:
        error = traceback.format_exc()
        log(error)
        metrics, attempted, failed = {}, 1, 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": error is None and failed == 0,
        "attempted": max(int(attempted), 1),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()} if error is None else {},
    }
    record.update(result=result, error=error)
    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    name = f"{record['started']}_{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}.json"
    with open(os.path.join(results, name), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    log(f"failed_share={result['failed'] / result['attempted']:.6f} "
        f"({result['failed']} of {result['attempted']} docs); record {name}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
