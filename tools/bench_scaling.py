"""Scaling-efficiency evidence (north rule: throughput scaling efficiency
>= 0.8 between cluster sizes N and 4N).

No real multi-executor cluster exists in this sandbox (BASELINE.md), so the
same job runs at two parallelism levels — local[8] (N) and local[32] (4N) —
on the same input, in FRESH subprocesses (fresh JVM each, so neither run
inherits the other's warmed executors).

Input: a deterministic scaled corpus derived executor-parallel from the
driver's sf0.1 documents table — each doc replicated R times with a small
token perturbation per replica (creating genuine near-dup clusters of size
R), written once to parquet and reused by both runs. Protocol per
BASELINE.md: warm-up run excluded, median of >= 3 runs, identical pinned
config.

Usage:
  python tools/bench_scaling.py                 # orchestrate, print JSON
  python tools/bench_scaling.py --worker N ...  # internal: one timed run
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = int(os.environ.get("SCALING_REPLICAS", "100"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# cache key includes replicas + source sf so a stale corpus from a
# different scale can never be silently reused across runs
CORPUS_DIR = os.environ.get(
    "SCALING_CORPUS_DIR",
    f"/tmp/dedup_scaling_corpus_{os.path.basename(SF_DIR.rstrip('/'))}_x{REPLICAS}",
)
RUNS = int(os.environ.get("SCALING_RUNS", "3"))
# N and 4N parallelism levels. Default 2->8: hardware calibration (see
# BASELINE.md) shows this shared VM saturates at ~8-16 concurrent
# memory/IO streams, so 8->32 measures the host, not the pipeline.
LEVELS = tuple(int(x) for x in os.environ.get("SCALING_LEVELS", "2,8").split(","))


def build_corpus() -> None:
    """Deterministic scaled pages table, generated executor-parallel."""
    from pyspark.sql import functions as F

    from deduplication_challenge_spark.session import build_session

    if os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        return
    spark = build_session("scaling-corpus", master="local[32]", shuffle_partitions=32)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = (
        docs.select(
            "doc_id", "text", "lang", "source",
            F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("rep"),
        )
        .select(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                F.col("doc_id"), F.lit("/r"), F.col("rep"),
            ).alias("url"),
            (F.lit("2025-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=(F.col("doc_id") * 100 + F.col("rep")).cast("double"))
             ).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            # per-replica token perturbation: replicas are near-dups of each
            # other (high Jaccard), forming genuine R-member clusters
            F.concat(
                F.col("text"), F.lit(" replica marker "),
                F.col("rep").cast("string"), F.lit(" of "), F.col("doc_id").cast("string"),
            ).alias("text"),
            F.col("lang"),
        )
        .repartition(64)
    )
    pages.write.mode("overwrite").parquet(CORPUS_DIR)
    spark.stop()


def one_run(cpus: int) -> dict:
    """One timed pipeline run in THIS process (invoked as --worker)."""
    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.plans.pipeline import DedupPipeline
    from deduplication_challenge_spark.session import build_session, jvm_flags

    spark = build_session(
        f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus * 2
    )
    flags = jvm_flags(spark)
    pages = spark.read.parquet(CORPUS_DIR)
    n_docs = pages.count()
    workdir = tempfile.mkdtemp(prefix=f"dedup_scale_{cpus}_")
    # substring partition count comes from the pinned config (determinism
    # across parallelism levels)
    pipe = DedupPipeline(spark, DedupConfig(), workdir, include_substring=True)
    t0 = time.monotonic()
    canonical, report = pipe.run(pages, input_desc=f"scaling:{CORPUS_DIR}")
    n_out = canonical.count()
    e2e = time.monotonic() - t0
    spark.stop()
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    return {
        "cpus": cpus,
        "seconds": round(e2e, 2),
        "docs": n_docs,
        "docs_per_sec": round(n_docs / e2e, 1),
        "canonical": n_out,
        "stages": {k: round(v.seconds, 2) for k, v in report.stages.items()},
        "jvm_flags": flags,
    }


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        print("WORKER_RESULT " + json.dumps(one_run(int(sys.argv[2]))))
        return

    build_corpus()
    results: dict[int, list[dict]] = {lvl: [] for lvl in LEVELS}
    # INTERLEAVED schedule (warmup pair first, then lo,hi per round): the
    # shared VM's external tenant load drifts on ~10-minute timescales, so
    # running all lo-level runs then all hi-level runs lets a load ramp
    # land entirely on one level and bias the ratio — interleaving exposes
    # both levels to the same ambient profile.  Set SCALING_ORDER=blocked
    # for the old sequential schedule.
    if os.environ.get("SCALING_ORDER", "interleave") == "interleave":
        schedule = [(c, 0) for c in LEVELS]  # warm-up pair
        for i in range(1, RUNS + 1):
            schedule += [(c, i) for c in LEVELS]
    else:
        schedule = [(c, i) for c in LEVELS for i in range(RUNS + 1)]
    for cpus, i in schedule:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cpus)],
            capture_output=True, text=True, timeout=3600,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        line = next(
            (ln for ln in out.stdout.splitlines() if ln.startswith("WORKER_RESULT ")),
            None,
        )
        if line is None:
            print(out.stdout[-2000:], file=sys.stderr)
            print(out.stderr[-4000:], file=sys.stderr)
            raise RuntimeError(f"worker failed (cpus={cpus}, run={i})")
        r = json.loads(line[len("WORKER_RESULT "):])
        with open("/proc/loadavg") as f:
            r["loadavg_after"] = f.read().split()[:3]
        tag = "warmup" if i == 0 else f"run{i}"
        print(f"[{tag}] cpus={cpus} {r['seconds']}s {r['docs_per_sec']} docs/s "
              f"load={r['loadavg_after']}", file=sys.stderr)
        if i > 0:
            results[cpus].append(r)

    lo, hi = LEVELS
    med8 = statistics.median(r["seconds"] for r in results[lo])
    med32 = statistics.median(r["seconds"] for r in results[hi])
    efficiency = (med8 / med32) / (hi / lo)
    summary = {
        "metric": f"scaling_efficiency_local{lo}_vs_local{hi}",
        "docs": results[lo][0]["docs"],
        "replicas": REPLICAS,
        "runs_per_level": RUNS,
        "levels": list(LEVELS), "median_seconds_lo": med8,
        "median_seconds_hi": med32,
        "docs_per_sec_lo": round(results[lo][0]["docs"] / med8, 1),
        "docs_per_sec_hi": round(results[lo][0]["docs"] / med32, 1),
        "speedup": round(med8 / med32, 3),
        "efficiency": round(efficiency, 3),
        "target": 0.8,
        "passes": efficiency >= 0.8,
        "all_runs": results,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
