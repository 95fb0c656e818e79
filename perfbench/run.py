"""Benchmark of the dedup engine, driven through its public functions only.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 1 --trace 0

Workloads (see README.md):
  crawl_full     a fresh ``DedupPipeline.run`` over a seeded pages corpus;
                 its traced run also attaches a seeded batch to the index
                 that run left (``IncrementalDedup.run``);
  product_merge  ``consolidate_products(products_from_documents(...))`` over a
                 seeded documents table of the reference's size.

A run sets up one Spark session, then repeats whole rounds of the workload's
operations until ``--seconds`` have passed (at least one round), checking
every operation's output outside the timed spans.  An operation whose output
fails a check counts as failed and makes ``correct`` false; an operation
that raises ends the run with a traceback and a non-zero exit.  The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``.  Inputs are generated from the seed in a separate
process and cached under the cache root (see ``gen.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # leave the benchmark's directory as checked out
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))  # the checkout, for the program itself

import checks  # noqa: E402  (benchmark-local modules, importable from any cwd)
import gen  # noqa: E402
import layers  # noqa: E402
from layers import dir_mb, read_pages  # noqa: E402
from spans import Tracer  # noqa: E402

CHECKOUT = gen.CHECKOUT
WORKLOADS = ("crawl_full", "product_merge")
_MB = 1e6


# --------------------------------------------------------------------------
# process-level measurements
# --------------------------------------------------------------------------

def _is_pyspark_worker(pid: str) -> bool:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        cmd = f.read()
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class WorkerRss:
    """Samples the peak resident set (VmHWM) of every PySpark Python worker
    process while the run lasts; /proc is only read.  Each process's command
    line is read once, so a sample costs little next to the work measured."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._other: set[str] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def sample(self) -> None:
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or pid in self._other:
                continue
            try:
                if int(pid) not in self.pids and not _is_pyspark_worker(pid):
                    self._other.add(pid)
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            self.pids.add(int(pid))
                            break
            except OSError:
                continue  # the process ended between listing and reading

    def wait_gone(self, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not any(os.path.exists(f"/proc/{p}") for p in self.pids):
                return
            time.sleep(0.1)


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def spark_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the Spark JVM and its Python workers.

    Workers that ended were reaped by the PySpark daemon, so their time is
    in the daemon's children fields; live workers count their own.  The
    JVM's children fields hold its launcher's time."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            if int(pid) != jvm_pid and not _is_pyspark_worker(pid):
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between listing and reading
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


# --------------------------------------------------------------------------
# Spark session lifetime
# --------------------------------------------------------------------------

def task_slots() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str) -> None:
    """Keep every file Spark and Python write inside the cache root, and let
    the Python workers import the package from the checkout."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [CHECKOUT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    import tempfile

    tempfile.tempdir = tmp


def start_session(root: str):
    from deduplication_challenge_spark.session import build_session

    return build_session(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def timed_setup(root: str) -> tuple:
    """Starts the session; -> (spark, figures).  Set-up started the Spark
    JVM, its launcher and its Python workers, so all the CPU time they used
    so far is set-up's, added to the driver's main thread's.  The load
    average and the hypervisor's steal are recorded as for an operation."""
    from pyspark import SparkContext

    before, steal0 = loadavg(), steal_s()
    t0, c0 = time.perf_counter(), time.thread_time()
    spark = start_session(root)
    wall, cpu = time.perf_counter() - t0, time.thread_time() - c0
    cpu += spark_cpu_s(SparkContext._gateway.proc.pid)
    return spark, {"before": before, "after": loadavg(), "s": wall, "cpu_s": cpu,
                   "steal_s": steal_s() - steal0}


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Run:
    """State shared by one run's rounds."""

    def __init__(self, spark, tracer, inputs: str, work: str, seed: int) -> None:
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.ops: list[dict] = []

    def timed(self, name: str, fn):
        """Times one operation; records the load average, the Spark CPU time
        and the hypervisor's steal around it."""
        before, steal0 = loadavg(), steal_s()
        with self.tracer.span(name):
            cpu0, t0 = spark_cpu_s(self.jvm_pid), time.perf_counter()
            out = fn()
            dt, cpu = time.perf_counter() - t0, spark_cpu_s(self.jvm_pid) - cpu0
        self.ops.append({"op": name, "before": before, "after": loadavg(), "s": dt,
                           "cpu_s": cpu, "steal_s": steal_s() - steal0})
        return out, dt


def _pages_rows(path: str) -> list[dict]:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text", "warc_ts", "lang"])
    t = t.set_column(2, "warc_ts", pc.cast(t["warc_ts"], "int64"))
    return t.to_pylist()


def crawl_full_round(run: Run, k: int) -> dict:
    """A fresh full pipeline run over the index corpus."""
    from pyspark.sql import functions as F

    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.plans.pipeline import DedupPipeline

    spark = run.spark
    index_path = os.path.join(run.inputs, "index.parquet")
    wd = os.path.join(run.work, f"round{k}", "index")

    def full():
        pages = read_pages(spark, index_path)
        return DedupPipeline(spark, DedupConfig(), wd).run(
            pages, input_desc=f"perfbench:{run.seed}")

    (canonical, report), full_s = run.timed("pipeline", full)

    # --- checks, outside the timed span
    pages = _pages_rows(index_path)
    records = [r.asDict() for r in canonical.select(
        "cluster_id", "url", "text", F.unix_micros("warc_ts").alias("warc_ts"),
        "langs", "member_urls").collect()]
    return {
        "ops": [("pipeline", full_s)],
        "checkpoint_mb": dir_mb(wd),
        "problems": {"pipeline": checks.check_crawl_full(pages, _golden(run.inputs), records)},
        "report": report,
        "index_dir": wd,
        "index_urls": {p["url"] for p in pages},
        "index_cluster_ids": {r["cluster_id"] for r in records},
    }


def crawl_attach(run: Run, rnd: dict) -> None:
    """The incremental layer: attach the seeded batch to the index the
    round's pipeline run left, then check the attach.  Traced runs only."""
    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.plans.incremental import IncrementalDedup

    spark, wd = run.spark, rnd["index_dir"]
    batch_path = os.path.join(run.inputs, "batch.parquet")
    out = os.path.join(os.path.dirname(wd), "attach")
    index_before = checks.fingerprint(wd)

    def attach():
        batch = read_pages(spark, batch_path)
        updates, assignments, _bridges, rep = IncrementalDedup(spark, DedupConfig(), wd).run(batch)
        updates.write.parquet(os.path.join(out, "updates"))
        assignments.write.parquet(os.path.join(out, "assignments"))
        return rep

    rnd["attach_report"], attach_s = run.timed("incremental", attach)
    rnd["ops"].append(("incremental", attach_s))
    updates = [r.asDict() for r in
               spark.read.parquet(os.path.join(out, "updates")).select("member_urls").collect()]
    assignments = [r.asDict() for r in
                   spark.read.parquet(os.path.join(out, "assignments")).collect()]
    rnd["problems"]["incremental"] = checks.check_crawl_attach(
        rnd["index_urls"], _pages_rows(batch_path), _golden(run.inputs),
        rnd["index_cluster_ids"], assignments, updates, index_before, checks.fingerprint(wd))


def _golden(inputs: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(inputs, "golden.parquet")).to_pylist()


def product_round(run: Run, k: int) -> dict:
    from deduplication_challenge_spark.operators.product_merge import consolidate_products
    from deduplication_challenge_spark.sources.pages import read_documents
    from deduplication_challenge_spark.sources.products import products_from_documents

    spark = run.spark
    out = os.path.join(run.work, f"round{k}", "products")

    def merge():
        docs = read_documents(spark, run.inputs)
        consolidate_products(products_from_documents(docs)).write.parquet(out)

    _, merge_s = run.timed("product_merge", merge)
    got = flatten_products(spark.read.parquet(out))
    got_rows = [tuple(r) for r in got.collect()]
    want_rows, want_cols = product_oracle(run.inputs)
    return {
        "ops": [("product_merge", merge_s)],
        "checkpoint_mb": dir_mb(out),
        "out_dir": out,
        "problems": {"product_merge": checks.check_products(
            got_rows, got.columns, want_rows, want_cols)},
    }


def flatten_products(df):
    """The scalar projection the SQL oracle computes (same column names)."""
    from pyspark.sql import functions as F

    return df.select(
        "product_identifier", "id",
        F.col("group_size").cast("long").alias("group_size"),
        "brand", "unspsc", "root_domain", "product_name", "product_title",
        F.length(F.coalesce("description", F.lit(""))).cast("long").alias("desc_len"),
        F.length(F.coalesce("product_summary", F.lit(""))).cast("long").alias("summary_len"),
        "page_url",
        F.array_join("intended_industries", "|").alias("industries_str"),
        F.array_join("materials", "|").alias("materials_str"),
        F.array_join(F.transform("eco_friendly", lambda x: x.cast("string")), "|")
        .alias("eco_str"),
        F.array_join(F.transform("manufacturing_year", lambda x: x.cast("string")), "|")
        .alias("year_str"),
        F.array_join("source_urls", "|").alias("urls_str"),
    )


def product_oracle(inputs: str) -> tuple[list[tuple], list[str]]:
    import duckdb

    from deduplication_challenge_spark.entry_queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        path = os.path.join(inputs, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(ORACLE_SQL["consolidated_products"])
        return res.fetchall(), [d[0] for d in res.description]
    finally:
        con.close()


ROUNDS = {"crawl_full": crawl_full_round, "product_merge": product_round}


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def ensure_inputs(root: str, workload: str, seed: int) -> str:
    path = gen.input_dir(root, workload, seed)
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--root", root],
            check=True, stdout=subprocess.DEVNULL, timeout=300,
        )
    return path


def end_to_end(setup: dict, run: Run, rounds: list[dict], rss: WorkerRss) -> dict:
    # set-up and the first operation are reported in CPU seconds: their wall
    # times swing with the hypervisor's steal on a shared host (see README.md)
    return {
        "setup_s": (setup["cpu_s"], "s"),
        "first_op_cpu_s": (run.ops[0]["cpu_s"], "s"),
        "worker_peak_rss_mb": (rss.peak_kb * 1024 / _MB, "MB"),
        "checkpoint_mb": (statistics.median(r["checkpoint_mb"] for r in rounds), "MB"),
    }


def run_rounds(workload: str, run: Run, seconds: float, trace: bool, result: dict) -> list[dict]:
    """Whole rounds until ``seconds`` have passed; checks each round."""
    rounds: list[dict] = []
    deadline = time.monotonic() + seconds
    while not rounds or time.monotonic() < deadline:
        rnd = ROUNDS[workload](run, len(rounds))
        rounds.append(rnd)
        if trace and workload == "crawl_full":
            crawl_attach(run, rnd)
        result["attempted"] += len(rnd["ops"])
        for op, problems in rnd["problems"].items():
            for p in problems:
                print(f"CHECK FAILED {op}: {p}", file=sys.stderr)
            if problems:
                result["failed"] += 1
                result["correct"] = False
        if trace:
            # one traced round: its spans and the layer replay give the figures
            layers.replay(workload, run, rnd)
            break
    return rounds


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="dedup engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(CHECKOUT, "deduplication_challenge_spark")):
        print(f"no program to benchmark: {CHECKOUT}/deduplication_challenge_spark is missing",
              file=sys.stderr)
        return 2

    root = gen.cache_root()
    inputs = ensure_inputs(root, a.workload, a.seed)
    work = os.path.join(root, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    prepare_env(root)

    result = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    trace_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    try:
        with WorkerRss() as rss:
            spark, setup = timed_setup(root)
            try:
                run = Run(spark, Tracer(spark, trace_id, bool(a.trace)), inputs, work, a.seed)
                rounds = run_rounds(a.workload, run, a.seconds, bool(a.trace), result)
                env = {
                    "nproc": os.cpu_count(), "task_slots": spark.sparkContext.defaultParallelism,
                    "spark_version": spark.version, "setup": setup, "ops": run.ops,
                }
                if a.trace:
                    metrics = layers.per_layer(a.workload, run.tracer, rounds[0], setup["s"])
                    traces = os.path.join(root, "traces")
                    os.makedirs(traces, exist_ok=True)
                    run.tracer.write(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"),
                                     {"workload": a.workload, "seed": a.seed, "env": env})
                else:
                    metrics = end_to_end(setup, run, rounds, rss)
            finally:
                stop_session(spark)
        rss.wait_gone(30)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print("perfbench-env " + json.dumps(env))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
