"""SparkSession factory with the engine's pinned runtime configuration."""

from __future__ import annotations

import os
import shlex
import warnings

from pyspark.sql import SparkSession

# Batch-job profile for the driver JVM, which in local[N] also runs every
# task (README "JVM profile").  The throughput collector replaces G1, whose
# concurrent threads cost a cold operation CPU that a one-shot job gets
# nothing for.  jit_directives.json keeps C2 off code that runs a fixed
# amount per query (Janino, the SQL parser, class loading), where over a
# third of a cold run's C2 compile time went.  Code whose work grows with
# the rows keeps C2: stopping the whole JIT at C1 made a 1M-doc run a third
# slower.  DisplayVMOutputToStderr keeps the JVM's "directives added" line
# off stdout.  The profile takes effect only when build_session launches
# the JVM: under spark-submit the JVM is already running and the submitted
# conf applies.
_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_JIT_DIRECTIVES = os.path.join(_PACKAGE_DIR, "jit_directives.json")
JVM_PROFILE = (
    "-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions "
    f"-XX:CompilerDirectivesFile={shlex.quote(_JIT_DIRECTIVES)} -XX:+DisplayVMOutputToStderr"
)

# the directory that holds the package: appended to the Python workers'
# path so they import it whatever the caller's working directory
_PACKAGE_PARENT = os.path.dirname(_PACKAGE_DIR)


def session_conf(extra_conf: dict | None = None) -> dict:
    """``extra_conf`` with the JVM profile merged in.  A caller's
    ``spark.driver.extraJavaOptions`` is appended after the profile, and the
    JVM applies the last of conflicting flags, so the caller still wins."""
    conf = dict(extra_conf or {})
    java_opts = conf.get("spark.driver.extraJavaOptions")
    conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, [JVM_PROFILE, java_opts]))
    return conf


def worker_pythonpath(path: str | None) -> str:
    """The Python workers' PYTHONPATH: ``path`` with the package's directory
    appended unless already on it.  Appending keeps the caller's entries
    first, so a path from ``extra_conf`` or a submitted
    ``spark.executorEnv.PYTHONPATH`` still wins."""
    entries = [p for p in (path or "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in entries:
        entries.append(_PACKAGE_PARENT)
    return os.pathsep.join(entries)


def jvm_flags(spark: SparkSession) -> list[str]:
    """The ``-XX`` flags the session's JVM was started with."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return [a for a in bean.getInputArguments() if a.startswith("-XX")]


def build_session(
    app_name: str = "dedup-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[$SPARK_GRAFT_CPUS] by default; on a real cluster the master is
    supplied by spark-submit and this builder only pins SQL conf (the JVM
    profile in ``session_conf`` applies only to a JVM launched here)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # the bench/correctness drivers collect() full query results; the
        # 1g default would fail a multi-million-row result (e.g. the LSH
        # pair table at large scale factors) long before driver memory does
        .config("spark.driver.maxResultSize", os.environ.get("SPARK_DRIVER_MAX_RESULT", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in session_conf(extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # the workers' environment as the context resolved it from the launched
    # conf (spark-submit, spark-defaults.conf, extra_conf); every Python UDF
    # ships this dict to its workers
    env = spark.sparkContext.environment
    env["PYTHONPATH"] = worker_pythonpath(env.get("PYTHONPATH"))
    if os.environ.get("SPARK_GRAFT_NO_WARMUP") != "1":
        _warm_job_machinery(spark, int(cpus))
    return spark


def _warm_job_machinery(spark: SparkSession, cpus: int) -> None:
    """Pay the session's one-time JVM job machinery costs on synthetic rows.

    The FIRST job that touches each major code path pays Python worker spawn,
    class loading and whole-stage-codegen compilation for it: the Arrow UDF
    workers, parquet output committer + writer, parquet footer/scan reader,
    Arrow eval serialization, and the hash-aggregate pipeline.  Measured at
    the sf0.1 bench, the pipeline's first stage (ingest) absorbed all of it:
    build+write 3.8s cold vs 0.74s warm, counters agg 1.1s vs 0.55s.  This
    runs one ~``cpus``-row synthetic frame through the same shipped operators
    the first stage uses (html wrap UDF -> extraction UDF -> parquet write ->
    read-back -> countDistinct), in a temp dir that is deleted before
    returning.  No input table is read and no query result survives — warm
    classes and codegen caches only, the session-scope analogue of guide
    §4.5's init-once-per-task.  SPARK_GRAFT_NO_WARMUP=1 disables it."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="dedup_warmup_")
    try:
        from deduplication_challenge_spark.operators.ingest import extract_pages
        from deduplication_challenge_spark.sources.pages import _wrap_html

        spark.sparkContext.setJobDescription("session warmup: job machinery")
        syn = spark.range(0, cpus, 1, cpus).select(
            F.concat(F.lit("https://warm.example/doc/"), F.col("id")).alias("url"),
            (F.lit("2025-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
            _wrap_html(F.concat(F.lit("warm text "), F.col("id").cast("string"))).alias("html"),
            F.concat(F.lit("warm text "), F.col("id").cast("string")).alias("text"),
            F.lit("en").alias("lang"),
        )
        extract_pages(syn, recompute_text=True).write.mode("overwrite").parquet(f"{tmp}/w")
        spark.read.parquet(f"{tmp}/w").agg(
            F.countDistinct("url"), F.countDistinct("doc_id")
        ).collect()
    except Exception as e:
        # best-effort: never fail session construction, but say so, since
        # the first real operation then pays what the warmup did not
        first_line = (str(e).strip().splitlines() or [""])[0]
        warnings.warn(
            f"session warmup failed ({type(e).__name__}: {first_line}); "
            "the first operation pays its set-up",
            RuntimeWarning,
            stacklevel=3,
        )
    finally:
        spark.sparkContext.setJobDescription(None)
        shutil.rmtree(tmp, ignore_errors=True)
