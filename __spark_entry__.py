"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-dup pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` expose every SQL-expressible operator from
SURVEY.md §2 for the driver's DuckDB differential check at sf0.01 (tables
pre-registered: region nation customer supplier part orders lineitem events
documents embeddings). Non-SQL-expressible ops (MinHash/SimHash signatures,
LSH clustering, connected components) have queries() entries without oracle
SQL -> rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline (signatures -> LSH -> verify -> CC ->
    consolidate) over pages derived from sf0.001 documents."""
    import shutil
    import tempfile

    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.plans.pipeline import DedupPipeline
    from deduplication_challenge_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    workdir = tempfile.mkdtemp(prefix="dedup_entry_")
    try:
        # substring partitioning comes from the pinned config (determinism)
        pipe = DedupPipeline(spark, DedupConfig(), workdir, include_substring=True)
        canonical, _ = pipe.run(pages, input_desc="sf0.001")
        # pin the result off the workdir (eager localCheckpoint) BEFORE the
        # stage tables are deleted — the driver collects AFTER we return,
        # and repeated smoke runs must not accumulate stage dirs in /tmp
        return canonical.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from deduplication_challenge_spark import entry_queries

    return entry_queries.QUERIES


def oracle_sql() -> dict[str, str]:
    from deduplication_challenge_spark import entry_queries

    return entry_queries.ORACLE_SQL
