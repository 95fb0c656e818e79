"""build_session: the batch-job JVM profile, the workers' import path, and
warmups that fail loudly."""

from __future__ import annotations

import os
import shlex
import subprocess
import sys

import pytest

from deduplication_challenge_spark.session import (
    JVM_PROFILE,
    _PACKAGE_PARENT,
    _warm_job_machinery,
    jvm_flags,
    session_conf,
    worker_pythonpath,
)


def test_session_jvm_runs_with_profile(spark):
    flags = jvm_flags(spark)
    for flag in shlex.split(JVM_PROFILE):
        assert flag in flags


def test_profile_is_the_default_java_options():
    conf = session_conf(None)
    assert conf == {"spark.driver.extraJavaOptions": JVM_PROFILE}


def test_caller_java_options_follow_the_profile():
    """The JVM applies the last of conflicting flags, so appending keeps the
    profile for everything the caller does not override."""
    caller = {
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4",
        "spark.executorEnv.PYTHONPATH": "vendored",
        "spark.sql.shuffle.partitions": "3",
    }
    conf = session_conf(caller)
    assert conf["spark.driver.extraJavaOptions"] == f"{JVM_PROFILE} -XX:TieredStopAtLevel=4"
    assert conf["spark.executorEnv.PYTHONPATH"] == "vendored"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert caller["spark.driver.extraJavaOptions"] == "-XX:TieredStopAtLevel=4"


def test_package_follows_the_callers_worker_path():
    """The caller's entries keep priority, so a pip-installed package's
    site-packages cannot shadow the caller's own copies."""
    sep = os.pathsep
    assert worker_pythonpath(None) == _PACKAGE_PARENT
    assert worker_pythonpath(f"vendored{sep}deps") == sep.join(
        ["vendored", "deps", _PACKAGE_PARENT])
    assert worker_pythonpath(f"{_PACKAGE_PARENT}{sep}vendored") == sep.join(
        [_PACKAGE_PARENT, "vendored"])


def test_failed_warmup_warns_and_resets_job_description(spark, monkeypatch):
    import deduplication_challenge_spark.operators.ingest as ingest

    def broken(*_args, **_kwargs):
        raise RuntimeError("extraction unavailable")

    monkeypatch.setattr(ingest, "extract_pages", broken)
    with pytest.warns(RuntimeWarning, match="RuntimeError: extraction unavailable"):
        _warm_job_machinery(spark, 2)
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


_PROBE = """
import sys
import warnings

sys.path.insert(0, {root!r})
from pyspark.sql import functions as F

from deduplication_challenge_spark.session import build_session

with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    spark = build_session("import-probe", master="local[1]", shuffle_partitions=1)
failed = [str(w.message) for w in caught if "warmup failed" in str(w.message)]


@F.udf("string")
def imports(_):
    import os

    import deduplication_challenge_spark
    import probe_dep

    path = os.environ["PYTHONPATH"].split(os.pathsep)
    order = path.index({deps!r}) < path.index({root!r})
    return f"{{deduplication_challenge_spark.__name__}} {{probe_dep.NAME}} {{order}}"


print("PROBE", spark.range(1).select(imports("id")).first()[0], failed)
spark.stop()
"""


def test_workers_import_package_from_any_directory(tmp_path):
    """A session started outside the repository with no PYTHONPATH, launched
    with a ``spark.executorEnv.PYTHONPATH`` of its own (as spark-submit or
    spark-defaults.conf would pass it): the warmup and a UDF importing the
    package and the launched path's module both run on the workers, and the
    launched path comes first."""
    deps = tmp_path / "deps"
    deps.mkdir()
    (deps / "probe_dep.py").write_text('NAME = "dep"\n')
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_SUBMIT_ARGS=f"--conf spark.executorEnv.PYTHONPATH={deps} pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=_PACKAGE_PARENT, deps=str(deps))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    line = next((ln for ln in out.stdout.splitlines() if ln.startswith("PROBE ")), None)
    assert line == "PROBE deduplication_challenge_spark dep True []", out.stderr[-3000:]
