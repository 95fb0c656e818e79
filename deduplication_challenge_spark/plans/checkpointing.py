"""Checkpoint-mode switch — the cluster-scale fault-tolerance knob.

``localCheckpoint`` pins the materialized data to EXECUTOR-LOCAL storage:
fastest on a healthy cluster (no distributed write), but an executor loss
mid-job kills the query instead of recomputing lineage — acceptable on
local[*], a real fragility for the long CC fixpoint loop and the huge anchor
intermediate on a 1000-executor cluster.  ``checkpoint_mode='reliable'``
switches these pins to ``SparkContext.setCheckpointDir`` +
``checkpoint()``: the CC loop (operators/connected_components.py), the
global-anchor table (operators/suffixarray.py, plans/pipeline.py), the
candidates stage's LSH bucket aggregate (operators/lsh.candidate_pairs) and
SimHash chunk counts (operators/simhash._salted_chunks), and the incremental
delta's pins (plans/incremental.py).  Consolidate's kernel-output pin
(operators/consolidate.py) and the two pins in
operators/product_merge.consolidate_products take no ``cfg`` and stay
executor-local in both modes.  Reliable checkpoints are
HDFS/object-store backed: the materialization survives executor loss and
lineage is truncated identically, at the cost of a distributed write per
checkpoint.  Output is identical in both modes (checkpointing never changes
semantics, only recovery) — tests pin that.

Set the checkpoint dir explicitly on a cluster
(``spark.sparkContext.setCheckpointDir('hdfs://...')``); when unset, the
first reliable checkpoint falls back to a driver-local temp dir (correct on
local[*]; on a real cluster executors cannot read the driver's disk, so the
explicit call is part of cluster deployment, same as choosing a warehouse
path).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame

MODES = ("local", "reliable")


def _mode_of(cfg) -> str:
    mode = cfg if isinstance(cfg, str) else getattr(cfg, "checkpoint_mode", "local")
    if mode not in MODES:
        raise ValueError(f"checkpoint_mode must be one of {MODES}, got {mode!r}")
    return mode


def ensure_checkpoint_dir(spark) -> str:
    """Reliable checkpoints need a checkpoint dir; default one if unset."""
    sc = spark.sparkContext
    cur = sc.getCheckpointDir()
    if not cur:
        cur = tempfile.mkdtemp(prefix="spark_reliable_ckpt_")
        sc.setCheckpointDir(cur)
    return cur


def stage_checkpoint(df: DataFrame, cfg="local", eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` per the configured mode (cfg object or mode str)."""
    if _mode_of(cfg) == "reliable":
        ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def fs_join(*parts: str) -> str:
    """Join path segments with '/' — scheme-preserving (os.path.join would
    mangle 'hdfs://…' and 'file:/…' workdirs; every filesystem Spark writes
    to uses '/' separators)."""
    return "/".join([parts[0].rstrip("/"), *parts[1:]])


def _fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — resolves the
    scheme (none/file/hdfs/s3a/...) exactly as Spark's own writers do, so
    driver-side metadata operations (journals, manifest files, staged
    promotes) work against the SAME store the stage tables live on."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def fs_delete(spark, path: str) -> None:
    """Delete a path through the Hadoop FileSystem API — works for local
    dirs AND HDFS/object-store checkpoint dirs on a real cluster (a plain
    shutil.rmtree would only ever clean the driver's disk)."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def fs_exists(spark, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def fs_mkdirs(spark, path: str) -> None:
    fs, hpath = _fs(spark, path)
    fs.mkdirs(hpath)


def fs_rename(spark, src: str, dst: str) -> None:
    """Rename through the Hadoop FS API; raises on failure (Hadoop's rename
    returns False instead of throwing for most failure modes — a silent
    False mid-promote would corrupt the index, so it is raised loudly)."""
    fs, hsrc = _fs(spark, src)
    _, hdst = _fs(spark, dst)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"Hadoop FS rename failed: {src} -> {dst}")


def fs_listdir(spark, path: str) -> list[tuple[str, int, bool]]:
    """Children of ``path`` as (basename, bytes, is_dir), sorted by name."""
    fs, hpath = _fs(spark, path)
    out = []
    for st in fs.listStatus(hpath):
        p = st.getPath()
        out.append((p.getName(), int(st.getLen()), bool(st.isDirectory())))
    return sorted(out)


def fs_read_text(spark, path: str) -> str:
    """Read a small text file (journal / manifest) through the Hadoop FS."""
    fs, hpath = _fs(spark, path)
    jvm = spark.sparkContext._jvm
    stream = fs.open(hpath)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def fs_write_text(spark, path: str, text: str) -> None:
    """Write a small text file (journal / manifest) through the Hadoop FS
    (create-overwrite; object stores make this a single PUT)."""
    fs, hpath = _fs(spark, path)
    stream = fs.create(hpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def fs_local_path(spark, path: str) -> "str | None":
    """The os-level path when ``path`` resolves to the LOCAL filesystem
    (scheme-less or ``file:``), else None — the switch for optimizations
    that need a real POSIX path (e.g. pyarrow parquet-footer reads for
    per-partition lineage; on a remote store the lineage records names and
    byte sizes from listStatus instead)."""
    fs, hpath = _fs(spark, path)
    scheme = fs.getUri().getScheme()
    if scheme in (None, "file"):
        return hpath.toUri().getPath()
    return None
