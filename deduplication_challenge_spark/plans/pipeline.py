"""End-to-end dedup pipeline with per-stage checkpointing, lineage manifests
and counters (north rule: "resumable from checkpoint with per-partition
lineage + metrics").

Resume model (SURVEY.md §7.6 — batch re-entrancy, not Structured Streaming):
every stage materializes ``{workdir}/{stage}/`` as parquet plus a
``manifest.json`` carrying the stage fingerprint = sha256(config_hash,
stage name, upstream fingerprint, input descriptor). On rerun, a stage whose
manifest fingerprint matches is SKIPPED and its table reused; the first
stage whose fingerprint differs (config change, new input, deleted table)
re-executes and invalidates everything downstream. Counters (docs scanned,
signatures emitted, pairs verified, clusters merged — names fixed by the
north_star) are persisted in each manifest.

The catalog layer is plain parquet + JSON manifests because this sandbox has
no Iceberg runtime jar (SURVEY.md §7.0); on a real cluster the writer swaps
to ``df.writeTo('catalog.db.t').append()`` with the manifest fields mapping
onto Iceberg snapshot metadata — an environment swap, not a redesign.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.plans.checkpointing import (
    fs_delete,
    fs_exists,
    fs_join,
    fs_listdir,
    fs_local_path,
    fs_mkdirs,
    fs_read_text,
    fs_write_text,
    stage_checkpoint,
)
from deduplication_challenge_spark.operators import lsh, simhash, suffixarray, verify
from deduplication_challenge_spark.operators.connected_components import connected_components
from deduplication_challenge_spark.operators.consolidate import attach_clusters, consolidate
from deduplication_challenge_spark.operators.ingest import extract_pages
from deduplication_challenge_spark.operators.signatures import compute_signatures

STAGES = [
    "urldedup", "ingest", "linededup", "signatures",
    "candidates", "verify", "cc", "consolidate",
]
# 'urldedup' runs only when cfg.url_dedup is True and 'linededup' only when
# cfg.line_dedup_min_docs is set; all other stages are unconditional.  The
# substring pass (include_substring=True) additionally persists its
# winnowed anchor table to {workdir}/anchors as a SIDE OUTPUT of the
# candidates stage (the substring index the incremental delta pass joins
# new batches against) — written inside the stage from the same
# checkpointed frame the pair derivation consumes, so persistence costs one
# parquet write, not a stage boundary + read-back


@dataclass
class StageInfo:
    name: str
    path: str
    rows: int
    seconds: float
    skipped: bool
    counters: dict = field(default_factory=dict)


@dataclass
class RunReport:
    stages: dict[str, StageInfo] = field(default_factory=dict)

    @property
    def counters(self) -> dict:
        out: dict = {}
        for s in self.stages.values():
            out.update(s.counters)
        return out

    def to_dict(self) -> dict:
        return {
            name: {
                "rows": s.rows,
                "seconds": round(s.seconds, 3),
                "skipped": s.skipped,
                "counters": s.counters,
            }
            for name, s in self.stages.items()
        }


class DedupPipeline:
    """Orchestrates ingest -> signatures -> candidates -> verify -> cc ->
    consolidate with resume-from-manifest."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        workdir: str,
        include_substring: bool = True,
        recompute_text: bool = True,
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.workdir = workdir
        self.include_substring = include_substring
        # False = trust the shipped text column (pure column pruning — the
        # scan never reads html; the scale-correct plan when extraction
        # already happened upstream). True exercises the byte-identical
        # html->text invariant end-to-end.
        self.recompute_text = recompute_text
        # all driver-side workdir metadata goes through the Hadoop FS API
        # (plans/checkpointing.py) so the same pipeline runs against a
        # driver-local dir, a file:-scheme URI, HDFS, or an object store —
        # the workdir lives where the stage parquet lives, never only on
        # the driver's disk
        fs_mkdirs(spark, workdir)

    # --- manifest plumbing -------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return fs_join(self.workdir, stage)

    def _manifest_path(self, stage: str) -> str:
        return fs_join(self.workdir, f"{stage}.manifest.json")

    def _fingerprint(self, stage: str, upstream_fp: str, input_desc: str) -> str:
        payload = "|".join(
            [self.cfg.config_hash(), stage, upstream_fp, input_desc,
             f"recompute_text={self.recompute_text}"]
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:24]

    def _load_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not fs_exists(self.spark, p):
            return None
        try:
            return json.loads(fs_read_text(self.spark, p))
        except Exception:
            # corrupted/unreadable manifest (killed mid-write, FS hiccup)
            # -> rebuild the stage; JSON and Hadoop-stream errors alike
            return None

    def _run_stage(
        self,
        report: RunReport,
        stage: str,
        upstream_fp: str,
        input_desc: str,
        build: "callable",
        counters_fn: "callable | None" = None,
    ) -> tuple[DataFrame, str]:
        """Build-or-reuse one stage table; returns (df, fingerprint)."""
        fp = self._fingerprint(stage, upstream_fp, input_desc)
        path = self._stage_dir(stage)
        manifest = self._load_manifest(stage)
        if manifest and manifest.get("fingerprint") == fp and fs_exists(self.spark, path):
            df = self.spark.read.parquet(path)
            report.stages[stage] = StageInfo(
                stage, path, manifest["rows"], 0.0, True, manifest.get("counters", {})
            )
            return df, fp
        t0 = time.monotonic()
        # invalidate the OLD manifest before touching the data: a crash
        # between the overwrite below and the new manifest write would
        # otherwise leave stale-manifest + new-data, and a later run with
        # the old config would silently reuse the wrong table
        mp = self._manifest_path(stage)
        if fs_exists(self.spark, mp):
            fs_delete(self.spark, mp)
        df = build()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        rows = out.count()  # parquet metadata count — no full scan
        seconds = time.monotonic() - t0
        counters = counters_fn(out, rows) if counters_fn else {}
        # per-partition lineage: file names + byte sizes from the Hadoop FS
        # listing; file-level ROW COUNTS from the parquet footers when the
        # table is on the local filesystem (pyarrow metadata read — no data
        # scan).  On a remote store footer reads would need a remote-capable
        # pyarrow filesystem; lineage then records rows=None rather than
        # paying a per-file data scan — names+bytes still localize a
        # corrupt/short partition on resume.
        local = fs_local_path(self.spark, path)
        files = []
        for name, size, _is_dir in fs_listdir(self.spark, path):
            if not name.endswith(".parquet"):
                continue
            nrows = None
            if local is not None:
                import pyarrow.parquet as pq

                nrows = pq.ParquetFile(f"{local}/{name}").metadata.num_rows
            files.append({"file": name, "bytes": size, "rows": nrows})
        fs_write_text(
            self.spark,
            self._manifest_path(stage),
            json.dumps(
                {
                    "stage": stage,
                    "fingerprint": fp,
                    "config_hash": self.cfg.config_hash(),
                    "upstream": upstream_fp,
                    "input": input_desc,
                    "rows": rows,
                    "seconds": round(seconds, 3),
                    "counters": counters,
                    "partitions": files,
                },
                indent=2,
            ),
        )
        report.stages[stage] = StageInfo(stage, path, rows, seconds, False, counters)
        return out, fp

    # --- the pipeline -------------------------------------------------------
    def run(self, pages: DataFrame, input_desc: str = "pages") -> tuple[DataFrame, RunReport]:
        cfg = self.cfg
        report = RunReport()

        def ingest_counters(df: DataFrame, rows: int) -> dict:
            # doc_id = xxhash64(url): a 64-bit collision (birthday bound
            # ~4B docs) would silently merge distinct urls into one doc_id
            # and corrupt cluster membership — audit it per run.  At 10^12
            # docs collisions are certain; the scale path keeps url as the
            # authoritative key (consolidate carries member_urls) and this
            # counter makes any collision visible instead of silent.
            audit = df.agg(
                F.countDistinct("url").alias("u"),
                F.countDistinct("doc_id").alias("d"),
            ).collect()[0]
            return {
                "docs_scanned": rows,
                "distinct_urls": int(audit["u"]),
                "distinct_doc_ids": int(audit["d"]),
                "doc_id_collisions": int(audit["u"]) - int(audit["d"]),
            }

        fp = ""
        if cfg.url_dedup:
            # cheapest pre-stage: collapse trivially-equivalent urls BEFORE
            # extraction so repeat crawls never pay the html->text pass
            from deduplication_challenge_spark.operators.urlnorm import dedup_by_url

            def urldedup_counters(df: DataFrame, rows: int) -> dict:
                return {"pages_after_url_dedup": rows}

            pages, fp = self._run_stage(
                report, "urldedup", fp, input_desc,
                lambda: dedup_by_url(pages).drop("canonical_url"),
                urldedup_counters,
            )

        docs, fp = self._run_stage(
            report, "ingest", fp, input_desc,
            lambda: extract_pages(pages, recompute_text=self.recompute_text),
            ingest_counters,
        )

        if cfg.line_dedup_min_docs:
            # optional sub-document pre-stage: boilerplate lines (>= min_docs
            # distinct docs) removed BEFORE signatures — dedup then measures
            # similarity of the content that is unique to each page, and the
            # shared-paragraph hot LSH buckets never form in the first place
            from deduplication_challenge_spark.operators.linededup import dedup_lines

            # dedup_lines REQUIRES unique doc_id (its groupBy(doc_id) rebuild
            # would interleave two versions' paragraphs into one text, and the
            # rebuild join below would fan rows out).  doc_id = xxhash64(url),
            # so a url crawled twice in one batch violates the precondition —
            # the ingest audit already counts exactly this.  When collisions
            # exist, collapse to ONE row per doc_id first: keep the latest
            # (warc_ts, then text/lang as total-order tie-breaks) — the same
            # last-write-wins rule the incremental path pins for re-crawls —
            # and record how many rows were collapsed (never silent).
            ingest_collisions = int(
                report.stages["ingest"].counters.get("doc_id_collisions", 0)
            )
            docs_rows = int(report.stages["ingest"].counters.get("docs_scanned", 0))
            distinct_ids = int(
                report.stages["ingest"].counters.get("distinct_doc_ids", docs_rows)
            )
            has_dup_ids = ingest_collisions > 0 or docs_rows != distinct_ids

            def build_linededup() -> DataFrame:
                uniq = docs
                if has_dup_ids:
                    epoch = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
                    pick = F.max(
                        F.struct(
                            F.coalesce("warc_ts", epoch).alias("k_ts"),
                            F.col("text").alias("k_text"),
                            F.col("lang").alias("k_lang"),
                            F.col("url"),
                            F.col("warc_ts"),
                            F.col("text"),
                            F.col("lang"),
                        )
                    ).alias("w")
                    uniq = docs.groupBy("doc_id").agg(pick).select(
                        "doc_id", "w.url", "w.warc_ts", "w.text", "w.lang"
                    )
                deduped = dedup_lines(
                    uniq.select("doc_id", "text"), min_docs=cfg.line_dedup_min_docs
                )
                return uniq.drop("text").join(deduped, "doc_id")

            def linededup_counters(df: DataFrame, rows: int) -> dict:
                agg = df.agg(
                    F.sum("n_lines").alias("t"),
                    F.sum("n_removed").alias("r"),
                    F.sum((F.col("n_removed") > 0).cast("long")).alias("c"),
                ).collect()[0]
                return {
                    "lines_total": int(agg["t"] or 0),
                    "lines_removed": int(agg["r"] or 0),
                    "docs_line_deduped": int(agg["c"] or 0),
                    # rows collapsed by the duplicate-doc_id last-write-wins
                    # pre-step (0 when the batch had unique doc ids)
                    "docs_collapsed_dup_doc_id": docs_rows - rows if has_dup_ids else 0,
                }

            deduped_docs, fp = self._run_stage(
                report, "linededup", fp, f"min_docs={cfg.line_dedup_min_docs}",
                build_linededup,
                linededup_counters,
            )
            docs = deduped_docs.drop("n_lines", "n_removed")

        sigs, fp = self._run_stage(
            report, "signatures", fp, "docs",
            lambda: compute_signatures(docs, cfg),
            lambda df, rows: {"signatures_emitted": rows},
        )

        anchors_path = self._stage_dir("anchors")

        # stats frames built alongside the edges (sharing the checkpointed
        # band/chunk tables) and collected in candidate_counters AFTER the
        # stage materializes — the band table is generated once per run,
        # never re-derived for the counters pass
        stats_holder: dict[str, DataFrame] = {}

        def build_candidates() -> DataFrame:
            # NOTE: no separate exact-dup edge source — byte-identical docs
            # have identical signatures, co-bucket in every LSH band, and
            # verify at estimated Jaccard 1.0, so LSH+verify provably covers
            # them.
            # The band table is deliberately NOT materialized: it is a
            # posexplode inside whole-stage codegen over the narrow
            # signatures parquet — recomputing it for the stats aggregate
            # is cheaper than storing a bands-per-doc-times-corpus exploded
            # table (16 rows/doc = 16T rows at 10^12 docs; executor
            # storage could never hold it, and at 1M the materialization
            # measurably cost more than the second codegen pass).
            bands = lsh.band_table(sigs)
            lsh_edges, stats_holder["lsh"] = lsh.candidate_pairs(bands, cfg)
            sim_edges, stats_holder["simhash"] = simhash.hamming_pairs(sigs, cfg)
            lsh_tagged = lsh_edges.select("src", "dst", F.lit("lsh").alias("origin"))
            sim_tagged = sim_edges.select("src", "dst", F.lit("simhash").alias("origin"))
            parts = [lsh_tagged, sim_tagged]
            if self.include_substring:
                # the winnowed anchor table is PERSISTED as a side output
                # ({workdir}/anchors) — it is the substring index the
                # incremental delta pass equi-joins new batches against.  It
                # is written from the same checkpointed frame the pair
                # derivation reads, INSIDE this stage: one kernel run, one
                # parquet write, and the two pair consumers (mins aggregate,
                # probe join) serve from the checkpoint — a separate anchors
                # stage measured +12-18s at 1M/local[8] (stage boundary +
                # double parquet read-back) and cost the N->4N efficiency
                # ~0.05
                anchors = stage_checkpoint(suffixarray.anchor_table(docs, cfg), cfg)
                anchors.write.mode("overwrite").parquet(anchors_path)
                sub = suffixarray.substring_pairs_from_anchors(anchors, cfg)
                parts.append(sub.select("src", "dst", F.lit("substring").alias("origin")))
            elif fs_exists(self.spark, anchors_path):
                # a previous run with the substring pass left an anchor
                # table; it no longer matches this run's candidates — remove
                # it so the incremental path can never join stale anchors
                fs_delete(self.spark, anchors_path)
            allp = parts[0]
            for p in parts[1:]:
                allp = allp.unionByName(p)
            return allp

        def candidate_counters(df: DataFrame, rows: int) -> dict:
            per_origin = {
                f"pairs_{r['origin']}": r["n"]
                for r in df.groupBy("origin").agg(F.count("*").alias("n")).collect()
            }
            # no-silent-caps contract: simhash hot-group splits are pinned
            # SEMANTIC events and must reach the manifest (with the LSH
            # bucket counts), not just the modules' return values.  The
            # frames were built in build_candidates over the
            # SAME checkpointed band/chunk tables the edges consumed —
            # collecting them here runs two small aggregates over already-
            # materialized data, off the stage's write path, with no table
            # regeneration.
            ls = stats_holder["lsh"].collect()[0].asDict()
            ss = stats_holder["simhash"].collect()[0].asDict()
            out = {
                "pairs_candidates": rows,
                **per_origin,
                **{f"lsh_{k}": int(v or 0) for k, v in ls.items()},
                **{f"simhash_{k}": int(v or 0) for k, v in ss.items()},
            }
            if self.include_substring:
                # parquet-metadata count of the persisted substring index
                out["anchors_emitted"] = self.spark.read.parquet(anchors_path).count()
            return out

        candidates, fp = self._run_stage(
            report, "candidates", fp,
            f"substring={self.include_substring}",
            build_candidates,
            candidate_counters,
        )

        def build_verified() -> DataFrame:
            # only LSH candidates need Jaccard verification; exact/substring
            # pairs are verified by construction, simhash by Hamming check
            lsh_pairs = candidates.where(F.col("origin") == "lsh").select("src", "dst")
            other = candidates.where(F.col("origin") != "lsh").select("src", "dst")
            ver = verify.verify_pairs(lsh_pairs, sigs, cfg).select("src", "dst")
            return ver.unionByName(other).distinct()

        verified, fp = self._run_stage(
            report, "verify", fp, "pairs",
            build_verified,
            lambda df, rows: {"pairs_verified": rows},
        )

        def build_cc() -> DataFrame:
            # Right-size CC's first contraction from the manifest (free row
            # count of the materialized verify table): fewer input
            # partitions contract better — a node contributes one output
            # row per partition it appears in — so coalesce the
            # parquet-backed scan down to the fewest tasks that still
            # respect the kernel's per-task edge bound.  coalesce (no
            # shuffle) is safe here precisely because the edges are a
            # stage table, not a live plan; at real scale the needed task
            # count exceeds the scan's partitioning and this is a no-op.
            # Without this, the contracted-set size — and CC's cost —
            # varied with the session's shuffle-partition count.
            import math

            from deduplication_challenge_spark.operators.connected_components import (
                SINGLE_TASK_EDGE_LIMIT,
            )

            e = verified.select("src", "dst")
            n_edges = report.stages["verify"].rows
            k = max(1, math.ceil(n_edges / SINGLE_TASK_EDGE_LIMIT))
            if k < e.rdd.getNumPartitions():
                e = e.coalesce(k)
            return connected_components(e, checkpoint_mode=cfg.checkpoint_mode)

        assignments, fp = self._run_stage(
            report, "cc", fp, "edges",
            build_cc,
            lambda df, rows: {"nodes_clustered": rows},
        )

        canonical, fp = self._run_stage(
            report, "consolidate", fp, "canonical",
            lambda: consolidate(attach_clusters(docs, assignments), cfg.min_group_size),
            lambda df, rows: {
                "canonical_records": rows,
                "clusters_merged": df.where(F.col("n_members") >= 2).count(),
            },
        )
        return canonical, report
